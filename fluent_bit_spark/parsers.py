"""Parsers: the scan+project stage.

Reference: parser registry src/flb_parser.c:148-348, dispatcher
``flb_parser_do`` :1044; regex parser src/flb_parser_regex.c:114-227 with
named-capture-to-key extraction via Onigmo (src/flb_regex.c:306
``onig_foreach_name``); JSON parser src/flb_parser_json.c:29-199; logfmt
src/flb_parser_logfmt.c:40-200; LTSV src/flb_parser_ltsv.c; decoders
src/flb_parser_decoder.c; typecast src/flb_typecast.c:27-46.

Shared semantics (src/flb_parser_regex.c:44-113 ``cb_results``):
* all captured values are strings unless a ``Types`` cast applies;
* empty captures are dropped when ``skip_empty_values`` (default TRUE,
  src/flb_parser.c:545-549); non-participating optional groups never
  produce a key;
* if ``time_fmt`` is set, the ``time_key`` (default "time") capture is
  parsed into the record timestamp and removed unless ``time_keep``;
  an unparseable time drops the key and leaves the timestamp unset.

Execution strategy (Spark-first): ``RegexParser.apply`` picks the path
from the parser itself, there is no engine switch.
* ``skip_empty_values=true`` (the default): names are stripped to group
  indices driver-side and the whole parse stays inside whole-stage
  codegen (one packed ``regexp_replace`` pass, or one
  ``regexp_extract`` per group). Exactly equivalent to the reference,
  where ""-valued and non-participating keys are both dropped.
* ``skip_empty_values=false``: an Arrow-batched pandas UDF using
  ``pd.Series.str.extract``, which tells a non-participating group
  (null) from an empty match (""). Java's ``regexp_extract``/``$n``
  return "" for both, so this is the one input the JVM path cannot
  express.
* ``webtext.extract_parse_arrow`` runs the same regex fused with html
  extraction in one ``mapInArrow`` crossing (skip_empty_values only).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .sqltext import sql_col, sql_ident, sql_str
from .timefmt import parse_time

# ---------------------------------------------------------------------------
# pattern plumbing
# ---------------------------------------------------------------------------

_NAMED_GROUP = re.compile(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>")


def onig_to_python(pattern: str) -> str:
    """Onigmo ``(?<name>...)`` -> Python ``(?P<name>...)``. The parsers.conf
    corpus uses no Onigmo-only constructs beyond this."""
    p = pattern
    if p.startswith("/") and p.endswith("/"):
        p = p[1:-1]  # syslog-rfc3164 pattern is slash-wrapped (parsers.conf:86)
    return _NAMED_GROUP.sub(lambda m: f"(?P<{m.group(1)}>", p)


def strip_names(pattern: str) -> tuple[str, dict[str, int]]:
    """Remove group names (Java forbids '_' in them) and map name->index.

    Index counts every opening '(' that starts a capturing group, in
    order, matching both Onigmo and java.util.regex numbering.
    """
    p = pattern
    if p.startswith("/") and p.endswith("/"):
        p = p[1:-1]
    out: list[str] = []
    name_to_idx: dict[str, int] = {}
    idx = 0
    i = 0
    n = len(p)
    while i < n:
        ch = p[i]
        if ch == "\\" and i + 1 < n:
            out.append(p[i : i + 2])
            i += 2
            continue
        if ch == "[":
            # character class: copy until unescaped ']'
            j = i + 1
            if j < n and p[j] == "^":
                j += 1
            if j < n and p[j] == "]":
                j += 1
            while j < n and p[j] != "]":
                if p[j] == "\\":
                    j += 1
                j += 1
            out.append(p[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            m = _NAMED_GROUP.match(p, i)
            if m:
                idx += 1
                name_to_idx[m.group(1)] = idx
                out.append("(")
                i = m.end()
                continue
            if p[i : i + 2] == "(?":
                out.append(ch)  # non-capturing / lookaround
                i += 1
                continue
            idx += 1
            out.append("(")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out), name_to_idx


# ---------------------------------------------------------------------------
# parser specs
# ---------------------------------------------------------------------------


# Total (never-throwing) string->number conversions with the C-library
# leading-parse semantics flb_typecast.c relies on. Spark 4 runs ANSI
# mode: a plain CAST throws CAST_INVALID_INPUT on the first malformed
# value ('' included), so one garbage record would fail the task — and
# with deterministic input, the whole job. These expressions are total
# AND match the reference: strtoimax/atof parse the longest valid
# leading run ("12abc" -> 12), they don't all-or-nothing like CAST.
# C isspace set (incl. \x0B vertical tab), shared by every leading parse
_C_WS = r"[ \t\n\r\f\x0B]*"
_STRTOL_LEAD = rf"^{_C_WS}([+-]?[0-9]+)"
_STRTOUL_LEAD = rf"^{_C_WS}\+?([0-9]+)"
_ATOF_LEAD = rf"^{_C_WS}([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)"
_HEX_LEAD = rf"^{_C_WS}\+?(?:0[xX])?([0-9a-fA-F]+)"


def strtol_long(c: Column) -> Column:
    """``strtoimax(str, NULL, 10)`` as a total Catalyst expression.

    try_cast runs first so an ALREADY-NUMERIC input converts exactly
    (a double renders as scientific notation — '1.2345678E7' — and a
    string leading-digit parse of that would yield 1, not 12345678);
    for strings it succeeds precisely on clean integral text, where it
    equals the C parse. The fallback is the strtol leading parse: skip
    leading whitespace, longest signed-decimal run, no digits -> null.
    flb_typecast.c:100-104 additionally treats a parsed 0 as a
    conversion ERROR (keeping the original value) — that quirk
    conflates legitimate zeros with failures and has no typed-column
    equivalent, so 0 parses as 0 here. Overflow -> null (strtoimax
    clamps to INTMAX instead)."""
    return F.coalesce(
        c.try_cast("long"),
        F.regexp_extract(c.cast("string"), _STRTOL_LEAD, 1).try_cast("long"),
    )


def strtoul_long(c: Column) -> Column:
    """``strtoumax(str, NULL, 10)``: unsigned parse; no digits -> null.
    The C call wraps a leading '-' through 2^64 (typecast.c uint path)
    — replicating the wrap would manufacture garbage values, so
    negative input is a conversion failure (null) here. Numeric inputs
    convert exactly via try_cast (see strtol_long)."""
    t = c.try_cast("long")
    return F.coalesce(
        F.when(t >= 0, t),
        F.regexp_extract(c.cast("string"), _STRTOUL_LEAD, 1).try_cast("long"),
    )


def atof_double(c: Column) -> Column:
    """``atof()`` as a total expression; GARBAGE -> 0.0 — atof returns
    0.0 and flb_typecast.c:132-137 packs the result with no error
    check, so 'abc' really does convert to 0.0 in the reference. Null
    stays null. Numeric inputs convert exactly via try_cast (see
    strtol_long); for strings try_cast succeeds on clean float text
    (where it equals the C parse — including the inf/nan literals
    atof also accepts) and the longest-leading-float parse covers the
    '1.5x' tail-garbage case."""
    s = F.regexp_extract(c.cast("string"), _ATOF_LEAD, 1)
    return F.when(c.isNull(), F.lit(None).cast("double")).otherwise(
        F.coalesce(c.try_cast("double"), s.try_cast("double"), F.lit(0.0))
    )


def fb_bool(c: Column) -> Column:
    """flb_typecast.c:138-149 bool: ``strncasecmp`` PREFIX match — any
    string starting 'true'/'false' (ASCII case-insensitive) converts
    ('trueX' is true); anything else is a conversion failure -> null."""
    low = F.lower(c.cast("string"))
    return F.when(low.startswith("true"), F.lit(True)).when(
        low.startswith("false"), F.lit(False)
    )


def strtoul_hex(c: Column) -> Column:
    """``strtoumax(str, NULL, 16)``: optional 0x prefix, longest leading
    hex-digit run; no hex digits -> null (the reference's ret=-1 error
    path, flb_typecast.c:121-127). Values above 2^63-1 -> null rather
    than wrapping — which also means bounding conv() to <= 16
    SIGNIFICANT digits first: ANSI conv() itself throws
    ARITHMETIC_OVERFLOW past 2^64, and a long run in the data must not
    fail the task (strtoumax clamps those to UINTMAX, i.e. above 2^63
    -> null here either way). Leading zeros are stripped before the
    bound so zero-padded ids ('00000000000000FF0', 17 digits, value
    4080) convert like strtoumax does; an all-zeros run is the value
    0. try_cast nulls the remaining 2^63..2^64-1 band."""
    s = F.regexp_extract(c.cast("string"), _HEX_LEAD, 1)
    z = F.regexp_replace(s, "^0+", "")
    return (
        F.when(s == "", F.lit(None).cast("long"))
        .when(z == "", F.lit(0).cast("long"))
        .when(F.length(z) <= 16, F.conv(z, 16, 10).try_cast("long"))
    )


@dataclass(frozen=True)
class TypeCast:
    """Types option entry: ``key int|uint|float|bool|string|hex``
    (include/fluent-bit/flb_typecast.h:29-36). Conversion failure is
    null — the reference keeps the original msgpack value in place
    (parser typecast error path), which a typed column can't express."""

    key: str
    to: str

    def apply(self, c: Column) -> Column:
        if self.to in ("int", "integer"):
            return strtol_long(c)
        if self.to == "uint":
            return strtoul_long(c)
        if self.to == "float":
            return atof_double(c)
        if self.to in ("bool", "boolean"):
            return fb_bool(c)
        if self.to == "hex":
            return strtoul_hex(c)
        return c


@dataclass(frozen=True)
class RegexParser:
    """Fluent Bit [PARSER] Format regex."""

    name: str
    regex: str
    time_key: str = "time"
    time_fmt: Optional[str] = None
    time_keep: bool = False
    time_offset: Optional[str] = None
    types: Sequence[TypeCast] = field(default_factory=tuple)
    skip_empty_values: bool = True

    def group_names(self) -> list[str]:
        return _NAMED_GROUP.findall(
            self.regex[1:-1]
            if self.regex.startswith("/") and self.regex.endswith("/")
            else self.regex
        )

    def apply(
        self,
        df: DataFrame,
        source_col: str,
        *,
        ts_col: str = "__parsed_ts",
        prefix: str = "",
        assume_year: int = 2024,
    ) -> DataFrame:
        """Project one column per named group (+ parsed timestamp).

        Missing keys surface as SQL NULL (never ""): under the default
        skip_empty_values, ""-captures are nulled out too, matching the
        reference's key-drop (cb_results, flb_parser_regex.c:57-60).
        With skip_empty_values off, an empty capture stays "" and only a
        non-participating group is NULL — the pandas path, since the
        JVM regex returns "" for both.
        """
        names = self.group_names()
        if self.skip_empty_values:
            df, cols = self._jvm_extract(df, sql_col(source_col), names)
        else:
            df, cols = self._pandas_extract(df, source_col, names)

        return self.finish(
            df, cols, ts_col=ts_col, prefix=prefix, assume_year=assume_year
        )

    def finish(
        self,
        df: DataFrame,
        cols: dict[str, str],
        *,
        ts_col: str = "__parsed_ts",
        prefix: str = "",
        assume_year: int = 2024,
    ) -> DataFrame:
        """Post-extraction half of :meth:`apply` — time lookup
        (cb_results time_key branch), type casts, column projection.
        Shared by both extraction paths and by the fused extraction+parse
        path (webtext.extract_parse_arrow), whose group columns arrive as
        real columns rather than expressions.

        ``cols`` maps each group name to its value as SQL text. The
        output is one projection (plus the drop of the ``__fb_parts``
        helper): a group column that already holds its value under its
        output name is left as it is. Per-column ``withColumn`` calls
        each added a plan node that Spark analyses again, nine of them
        no-ops on the fused path."""
        names = self.group_names()
        if self.time_fmt is not None and self.time_key in names:
            out_ts = parse_time(
                F.expr(cols[self.time_key]), self.time_fmt,
                assume_year=assume_year, time_offset=self.time_offset,
            )
            if not self.time_keep:
                cols = {nm: c for nm, c in cols.items() if nm != self.time_key}
        else:
            out_ts = F.expr("CAST(NULL AS TIMESTAMP)")

        casts = {t.key: t for t in self.types}
        new: dict[str, Column] = {}
        for nm, c in cols.items():
            if nm in casts:
                new[prefix + nm] = casts[nm].apply(F.expr(c))
            elif c != sql_ident(prefix + nm):
                new[prefix + nm] = F.expr(c)
        new[ts_col] = out_ts
        out = df.withColumns(new)
        return out.drop("__fb_parts") if "__fb_parts" in df.columns else out

    # ASCII record separator: never a regex metachar, vanishingly rare in
    # log text; rows containing it take the per-group fallback path.
    _SEP = "\x1e"

    def _jvm_extract(
        self, df: DataFrame, src: str, names: list[str]
    ) -> tuple[DataFrame, dict[str, str]]:
        """All capture groups in ONE regex pass.

        An anchored pattern is rewritten into a regexp_replace whose
        replacement packs every group ($i) joined by a sentinel; one
        split recovers all fields: 1 regex execution per row instead of
        1 rlike + N regexp_extract (the naive form re-runs the pattern
        per group — the dominant CPU + allocation cost of the parse
        stage at scale). The parts array is materialized as a REAL
        column first: CollapseProject refuses to inline an expensive
        expression referenced N times, so it evaluates once per row —
        referencing it from inside per-field when() branches instead
        would defeat codegen subexpression elimination (conditional
        branches are never hoisted) and re-run the regex per field.
        Rows containing the sentinel fall back lazily to per-group
        extraction; non-anchored patterns always use the per-group path.
        ""-captures (empty or non-participating) become NULL: the
        skip_empty_values key-drop this path is chosen for. ``src`` and
        the returned group values are SQL text.
        """
        stripped, name_to_idx = strip_names(self.regex)
        rx = sql_str(stripped)

        def slow(nm: str) -> str:
            return (
                f"CASE WHEN {src} RLIKE {rx}"
                f" THEN regexp_extract({src}, {rx}, {name_to_idx[nm]}) END"
            )

        anchored = stripped.startswith("^") and stripped.endswith("$")
        cols: dict[str, str] = {}
        if anchored and len(names) > 1:
            sep = sql_str(self._SEP)
            repl = sql_str(self._SEP.join(f"${name_to_idx[nm]}" for nm in names))
            df = df.withColumn(
                "__fb_parts", F.expr(f"split(regexp_replace({src}, {rx}, {repl}), {sep}, -1)")
            )
            for j, nm in enumerate(names):
                # unmatched sentinel-free line -> 1 part: try_element_at
                # (ANSI-safe) gives null past the end; field 0 needs the
                # match gate
                fast = f"try_element_at(`__fb_parts`, {j + 1})"
                if j == 0:
                    fast = f"CASE WHEN size(`__fb_parts`) = {len(names)} THEN {fast} END"
                cols[nm] = f"CASE WHEN contains({src}, {sep}) THEN {slow(nm)} ELSE {fast} END"
        else:
            cols = {nm: slow(nm) for nm in names}
        return df, {nm: f"CASE WHEN {c} = '' THEN NULL ELSE {c} END" for nm, c in cols.items()}

    def _pandas_extract(
        self, df: DataFrame, source_col: str, names: list[str]
    ) -> tuple[DataFrame, dict[str, str]]:
        """skip_empty_values=false: python re reports a non-participating
        group as NaN (-> NULL) and an empty capture as "", the reference's
        key-absent vs empty-value distinction. The UDF's struct lands in
        the ``__fb_parts`` helper column; the group values are its
        fields, as SQL text."""
        pat = onig_to_python(self.regex)
        fields = ", ".join(f"`{n}` string" for n in names)

        @pandas_udf(f"struct<{fields}>")
        def extract(s: pd.Series) -> pd.DataFrame:
            rx = re.compile(pat)
            res = s.str.extract(rx, expand=True)
            return res.reindex(columns=names)

        df = df.withColumn("__fb_parts", extract(F.col(source_col)))
        return df, {n: f"`__fb_parts`.{sql_ident(n)}" for n in names}


@dataclass(frozen=True)
class JsonParser:
    """Format json (src/flb_parser_json.c:29-199): JSON object -> keys; the
    time_key is consumed like the regex parser. Known-schema fast path via
    from_json; dynamic records go through fbrecord/json_to_body."""

    name: str
    time_key: str = "time"
    time_fmt: Optional[str] = None
    time_keep: bool = False
    types: Sequence[TypeCast] = field(default_factory=tuple)

    def apply_schema(
        self,
        df: DataFrame,
        source_col: str,
        schema: str,
        *,
        ts_col: str = "__parsed_ts",
        prefix: str = "",
        assume_year: int = 2024,
    ) -> DataFrame:
        parsed = F.from_json(F.col(source_col), schema)
        out = df.withColumn("__j", parsed)
        names = [f.name for f in out.schema["__j"].dataType.fields]
        cols = {n: F.col("__j").getField(n) for n in names}
        if self.time_fmt is not None and self.time_key in names:
            ts = parse_time(
                cols[self.time_key].cast("string"), self.time_fmt, assume_year=assume_year
            )
            if not self.time_keep:
                cols.pop(self.time_key)
        else:
            ts = F.lit(None).cast("timestamp")
        for n, c in cols.items():
            out = out.withColumn(prefix + n, c)
        return out.withColumn(ts_col, ts).drop("__j")


def apply_parser_filter(
    df: DataFrame,
    source_col: str,
    parsers: Sequence["RegexParser"],
    reserve_data: bool = False,
    preserve_key: bool = False,
    ts_col: Optional[str] = None,
    infra_cols: Sequence[str] = ("tag",),
    gate: Optional[Column] = None,
) -> DataFrame:
    """filter_parser: re-parse a record field with a parser chain.

    plugins/filter_parser/filter_parser.c:104-126 (options) + 213-320
    (cb_parser): each configured parser is tried in order against the
    Key_Name value; on the first success the parsed keys become the
    record. Reserve_Data keeps the other original fields; Preserve_Key
    keeps the source field itself; a record no parser matches passes
    through untouched. Column semantics: non-matching rows keep their
    values, matching rows null out non-parsed fields unless
    Reserve_Data (the per-row analogue of the key-drop). A parsed
    timestamp (parser Time_Key/Time_Format) overwrites ts_col on
    matched rows, like the reference's time lookup.

    gate — the [FILTER] Match predicate: rows outside it behave as
    "no parser matched" and pass through untouched (the filter engine
    only hands matching-tag chunks to the plugin, flb_filter.c).
    """
    src = F.col(source_col)
    flags: list[Column] = []
    value_cols: dict[str, list[tuple[Column, Column]]] = {}
    ts_candidates: list[tuple[Column, Column]] = []
    out = df
    earlier = F.lit(False)
    for i, p in enumerate(parsers):
        stripped, _ = strip_names(p.regex)
        # effective flag: this parser matched AND no earlier parser did —
        # the reference stops at the first successful parser in the chain
        flag = F.coalesce(src.rlike(stripped), F.lit(False)) & ~earlier
        if gate is not None:
            flag = flag & gate
        earlier = earlier | flag
        prefix = f"__pf{i}_"
        out = p.apply(out, source_col, ts_col=f"{prefix}ts", prefix=prefix)
        names = p.group_names()
        if p.time_fmt is not None and not p.time_keep and p.time_key in names:
            names = [n for n in names if n != p.time_key]
        for n in names:
            value_cols.setdefault(n, []).append((flag, F.col(prefix + n)))
        if p.time_fmt is not None:
            ts_candidates.append((flag, F.col(f"{prefix}ts")))
        flags.append(flag)

    # first-match-wins: earlier parser's flag shadows later ones
    def first_match(cands: list[tuple[Column, Column]]) -> tuple[Column, Column]:
        expr = F.lit(None)
        hit = F.lit(False)
        for flag, val in reversed(cands):
            expr = F.when(flag, val).otherwise(expr)
            hit = F.when(flag, F.lit(True)).otherwise(hit)
        return expr, hit

    matched = F.lit(False)
    for fl in flags:
        matched = matched | fl

    parsed_names = list(value_cols)
    originals = [
        c
        for c in df.columns
        if c not in parsed_names
        and c != source_col
        and c not in infra_cols
        and c != ts_col
    ]
    for n, cands in value_cols.items():
        val, hit = first_match(cands)
        if n in df.columns:
            # hit = matched by a parser that CAPTURES this name. A row
            # matched by a different parser treats the column as an
            # ordinary original field: kept under Reserve_Data, nulled
            # otherwise — not blindly overwritten with the (null) parse.
            if reserve_data:
                val = F.when(hit, val).otherwise(F.col(n))
            else:
                val = F.when(hit, val).otherwise(
                    F.when(matched, F.lit(None)).otherwise(F.col(n))
                )
        out = out.withColumn(n, val)
    if not reserve_data:
        for c in originals:
            out = out.withColumn(
                c, F.when(matched, F.lit(None)).otherwise(F.col(c))
            )
    if not preserve_key:
        out = out.withColumn(
            source_col, F.when(matched, F.lit(None)).otherwise(src)
        )
    if ts_col is not None and ts_candidates:
        pts, _ = first_match(ts_candidates)
        base_ts = F.col(ts_col) if ts_col in df.columns else F.lit(None).cast("timestamp")
        out = out.withColumn(ts_col, F.coalesce(pts, base_ts))
    drop = [f"__pf{i}_{n}" for i, p in enumerate(parsers) for n in p.group_names()]
    drop += [f"__pf{i}_ts" for i in range(len(parsers))]
    return out.drop(*drop)


def parse_json_to_map(source: Column) -> Column:
    """JSON object -> map<string,string>; scalar values rendered as text,
    nested values as their JSON text (fidelity for '*' projection)."""
    return F.from_json(source, "map<string,string>")


@dataclass(frozen=True)
class LogfmtParser:
    """Format logfmt (src/flb_parser_logfmt.c:40-200): ``key=value`` pairs,
    bare keys (value ""), double-quoted values with ``\\`` escapes.
    ``logfmt_no_bare_keys`` rejects bare keys (:64-68)."""

    name: str
    no_bare_keys: bool = False

    # one regex pass per pair, JVM-side: keys per the reference ident table
    # (letters, digits, and most punctuation except '=', '"', space)
    _PAIR = r'([^\s"=]+)(?:=(?:"((?:[^"\\]|\\.)*)"|([^\s]*)))?'

    def apply(self, df: DataFrame, source_col: str, out_col: str = "kv") -> DataFrame:
        """-> map<string,string> column. Escapes in quoted values are
        unescaped (\\" -> ", \\\\ -> \\, \\n -> newline)."""
        src = F.col(source_col)
        pairs = F.regexp_extract_all(src, F.lit(f"({self._PAIR})"), 1)
        if self.no_bare_keys:
            pairs = F.filter(pairs, lambda p: p.contains("="))

        def split_pair(p: Column) -> Column:
            key = F.regexp_extract(p, self._PAIR, 1)
            quoted = F.regexp_extract(p, self._PAIR, 2)
            bare = F.regexp_extract(p, self._PAIR, 3)
            has_eq = p.contains("=")
            has_quote = p.rlike(r'^[^\s"=]+="')
            val = F.when(has_quote, _unescape(quoted)).otherwise(
                F.when(has_eq, bare).otherwise(F.lit(""))
            )
            return F.struct(key.alias("key"), val.alias("value"))

        entries = F.transform(pairs, split_pair)
        return df.withColumn(out_col, F.map_from_entries(entries))


def _unescape(c: Column) -> Column:
    c = F.regexp_replace(c, r'\\(")', "$1")
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\t", "\t")
    c = F.regexp_replace(c, r"\\\\", "\\\\")
    return c


@dataclass(frozen=True)
class LtsvParser:
    """Format ltsv (src/flb_parser_ltsv.c): tab-separated ``label:value``."""

    name: str

    def apply(self, df: DataFrame, source_col: str, out_col: str = "kv") -> DataFrame:
        return df.withColumn(out_col, F.str_to_map(F.col(source_col), F.lit("\t"), F.lit(":")))


# ---------------------------------------------------------------------------
# decoders (src/flb_parser_decoder.c)
# ---------------------------------------------------------------------------


def decode_field_as_json(df: DataFrame, col: str, schema: str) -> DataFrame:
    """``Decode_Field_As json <col>``: replace an escaped-JSON string field
    with its parsed object (the docker ``log`` field pattern,
    src/flb_parser_decoder.c:423-470)."""
    return df.withColumn(col, F.from_json(F.col(col), schema))


def decode_field_json_to_map(df: DataFrame, col: str, out_col: str) -> DataFrame:
    """``Decode_Field json <col> <out>``: parse into a NEW key, keep the
    original (flb_parser_decoder.c Decode_Field vs Decode_Field_As)."""
    return df.withColumn(out_col, F.from_json(F.col(col), "map<string,string>"))


def decode_escaped(df: DataFrame, col: str) -> DataFrame:
    """``Decode_Field_As escaped``: unescape \\n \\t \\" \\\\ sequences."""
    return df.withColumn(col, _unescape(F.col(col)))


# the parsers.conf corpus, precompiled (conf/parsers.conf:2-27,69-91)
APACHE = RegexParser(
    "apache",
    r"^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] \"(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?\" (?<code>[^ ]*) (?<size>[^ ]*)(?: \"(?<referer>[^\"]*)\" \"(?<agent>[^\"]*)\")?$",
    time_fmt="%d/%b/%Y:%H:%M:%S %z",
)
NGINX = RegexParser(
    "nginx",
    r"^(?<remote>[^ ]*) (?<host>[^ ]*) (?<user>[^ ]*) \[(?<time>[^\]]*)\] \"(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?\" (?<code>[^ ]*) (?<size>[^ ]*)(?: \"(?<referer>[^\"]*)\" \"(?<agent>[^\"]*)\")",
    time_fmt="%d/%b/%Y:%H:%M:%S %z",
)
APACHE_ERROR = RegexParser(
    "apache_error",
    r"^\[[^ ]* (?<time>[^\]]*)\] \[(?<level>[^\]]*)\](?: \[pid (?<pid>[^\]]*)\])?( \[client (?<client>[^\]]*)\])? (?<message>.*)$",
)
SYSLOG_RFC5424 = RegexParser(
    "syslog-rfc5424",
    r"^\<(?<pri>[0-9]{1,5})\>1 (?<time>[^ ]+) (?<host>[^ ]+) (?<ident>[^ ]+) (?<pid>[-0-9]+) (?<msgid>[^ ]+) (?<extradata>(\[(.*?)\]|-)) (?<message>.+)$",
    time_fmt="%Y-%m-%dT%H:%M:%S.%L%z",
    time_keep=True,
)
SYSLOG_RFC3164 = RegexParser(
    "syslog-rfc3164",
    r"/^\<(?<pri>[0-9]+)\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<host>[^ ]*) (?<ident>[a-zA-Z0-9_\/\.\-]*)(?:\[(?<pid>[0-9]+)\])?(?:[^\:]*\:)? *(?<message>.*)$/",
    time_fmt="%b %d %H:%M:%S",
    time_keep=True,
)
APACHE2 = RegexParser(
    "apache2",
    r'^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^ ]*) +\S*)?" (?<code>[^ ]*) (?<size>[^ ]*)(?: "(?<referer>[^\"]*)" "(?<agent>.*)")?$',
    time_fmt="%d/%b/%Y:%H:%M:%S %z",
)
K8S_NGINX_INGRESS = RegexParser(
    "k8s-nginx-ingress",
    r'^(?<host>[^ ]*) - (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*) "(?<referer>[^\"]*)" "(?<agent>[^\"]*)" (?<request_length>[^ ]*) (?<request_time>[^ ]*) \[(?<proxy_upstream_name>[^ ]*)\] (\[(?<proxy_alternative_upstream_name>[^ ]*)\] )?(?<upstream_addr>[^ ]*) (?<upstream_response_length>[^ ]*) (?<upstream_response_time>[^ ]*) (?<upstream_status>[^ ]*) (?<reg_id>[^ ]*).*$',
    time_fmt="%d/%b/%Y:%H:%M:%S %z",
)
DOCKER_DAEMON = RegexParser(
    "docker-daemon",
    r'time="(?<time>[^ ]*)" level=(?<level>[^ ]*) msg="(?<msg>[^ ].*)"',
    time_fmt="%Y-%m-%dT%H:%M:%S.%L",
    time_keep=True,
)
SYSLOG_RFC3164_LOCAL = RegexParser(
    "syslog-rfc3164-local",
    r"^\<(?<pri>[0-9]+)\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<ident>[a-zA-Z0-9_\/\.\-]*)(?:\[(?<pid>[0-9]+)\])?(?:[^\:]*\:)? *(?<message>.*)$",
    time_fmt="%b %d %H:%M:%S",
    time_keep=True,
)
MONGODB = RegexParser(
    "mongodb",
    r"^(?<time>[^ ]*)\s+(?<severity>\w)\s+(?<component>[^ ]+)\s+\[(?<context>[^\]]+)]\s+(?<message>.*?) *(?<ms>(\d+))?(:?ms)?$",
    time_fmt="%Y-%m-%dT%H:%M:%S.%L",
    time_keep=True,
)
ENVOY = RegexParser(
    "envoy",
    r'^\[(?<start_time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)? (?<protocol>\S+)" (?<code>[^ ]*) (?<response_flags>[^ ]*) (?<bytes_received>[^ ]*) (?<bytes_sent>[^ ]*) (?<duration>[^ ]*) (?<x_envoy_upstream_service_time>[^ ]*) "(?<x_forwarded_for>[^ ]*)" "(?<user_agent>[^\"]*)" "(?<request_id>[^\"]*)" "(?<authority>[^ ]*)" "(?<upstream_host>[^ ]*)"',
    time_key="start_time",
    time_fmt="%Y-%m-%dT%H:%M:%S.%L%z",
    time_keep=True,
)
ISTIO_ENVOY_PROXY = RegexParser(
    "istio-envoy-proxy",
    r'^\[(?<start_time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)? (?<protocol>\S+)" (?<response_code>[^ ]*) (?<response_flags>[^ ]*) (?<response_code_details>[^ ]*) (?<connection_termination_details>[^ ]*) "(?<upstream_transport_failure_reason>[^ ]*)" (?<bytes_received>[^ ]*) (?<bytes_sent>[^ ]*) (?<duration>[^ ]*) (?<x_envoy_upstream_service_time>[^ ]*) "(?<x_forwarded_for>[^ ]*)" "(?<user_agent>[^\"]*)" "(?<x_request_id>[^\"]*)" "(?<authority>[^ ]*)" "(?<upstream_host>[^ ]*)" (?<upstream_cluster>[^ ]*) (?<upstream_local_address>[^ ]*) (?<downstream_local_address>[^ ]*) (?<downstream_remote_address>[^ ]*) (?<requested_server_name>[^ ]*) (?<route_name>[^  ]*)$',
    time_key="start_time",
    time_fmt="%Y-%m-%dT%H:%M:%S.%L%z",
    time_keep=True,
)
CRI = RegexParser(
    "cri",
    r"^(?<time>[^ ]+) (?<stream>stdout|stderr) (?<logtag>[^ ]*) (?<message>.*)$",
    time_fmt="%Y-%m-%dT%H:%M:%S.%L%z",
    time_keep=True,
)
KUBE_CUSTOM = RegexParser(
    "kube-custom",
    r"(?<tag>[^.]+)?\.?(?<pod_name>[a-z0-9](?:[-a-z0-9]*[a-z0-9])?(?:\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_(?<namespace_name>[^_]+)_(?<container_name>.+)-(?<docker_id>[a-z0-9]{64})\.log$",
)
KMSG_NETFILTER_LOG = RegexParser(
    "kmsg-netfilter-log",
    r"^\<(?<pri>[0-9]{1,5})\>1 (?<time>[^ ]+) (?<host>[^ ]+) kernel - - - \[[0-9\.]*\] (?<logprefix>[^ ]*)\s?IN=(?<in>[^ ]*) OUT=(?<out>[^ ]*) MAC=(?<macsrc>[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}):(?<macdst>[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}):(?<ethtype>[0-9a-f]{2}:[0-9a-f]{2}) SRC=(?<saddr>[^ ]*) DST=(?<daddr>[^ ]*) LEN=(?<len>[^ ]*) TOS=(?<tos>[^ ]*) PREC=(?<prec>[^ ]*) TTL=(?<ttl>[^ ]*) ID=(?<id>[^ ]*) (D*F*)\s*PROTO=(?<proto>[^ ]*)\s?((SPT=)?(?<sport>[0-9]*))\s?((DPT=)?(?<dport>[0-9]*))\s?((LEN=)?(?<protolen>[0-9]*))\s?((WINDOW=)?(?<window>[0-9]*))\s?((RES=)?(?<res>0?x?[0-9]*))\s?(?<flag>[^ ]*)\s?((URGP=)?(?<urgp>[0-9]*))",
    time_fmt="%Y-%m-%dT%H:%M:%S.%L%z",
)
JSON = JsonParser("json", time_fmt="%d/%b/%Y:%H:%M:%S %z")
DOCKER = JsonParser("docker", time_fmt="%Y-%m-%dT%H:%M:%S.%L", time_keep=True)
LOGFMT = LogfmtParser("logfmt")

# registry: every [PARSER] of conf/parsers.conf:1-200 by name
PARSERS = {
    p.name: p
    for p in [
        APACHE, APACHE2, APACHE_ERROR, NGINX, K8S_NGINX_INGRESS, JSON, LOGFMT,
        DOCKER, DOCKER_DAEMON, SYSLOG_RFC5424, SYSLOG_RFC3164_LOCAL,
        SYSLOG_RFC3164, MONGODB, ENVOY, ISTIO_ENVOY_PROXY, CRI, KUBE_CUSTOM,
        KMSG_NETFILTER_LOG,
    ]
}


# ---------------------------------------------------------------------------
# decoder chains — src/flb_parser_decoder.c:391-470 (rule walk), :677-728
# (config: Decode_Field vs Decode_Field_As; optional action try_next /
# do_next; backends json escaped escaped_utf8 mysql_quoted)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DecoderRule:
    """One Decode_Field / Decode_Field_As entry."""

    mode: str      # 'as' (replace in place) | 'field' (decode under new key)
    backend: str   # json | escaped | escaped_utf8 | mysql_quoted
    field: str
    action: str = "stop"  # stop (default) | try_next | do_next


def _unescape_utf8_udf():
    """escaped_utf8 backend (flb_parser_decoder.c:100): \\xNN byte escapes
    decoded back to UTF-8 text. Arrow-batched; bytes-level, deterministic.
    Built lazily — pandas_udf needs an active session to parse its type."""

    @pandas_udf("string")
    def unescape_utf8(s: pd.Series) -> pd.Series:
        import re as _re

        pat = _re.compile(rb"\\x([0-9a-fA-F]{2})")

        def one(x):
            if x is None:
                return None
            raw = pat.sub(lambda m: bytes([int(m.group(1), 16)]), x.encode("utf-8"))
            return raw.decode("utf-8", "replace")

        return s.map(one)

    return unescape_utf8


def _mysql_unquote(c: Column) -> Column:
    """mysql_quoted backend (flb_mysql_unquote_string): strip the outer
    quotes, collapse doubled quotes and backslash escapes."""
    inner = F.substring(c, 2, F.length(c) - 2)
    inner = F.regexp_replace(inner, r"''", "'")
    inner = F.regexp_replace(inner, r'""', '"')
    inner = F.regexp_replace(inner, r"\\'", "'")
    inner = F.regexp_replace(inner, r'\\"', '"')
    return inner


def apply_decoder_chain(df: DataFrame, rules: Sequence[DecoderRule]) -> DataFrame:
    """Columnar decoder chain with the reference's control flow:

    * a failing backend stops the chain unless its action is try_next /
      do_next (flb_parser_decoder.c:444-453);
    * a successful 'as' rule replaces the value in place and continues
      only for do_next;
    * a successful 'field' rule materializes ``<field>_decoded`` (the
      merge-into-record analogue) leaving the original value intact;
    * a 'json' success on an 'as' rule produces ``<field>_map``
      (map<string,string>) — the typed result of the docker-style
      ``Decode_Field_As escaped_utf8 log do_next`` + ``Decode_Field_As
      json log`` chain.

    All per-row state (stopped / current value) is carried in Column
    expressions; the whole chain stays in one narrow projection.
    """
    by_field: dict[str, list[DecoderRule]] = {}
    for r in rules:
        by_field.setdefault(r.field, []).append(r)

    for fld, chain in by_field.items():
        cur = F.col(fld)
        stopped = F.lit(False)
        jmap = None
        decoded_field = None
        for r in chain:
            if r.backend == "json":
                parsed = F.from_json(cur, "map<string,string>")
                success = parsed.isNotNull()
                transformed = cur  # string form unchanged; typed result below
            elif r.backend == "escaped":
                success = F.lit(True)
                transformed = _unescape(cur)
            elif r.backend == "escaped_utf8":
                success = F.lit(True)
                transformed = _unescape_utf8_udf()(cur)
            elif r.backend == "mysql_quoted":
                success = (
                    (F.length(cur) >= 2)
                    & (
                        (cur.startswith("'") & cur.endswith("'"))
                        | (cur.startswith('"') & cur.endswith('"'))
                    )
                )
                transformed = _mysql_unquote(cur)
            else:
                raise ValueError(f"unknown decoder backend {r.backend}")

            applies = ~stopped & F.coalesce(success, F.lit(False))
            if r.backend == "json" and r.mode == "as":
                nxt = F.when(applies, parsed)
                jmap = nxt if jmap is None else F.coalesce(jmap, nxt)
            elif r.mode == "as":
                cur = F.when(applies, transformed).otherwise(cur)
            else:  # decode under a new key, original kept
                nxt = F.when(applies, transformed)
                decoded_field = (
                    nxt if decoded_field is None else F.coalesce(decoded_field, nxt)
                )
            if r.action == "stop":
                # stop after this rule regardless of outcome unless it
                # failed with try/do_next (handled by `applies` above)
                stopped = stopped | applies | F.coalesce(success, F.lit(False))
            # try_next / do_next: chain continues on both outcomes

        df = df.withColumn(fld, cur)
        if jmap is not None:
            df = df.withColumn(f"{fld}_map", jmap)
        if decoded_field is not None:
            df = df.withColumn(f"{fld}_decoded", decoded_field)
    return df
