"""Tag-based routing: glob match compiler, conditional routes, rewrite_tag,
and the multi-sink fan-out writer.

Reference semantics:
* tag glob match — src/flb_router.c:38-144 (``router_match``): ``*`` matches
  any span (including empty; consecutive ``*`` collapse), every other byte
  matches literally (newlines included — tags are raw bytes), and the whole
  tag must be consumed. Truth vectors: tests/internal/router.c:15-26,81-95.
* Match_Regex — src/flb_router.c:65-77 (Onigmo ``onig_match`` anchored at
  the start of the tag, un-anchored at the end).
* conditional routes — record-level predicates attached to a route:
  ops eq/neq/gt/lt/gte/lte/regex/not_regex/in/not_in over body fields with
  AND/OR combination (include/fluent-bit/flb_conditionals.h:55-64, eval
  src/flb_conditionals.c:71-148).
* rewrite_tag — plugins/filter_rewrite_tag/rewrite_tag.c:37-104: rules
  (key accessor, regex, new-tag template, keep); the template may use
  ``$TAG``, ``$TAG[n]`` and regex capture refs ``$0..$9``; matching records
  are re-emitted under the new tag (original kept iff ``keep``).

Spark-first design: each sink's Match pattern compiles ONCE to an anchored
regex and becomes a boolean predicate Column; routing N sinks is N cheap
predicates over one cached/persisted upstream DataFrame — the analogue of
the reference's per-chunk routes bitmask (src/flb_routes_mask.c:49-175)
without any per-record interpretation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .jsonesc import fb_json_body
from .parsers import atof_double
from .semantics import FBVal, fb_compare, fb_and, fb_or, fb_type_of
from .sqltext import sql_col, sql_ident, sql_str

# ---------------------------------------------------------------------------
# Tag glob
# ---------------------------------------------------------------------------


def glob_to_regex(pattern: str, dialect: str = "java") -> str:
    """Compile a Fluent Bit Match glob to an anchored regex string.

    ``*`` -> ``.*`` (DOTALL: tags may embed newlines — router.c test vector
    {'s','y','s','t','e','m','\\n'} matches pattern "system\\n" but not
    "system"); all other chars literal; full-consume anchoring mirrors
    src/flb_router.c:132-134. The end anchor must be absolute end-of-input
    (a bare ``$`` silently forgives a trailing newline in both Java and
    Python): ``\\z`` in Java, ``\\Z`` in Python.
    """
    out = ["(?s)^"]
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            while i < len(pattern) and pattern[i] == "*":
                i += 1  # collapse runs of '*' (src/flb_router.c:87-89)
            out.append(".*")
            continue
        out.append(re.escape(ch))
        i += 1
    out.append("\\z" if dialect == "java" else "\\Z")
    return "".join(out)


def tag_matches(pattern: str) -> Callable[[str], bool]:
    """Driver-side matcher (used by tests/oracles), same semantics."""
    rx = re.compile(glob_to_regex(pattern, dialect="python"))
    return lambda tag: tag is not None and rx.match(tag) is not None


def _match_regex(pattern: Optional[str], regex: Optional[str]) -> Optional[str]:
    """The anchored regex a sink's Match / Match_Regex compiles to; None
    never matches (a NULL match never routes, router.c:83-85).

    ``regex`` mirrors Match_Regex: Onigmo ``onig_match`` anchors at the
    start only (src/flb_router.c:70-75), hence the leading ``^`` without a
    trailing ``$``."""
    if regex is not None:
        return regex if regex.startswith("^") else "^(?:" + regex + ")"
    return None if pattern is None else glob_to_regex(pattern)


def match_col(tag_col: Column, pattern: Optional[str], regex: Optional[str] = None) -> Column:
    """Predicate Column: does the tag match this sink?"""
    rx = _match_regex(pattern, regex)
    if rx is None:
        return F.lit(False)
    return F.coalesce(tag_col.rlike(rx), F.lit(False))


def match_sql(tag_sql: str, pattern: Optional[str], regex: Optional[str] = None) -> str:
    """:func:`match_col` as SQL text over the tag expression ``tag_sql``."""
    rx = _match_regex(pattern, regex)
    return "FALSE" if rx is None else f"coalesce({tag_sql} RLIKE {sql_str(rx)}, FALSE)"


# ---------------------------------------------------------------------------
# Conditional routes (flb_conditionals.h ops)
# ---------------------------------------------------------------------------

_COND_OPS = {
    "eq": "=",
    "neq": "!=",
    "gt": ">",
    "lt": "<",
    "gte": ">=",
    "lte": "<=",
}


@dataclass(frozen=True)
class RouteCondition:
    """One rule: ``field op value`` (flb_conditionals.h:55-64).

    Evaluation follows flb_conditionals.c exactly:

    * a MISSING/null field makes the rule FALSE for EVERY op — including
      neq / not_in / not_regex (:396-405: a missing field short-circuits
      an AND condition to FALSE and is skipped — contributes false — in
      an OR chain);
    * gt/lt/gte/lte on a string field go through ``atof`` (:313-331 —
      non-numeric text compares as 0.0), numeric fields compare
      directly;
    * ``field`` may be a record-accessor path (``$key['sub']``,
      :295 flb_cfl_ra_translate);
    * an empty regex pattern is rejected at rule creation
      (flb_conditionals.c rule validation, vectors
      tests/internal/conditionals.c:1022-1041).
    """

    field: str
    op: str  # eq neq gt lt gte lte regex not_regex in not_in
    value: object

    def _resolve(self, df: DataFrame):
        """(column, leaf DataType) — plain column name or $-accessor."""
        if self.field.startswith("$"):
            from .accessor import compile_path, parse_path

            p = parse_path(self.field)
            dtype = df.schema[p.root].dataType
            for sub in p.subs:
                from pyspark.sql import types as T

                if isinstance(dtype, T.StructType):
                    dtype = dtype[sub].dataType
                elif isinstance(dtype, T.MapType):
                    dtype = dtype.valueType
                elif isinstance(dtype, T.ArrayType):
                    dtype = dtype.elementType
            return compile_path(self.field), dtype
        return F.col(self.field), df.schema[self.field.split(".")[0]].dataType

    def to_column(self, df: DataFrame) -> Column:
        from pyspark.sql import types as T

        c, dtype = self._resolve(df)
        if self.op in ("gt", "lt", "gte", "lte"):
            left = atof_double(c) if isinstance(dtype, T.StringType) else c
            rhs = F.lit(float(self.value))
            result = {
                "gt": left > rhs,
                "lt": left < rhs,
                "gte": left >= rhs,
                "lte": left <= rhs,
            }[self.op]
        elif self.op in _COND_OPS:
            result = fb_compare(
                FBVal(c, fb_type_of(dtype)), FBVal.lit(self.value), _COND_OPS[self.op]
            )
        elif self.op in ("regex", "not_regex"):
            if not str(self.value):
                raise ValueError(f"{self.op}: empty pattern rejected")
            hit = c.cast("string").rlike(str(self.value))
            result = hit if self.op == "regex" else ~hit
        elif self.op == "in":
            result = c.isin(list(self.value))
        elif self.op == "not_in":
            result = ~c.isin(list(self.value))
        else:
            raise ValueError(f"unknown condition op {self.op}")
        return F.when(c.isNull(), F.lit(False)).otherwise(
            F.coalesce(result, F.lit(False))
        )


@dataclass(frozen=True)
class SinkSpec:
    """An output route: Match glob (or Match_Regex) + optional record-level
    conditions, combined AND/OR (src/flb_router_condition.c)."""

    name: str
    match: Optional[str] = "*"
    match_regex: Optional[str] = None
    conditions: Sequence[RouteCondition] = field(default_factory=tuple)
    condition_op: str = "and"  # 'and' | 'or'
    # out_file formats (plugins/out_file/file.c:196-230): json csv ltsv
    # plain template msgpack, plus parquet (the columnar-native default)
    fmt: str = "parquet"
    template: Optional[str] = None  # '{key}' placeholders for fmt=template
    # Delimiter / Label_Delimiter properties (file.c:69-86 check_delimiter:
    # only 'tab'/'\t', 'space', 'comma' are accepted; anything else keeps
    # the format default: csv ',', ltsv '\t' + ':')
    delimiter: Optional[str] = None
    label_delimiter: Optional[str] = None
    ts_col: Optional[str] = None  # timestamp source for fmt=msgpack
    # out_s3's size-bounded staging analogue (s3.h total_file_size /
    # upload_chunk_size): cap records per output file; Spark's committer
    # replaces the hand-rolled multipart machinery (SURVEY §2.7)
    max_records_per_file: Optional[int] = None
    # fmt=gelf key overrides (struct flb_gelf_fields, flb_pack.h:112-118:
    # {host,timestamp,level,short_message,full_message}_key)
    gelf_fields: Optional[dict] = None
    # fmt=es_bulk option overrides (out_es config map: index,
    # write_operation, id_key, logstash_format/_prefix/_dateformat,
    # time_key) — the offline Bulk-API payload rendering
    es_options: Optional[dict] = None
    # fmt=splunk_hec / fmt=loki renderer options (splunk_hec_lines /
    # loki_lines kwargs)
    format_options: Optional[dict] = None
    # output-attached processor units (flb_processor.c: an output's
    # processors run on ITS delivery stream, after routing): callables
    # DataFrame -> DataFrame applied to the sink's filtered frame
    processors: Optional[Sequence[Callable[[DataFrame], DataFrame]]] = None
    # out_file json_date_format / json_date_key properties (file.c config
    # map -> flb_pack_msgpack_to_json_format): when set, fmt=json writes
    # flb-shaped lines {"<date_key>":<ts>, ...record} instead of Spark's
    # typed-column JSON
    json_date_format: Optional[str] = None  # double|java_sql_timestamp|iso8601|epoch|epoch_ms
    json_date_key: str = "date"

    def predicate(self, df: DataFrame, tag_col: str = "tag") -> Column:
        p = F.expr(match_sql(sql_col(tag_col), self.match, self.match_regex))
        if self.conditions:
            conds = [c.to_column(df) for c in self.conditions]
            acc = conds[0]
            for c in conds[1:]:
                acc = fb_and(acc, c) if self.condition_op == "and" else fb_or(acc, c)
            p = fb_and(p, acc)
        return p


# ---------------------------------------------------------------------------
# rewrite_tag
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RewriteTagRule:
    """(key, regex, new_tag_template, keep) — rewrite_tag.c:37-104.

    Template placeholders: ``$TAG`` (whole tag), ``$TAG[n]`` (tag split on
    '.'), ``$0..$9`` (capture groups of ``regex`` applied to the key's
    value), and record-accessor refs ``$key`` (plain top-level key).
    """

    key: str
    regex: str
    new_tag: str
    keep: bool = False


# token order: $TAG[n] keyword, $0..$9 capture refs, then a record
# accessor — whose identifier charset mirrors the reference lexer
# (ra.l:56, [_A-Za-z][A-Za-z0-9_.\-/]*, GREEDY: '$key.suffix' lexes as
# one key named 'key.suffix', same as the reference) with optional
# ['sub'] / [N] subscript chains
_TMPL_TOKEN = re.compile(
    r"\$TAG(?:\[(\d+)\])?"
    r"|\$(\d)"
    r"|(\$[A-Za-z_][A-Za-z0-9_.\-/]*(?:\[(?:'[^']*'|\"[^\"]*\"|\d+)\])*)"
)


def _compile_template(tmpl: str, tag_sql: str, captures: dict[int, str]) -> str:
    """The new-tag template as SQL text over the tag expression
    ``tag_sql`` and the capture-group expressions ``captures``."""
    from .accessor import parse_path, struct_path_sql

    parts: list[str] = []
    pos = 0
    for m in _TMPL_TOKEN.finditer(tmpl):
        if m.start() > pos:
            parts.append(sql_str(tmpl[pos : m.start()]))
        if m.group(0).startswith("$TAG"):
            if m.group(1) is not None:
                # $TAG[n]: tag split on '.' (ra.l:46, flb_ra_parser tag part)
                dot = sql_str(r"\.")
                parts.append(f"split({tag_sql}, {dot})[{int(m.group(1))}]")
            else:
                parts.append(tag_sql)
        elif m.group(2) is not None:
            parts.append(captures[int(m.group(2))])
        else:
            # missing keys render as empty, not NULL: flb_ra_translate
            # (check=FALSE, flb_record_accessor.c:628-668) keeps going
            # when a key lookup fails — concat of a NULL would null the
            # whole tag otherwise
            ref = struct_path_sql(parse_path(m.group(3)))
            parts.append(f"coalesce(CAST({ref} AS STRING), '')")
        pos = m.end()
    if pos < len(tmpl):
        parts.append(sql_str(tmpl[pos:]))
    if not parts:
        return "''"
    return f"concat({', '.join(parts)})"


def apply_rewrite_tag(
    df: DataFrame,
    rules: Sequence[RewriteTagRule],
    tag_col: str = "tag",
    emitter_passes: int = 1,
) -> DataFrame:
    """Apply rewrite_tag rules. First matching rule wins per record
    (rewrite_tag.c iterates rules and emits on first match). Records whose
    rule has keep=True are duplicated: original tag + new tag (the emitter
    re-injection, in_emitter plugin).

    emitter_passes — the reference re-injects re-tagged records at the
    pipeline head, where they may match ANOTHER rewrite rule (emitter
    cascade; cycles are possible at runtime). Batch-shaped: each extra
    pass re-applies the rule list to the output of the previous pass;
    we bound the cascade to a fixed pass count instead of allowing
    cycles (SURVEY §7.4 risk 6). Rules that no longer match are no-ops,
    so a cascade that converges early is a fixpoint.
    """
    out = df
    for _ in range(max(1, emitter_passes)):
        out = _apply_rewrite_tag_once(out, rules, tag_col)
    return out


def _apply_rewrite_tag_once(
    df: DataFrame,
    rules: Sequence[RewriteTagRule],
    tag_col: str = "tag",
) -> DataFrame:
    if not rules:
        return df
    # First matching rule wins: CASE tries the rules in order. The new
    # tag is NULL when no rule matched (or its template is NULL).
    tag = sql_col(tag_col)
    tag_cases, keep_cases = [], []
    for r in rules:
        val = f"CAST({sql_col(r.key)} AS STRING)"
        rx = sql_str(r.regex)
        hit = f"coalesce({val} RLIKE {rx}, FALSE)"
        caps = {
            i: f"regexp_extract({val}, {rx}, {i})"
            for i in range(10)
            if f"${i}" in r.new_tag
        }
        tag_cases.append(f"WHEN {hit} THEN {_compile_template(r.new_tag, tag, caps)}")
        keep_cases.append(f"WHEN {hit} THEN {'TRUE' if r.keep else 'FALSE'}")
    new_tag = f"CASE {' '.join(tag_cases)} END"
    keep = f"CASE {' '.join(keep_cases)} ELSE FALSE END"

    # Single-pass emit via explode: per record the set of output tags is
    #   matched & keep  -> [original, rewritten]   (emitter re-injection copy)
    #   matched & !keep -> [rewritten]
    #   no match        -> [original]
    # A union of two filtered branches computes the ENTIRE upstream once
    # per side (fresh expr ids, no ReusedExchange — the dedup
    # self_join_ready lesson); with the html-extraction pipeline upstream
    # that union was a measured 2x on webgen_e2e. Generate(explode) keeps
    # one pass and stays inside whole-stage codegen. One projection keeps
    # every column in place and explodes the tag where it stands.
    out_tags = (
        f"CASE WHEN {new_tag} IS NOT NULL AND {keep} THEN array({tag}, {new_tag})"
        f" WHEN {new_tag} IS NOT NULL THEN array({new_tag})"
        f" ELSE array({tag}) END"
    )
    cols = df.columns
    if tag_col not in cols:
        raise ValueError(f"rewrite_tag: no tag column {tag_col!r} in {cols}")
    return df.selectExpr(*[
        f"explode({out_tags}) AS {sql_ident(c)}" if c == tag_col else sql_ident(c)
        for c in cols
    ])


# ---------------------------------------------------------------------------
# Multi-sink fan-out writer
# ---------------------------------------------------------------------------


def route_flags(df: DataFrame, sinks: Sequence[SinkSpec], tag_col: str = "tag") -> DataFrame:
    """Attach one boolean predicate column per sink (``__route_<name>``) —
    the Spark analogue of the chunk routes bitmask. Catalyst computes all
    predicates in one pass over the cached upstream."""
    return df.withColumns({f"__route_{s.name}": s.predicate(df, tag_col) for s in sinks})


def write_sinks(
    df: DataFrame,
    sinks: Sequence[SinkSpec],
    base_path: str,
    tag_col: str = "tag",
    count_mode: str = "observe",
) -> dict[str, int]:
    """Fan out one filtered write per sink from a single persisted upstream.

    Mirrors the engine dispatch (one task per (chunk, route),
    src/flb_engine_dispatch.c:247-354) but batch-shaped: the parsed and
    enriched DataFrame is persisted once, then each sink runs a filtered
    write; per-sink record counts (the out_counter sink,
    plugins/out_counter/counter.c:57-79) come from ``observe()`` metrics on
    the same pass — no second scan per sink.
    """
    flagged = route_flags(df, sinks, tag_col).persist()
    counts: dict[str, int] = {}
    try:
        for s in sinks:
            # backticks: sink names may carry dots (glob-derived names
            # like 'counter_app.all'), which bare F.col parses as a
            # nested-field path
            part = flagged.filter(F.col(f"`__route_{s.name}`")).drop(
                *[f"__route_{x.name}" for x in sinks]
            )
            # output-attached processor units run BEFORE the counter is
            # attached: the reference's output counters see the
            # post-processor delivery stream (out_counter counts what the
            # sink actually renders, counter.c:57-79)
            for proc in s.processors or ():
                part = proc(part)
            obs_name = f"sink_{s.name}"
            from pyspark.sql import Observation

            obs = Observation(obs_name)
            part = part.observe(obs, F.count(F.lit(1)).alias("n"))
            dest = f"{base_path}/{s.name}"
            if s.fmt in (
                "ltsv", "plain", "template", "gelf", "out_file",
                "es_bulk", "splunk_hec", "loki",
            ):
                # the observe node upstream of this projection still fires
                if s.fmt == "out_file":
                    ts_col = s.ts_col or next(
                        (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                        None,
                    )
                    line = out_file_line(part, ts_col, tag_col)
                elif s.fmt in ("es_bulk", "splunk_hec", "loki"):
                    ts_col = s.ts_col or next(
                        (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                        None,
                    )
                    if s.fmt == "es_bulk":
                        line = es_bulk_lines(
                            part, ts_col, **(s.es_options or s.format_options or {})
                        )
                    elif s.fmt == "splunk_hec":
                        line = splunk_hec_lines(
                            part, ts_col, **(s.format_options or {})
                        )
                    else:
                        line = loki_lines(part, ts_col, **(s.format_options or {}))
                elif s.fmt == "gelf":
                    from .gelffmt import gelf_line

                    ts_col = s.ts_col or next(
                        (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                        None,
                    )
                    line = gelf_line(
                        part, ts_col=ts_col, **(s.gelf_fields or {})
                    )
                else:
                    line = _text_line(part, s)
                part = part.select(line.alias("value"))
                part.write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "msgpack":
                from .msgpackfmt import write_msgpack

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                cols = [c for c in part.columns if c != ts_col]
                write_msgpack(part, ts_col, cols, dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "prom":
                # exposition text (metrics.prom_lines): banner-before-
                # samples ordering must survive the file write, and an
                # exposition page is one scrape document by definition —
                # a single sorted partition, like the reference's one
                # text buffer per scrape (hash_format_metrics)
                from .metrics import prom_lines

                page = prom_lines(part, **(s.format_options or {}))
                page = (
                    page.repartition(1)
                    .sortWithinPartitions("metric_name", "ord", "line")
                    .select(F.col("line").alias("value"))
                )
                page.write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt in ("kinesis", "firehose"):
                # PutRecords / PutRecordBatch request bodies, one JSON
                # body per line (Data is base64 so bodies are
                # single-line by construction)
                from .kinesisfmt import (
                    firehose_data,
                    firehose_put_record_batch,
                    kinesis_data,
                    kinesis_put_records,
                )

                opts = dict(s.format_options or {})
                stream = opts.pop("stream")
                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                common = dict(
                    tag_col=tag_col, ts_col=ts_col,
                    time_key=opts.pop("time_key", None),
                    time_key_format=opts.pop("time_key_format", None),
                    log_key=opts.pop("log_key", None),
                )
                if s.fmt == "kinesis":
                    bodies = kinesis_put_records(
                        kinesis_data(part, **common), stream,
                        uuid=opts.pop("uuid", None))
                else:
                    bodies = firehose_put_record_batch(
                        firehose_data(
                            part, compression=opts.pop("compression", None),
                            **common),
                        stream)
                bodies.select(F.col("body").alias("value")) \
                    .write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "promrw":
                # out_prometheus_remote_write payload staging: one
                # snappy/gzip WriteRequest body per (sink, chunk),
                # written as parquet rows (tag, n_series, n_samples,
                # body) for the poster
                from .promrw import remote_write_payloads

                opts = dict(s.format_options or {})
                ts_col = opts.pop("ts_col", None) or s.ts_col
                ts_ms = None
                if ts_col and ts_col in part.columns:
                    if dict(part.dtypes)[ts_col] in ("bigint", "int"):
                        ts_ms = ts_col
                    else:
                        part = part.withColumn(
                            "__ts_ms",
                            F.unix_millis(F.col(ts_col).cast("timestamp")),
                        )
                        ts_ms = "__ts_ms"
                remote_write_payloads(
                    part, ts_ms_col=ts_ms, tag=s.name, **opts
                ).write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "forward":
                # out_forward payload staging: the tag frames the records
                # (forward_format.c append_tag), so it leaves the body
                from .msgpackfmt import write_forward

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                cols = [c for c in part.columns if c not in (ts_col, tag_col)]
                write_forward(
                    part, ts_col, cols, dest, tag_col=tag_col,
                    **(s.format_options or {}),
                )
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt in ("slack", "nats"):
                from . import vendorfmt

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                fn = {"slack": vendorfmt.slack_payloads,
                      "nats": vendorfmt.nats_payloads}[s.fmt]
                fn(part, tag_col=tag_col, ts_col=ts_col,
                   **(s.format_options or {})) \
                    .write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "plot":
                # out_plot (plot.c): one value per line for `key` (or
                # the record's FIRST column when unset) — gnuplot input
                opts = s.format_options or {}
                key = opts.get("key")
                if key is None:
                    key = next(c for c in part.columns
                               if c not in (tag_col, s.ts_col))
                part.select(
                    F.col(f"`{key}`").cast("string").alias("value")
                ).filter(F.col("value").isNotNull()) \
                    .write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "raw_lines":
                # out_tcp/out_udp raw_message_key mode (tcp.c:70-117 /
                # udp.c:88): one line per record — the record-accessor
                # value rendered as a string + '\n'; records where the
                # accessor finds nothing are SKIPPED (flb_ra_translate
                # NULL -> continue)
                from .accessor import compile_path, parse_path

                key = (s.format_options or {})["key"]
                parsed = parse_path(key)
                if not parsed.is_tag and parsed.root not in part.columns:
                    # key absent from every record: flb_ra_translate
                    # returns NULL each time -> zero lines (a typed
                    # frame resolves this at plan time). A constant-
                    # false filter would fold the whole subtree — and
                    # the Observation node with it — so count through
                    # the observed plan and stage the empty dir apart.
                    part.count()
                    part.sparkSession.createDataFrame(
                        [], "value string"
                    ).write.mode("overwrite").text(dest)
                else:
                    part.select(
                        compile_path(key, tag_col=tag_col)
                        .cast("string").alias("value")
                    ).filter(F.col("value").isNotNull()) \
                        .write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "td":
                # out_td (td.c): the chunk's records as gzipped msgpack
                from .msgpackfmt import to_msgpack_binary, _write_binary_values
                import gzip as _gzip

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                cols = [c for c in part.columns if c not in (ts_col, tag_col)]
                packed = to_msgpack_binary(part, ts_col, cols)

                def _gz(batches):
                    import pandas as pd

                    for pdf in batches:
                        yield pd.DataFrame({
                            "value": [_gzip.compress(
                                b"".join(pdf["value"]), mtime=0)],
                            "n": [len(pdf)],
                        })

                _write_binary_values(
                    packed.mapInPandas(_gz, "value binary, n long"),
                    dest, "msgpack.gz", count_col="n")
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt in ("logdna", "nrlogs", "azure", "skywalking",
                         "kafka_rest", "vivo"):
                # thin vendor staging: one request body per (tag, chunk)
                from . import vendorfmt

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                fn = {"logdna": vendorfmt.logdna_payloads,
                      "nrlogs": vendorfmt.nrlogs_payloads,
                      "azure": vendorfmt.azure_payloads,
                      "skywalking": vendorfmt.skywalking_payloads,
                      "kafka_rest": vendorfmt.kafka_rest_payloads,
                      "vivo": vendorfmt.vivo_payloads}[s.fmt]
                fn(part, tag_col=tag_col, ts_col=ts_col,
                   **(s.format_options or {})) \
                    .write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "cloudwatch":
                # out_cloudwatch_logs staging: PutLogEvents bodies per
                # (group, stream) with the 10k/1MiB caps
                from .cloudwatchfmt import cw_events, cw_payloads

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                cw_payloads(
                    cw_events(part, tag_col=tag_col, ts_col=ts_col,
                              **(s.format_options or {}))
                ).write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "stackdriver":
                # out_stackdriver staging: entries:write bodies per
                # (tag, chunk), parquet table like the other vendors
                from .stackdriverfmt import stackdriver_payloads

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                stackdriver_payloads(
                    part, tag_col=tag_col, ts_col=ts_col,
                    **(s.format_options or {}),
                ).write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "datadog":
                # out_datadog staging: one JSON-array request body per
                # (tag, chunk), parquet table like the http staging
                from .datadogfmt import datadog_payloads

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                datadog_payloads(
                    part, tag_col=tag_col, ts_col=ts_col,
                    **(s.format_options or {}),
                ).write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "influx":
                # out_influxdb staging: line-protocol text
                # (influxdb_format); field-less records are skipped like
                # the C's warn-and-continue (influxdb.c:274-279)
                from .influxfmt import influx_lines

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                line = influx_lines(
                    part, tag_col=tag_col, ts_col=ts_col,
                    **(s.format_options or {}),
                )
                part.select(line.alias("value")).filter(
                    F.col("value").isNotNull()
                ).write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "syslog":
                # out_syslog staging: RFC5424/RFC3164 lines, one per
                # record (syslog.c syslog_format), written as text files
                # a forwarder posts line-by-line
                from .syslogfmt import syslog_line

                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                opts = dict(s.format_options or {})
                opts.setdefault("ts_col", ts_col)
                part.select(
                    syslog_line(part, **opts).alias("value")
                ).write.mode("overwrite").text(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "otlp":
                # out_opentelemetry staging (opentelemetry_logs.c): the
                # delivery stream renders as ExportLogsServiceRequest
                # JSON envelopes, one per (tag, partition-chunk). A flat
                # routed frame wraps each record as the kvlist body with
                # the event time as timeUnixNano; grouped frames (from
                # processors.otel_envelope / otlp ingest) keep their
                # resource/scope sections via otlp.otlp_logs_payloads.
                from .otlp import otlp_logs_payloads, otlp_metrics_payloads

                if "metric_name" in part.columns:
                    # a metrics-event-class frame renders as
                    # ExportMetricsServiceRequest envelopes
                    m_opts = {
                        k: v for k, v in (s.format_options or {}).items()
                        if k == "protobuf"
                    }
                    otlp_metrics_payloads(part, tag_col=tag_col, **m_opts) \
                        .write.mode("overwrite").parquet(dest)
                    counts[s.name] = obs.get["n"]
                    continue
                if "record_type" in part.columns:
                    shaped = part
                else:
                    ts_col = s.ts_col or next(
                        (c for c in part.columns
                         if c in ("ts", "warc_ts", "time")),
                        None,
                    )
                    rec_cols = [c for c in part.columns
                                if c not in (ts_col, tag_col)]
                    ts_expr = (
                        F.col(ts_col).cast("timestamp").cast("double")
                        if ts_col is not None else F.lit(None).cast("double")
                    )
                    shaped = part.select(
                        F.col(tag_col).alias("tag"),
                        F.lit("normal").alias("record_type"),
                        F.lit(None).cast("string").alias("group_body"),
                        ts_expr.alias("ts"),
                        F.lit(None).cast("string").alias("otlp"),
                        fb_json_body(part, rec_cols).alias("record"),
                    )
                otlp_logs_payloads(
                    shaped, **(s.format_options or {})
                ).write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "http":
                # out_http staging: one request-body row per (tag, chunk),
                # written as a parquet table a poster iterates (body +
                # content_type + content_encoding per request) — request
                # boundaries survive, unlike a concatenated byte stream
                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                http_payloads(part, s, ts_col=ts_col, tag_col=tag_col) \
                    .write.mode("overwrite").parquet(dest)
                counts[s.name] = obs.get["n"]
                continue
            if s.fmt == "json":
                # out_file json lines (flb_pack_msgpack_to_json_format):
                # fb_json_body keeps nulls and escapes strings exactly like
                # flb_utils_write_str; with json_date_format set the date
                # key frames the record (json_line), else the bare record
                ts_col = s.ts_col or next(
                    (c for c in part.columns if c in ("ts", "warc_ts", "time")),
                    None,
                )
                if s.json_date_format:
                    line = json_line(part, s, ts_col)
                else:
                    line = fb_json_body(part, part.columns)
                part = part.select(line.alias("value"))
                writer = part.write.mode("overwrite")
                if s.max_records_per_file:
                    writer = writer.option(
                        "maxRecordsPerFile", s.max_records_per_file
                    )
                writer.text(dest)
                counts[s.name] = obs.get["n"]
                continue
            writer = part.write.mode("overwrite")
            if s.max_records_per_file:
                writer = writer.option("maxRecordsPerFile", s.max_records_per_file)
            if s.fmt == "csv":
                writer.option("header", True).option(
                    "sep", _check_delimiter(s.delimiter) or ","
                ).csv(dest)
            else:
                writer.parquet(dest)
            counts[s.name] = obs.get["n"]
    finally:
        flagged.unpersist()
    return counts


def kafka_frame(
    df: DataFrame,
    spec: SinkSpec,
    topics: Sequence[str],
    topic_key: Optional[str] = None,
    message_key_field: Optional[str] = None,
    message_key: Optional[str] = None,
    tag_col: str = "tag",
) -> DataFrame:
    """Shape records into the (topic, key, value) frame Spark's kafka
    sink writes — the out_kafka glue, symmetric to streaming.kafka_options
    / attach_kafka_frame on the source side.

    Mirrors plugins/out_kafka/kafka.c produce():
    * topic: record[topic_key] when that value IS a configured topic
      (kafka_topic.c flb_kafka_topic_lookup — unknown values fall back
      to the default, the FIRST configured topic); else the default.
      A '*' in a topic template substitutes the record's tag (the
      source-side tagging convention, reversed).
    * key: record[message_key_field] (kafka.c message_key_field branch),
      else the static message_key, else null (round-robin partitioning).
    * value: rendered by the SinkSpec's format — json (the reference's
      default), or ltsv/plain/template via the out_file line renderers,
      or msgpack ([ts, record] packed binary).
    """
    default_topic = topics[0] if topics else "fluent-bit"

    def templ(t: str) -> Column:
        if "*" in t and tag_col in df.columns:
            pre, post = t.split("*", 1)
            return F.concat(F.lit(pre), F.col(tag_col), F.lit(post))
        return F.lit(t)

    topic = templ(default_topic)
    if topic_key and topic_key in df.columns:
        tv = F.col(topic_key).cast("string")
        topic = F.when(tv.isin(list(topics)), tv).otherwise(templ(default_topic))

    # per-RECORD fallback like out_kafka's produce(): a null field value
    # falls back to the static message_key, not to a null key
    # (plugins/out_kafka/kafka.c message_key_field lookup-miss path)
    fallback = (
        F.lit(message_key) if message_key is not None else F.lit(None).cast("string")
    )
    if message_key_field and message_key_field in df.columns:
        key = F.coalesce(F.col(message_key_field).cast("string"), fallback)
    else:
        key = fallback

    if spec.fmt == "msgpack":
        from .msgpackfmt import to_msgpack_binary

        ts_col = spec.ts_col or next(
            (c for c in df.columns if c in ("ts", "warc_ts", "time")), None
        )
        cols = [c for c in df.columns if c != ts_col]
        keyed = df.withColumn("topic", topic).withColumn("key", key)
        packed = to_msgpack_binary(
            keyed, ts_col, cols, passthrough=["topic", "key"]
        )
        return packed.select("topic", "key", "value")
    if spec.fmt in ("ltsv", "plain", "template"):
        value = _text_line(df, spec)
    else:  # json, the reference default (kafka.c FLB_KAFKA_FMT_JSON)
        value = fb_json_body(df, df.columns)
    return df.select(
        topic.alias("topic"), key.alias("key"), value.alias("value")
    )


def write_kafka(
    df: DataFrame,
    brokers: str,
    spec: SinkSpec,
    topics: Sequence[str],
    rdkafka: Optional[dict] = None,
    **frame_kwargs,
):
    """out_kafka: render + hand the frame to Spark's kafka batch sink.
    rdkafka.* options pass through under Spark's `kafka.` prefix (the
    same librdkafka namespace the reference forwards, kafka_config.c).
    Requires the spark-sql-kafka connector (delegated, SURVEY §2.1)."""
    frame = kafka_frame(df, spec, topics, **frame_kwargs)
    writer = frame.write.format("kafka").option("kafka.bootstrap.servers", brokers)
    for k, v in (rdkafka or {}).items():
        writer = writer.option(f"kafka.{k}", str(v))
    return writer.save()


_FLOW_TICKS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def flowcounter(
    df: DataFrame,
    ts_col: str,
    unit: str = "minute",
    size_col: Optional[str] = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """out_flowcounter: per-tick record/byte rates
    (plugins/out_flowcounter/out_flowcounter.c:51-120).

    The reference buckets events into tick-wide buffers ending at
    ``until`` (configure(): tick = 1/60/3600/86400 for
    second/minute/hour/day) and on flush prints counts, bytes,
    counts/tick and bytes/tick (output_fcount(), integer division).
    Batch shape: one partial-aggregated groupBy on the computed bucket —
    ``until`` = bucket end epoch, exactly the C buffer boundary. Record
    byte size is the payload column's octet length (the C version counts
    msgpack-serialized bytes; divergence documented). `group_cols` adds
    the per-tag split the C plugin leaves as a TODO
    (out_flowcounter.c:118 "TODO filtering with tag?").
    """
    tick = _FLOW_TICKS[unit]
    until = (
        (F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / tick) + 1) * tick
    ).cast("bigint")
    size = (
        F.octet_length(F.col(size_col).cast("string")) if size_col else F.lit(0)
    ).cast("bigint")
    keys = [F.col(c) for c in group_cols] + [until.alias("until")]
    return (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("counts"),
            F.sum(size).alias("bytes"),
        )
        .select(
            *group_cols,
            "until",
            "counts",
            "bytes",
            (F.col("counts") / tick).cast("bigint").alias("counts_per_unit"),
            (F.col("bytes") / tick).cast("bigint").alias("bytes_per_unit"),
        )
    )


def _check_delimiter(value: Optional[str]) -> Optional[str]:
    """file.c:69-86: only tab/space/comma names are honored; anything
    else (including a literal character) falls back to the format
    default — faithfully, even though it surprises."""
    if value is None:
        return None
    low = value.lower()
    if low in ("\\t", "tab"):
        return "\t"
    if low == "space":
        return " "
    if low == "comma":
        return ","
    return None


# strftime -> Spark datetime pattern, the subset logstash_dateformat uses
_STRF_TO_SPARK = (
    ("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%M", "mm"), ("%S", "ss"),
)


def es_bulk_lines(
    df: DataFrame,
    ts_col: Optional[str],
    index: str = "fluent-bit",
    write_operation: str = "create",
    id_key: Optional[str] = None,
    logstash_format: bool = False,
    logstash_prefix: str = "logstash",
    logstash_prefix_separator: str = "-",
    logstash_dateformat: str = "%Y.%m.%d",
    time_key: str = "@timestamp",
) -> Column:
    """Elasticsearch Bulk API payload rendering (plugins/out_es/
    es_bulk.h:27-30 action-line formats + es.c elasticsearch_format):
    one ``{"<op>":{"_index":...[,"_id":...]}}\\n{record}`` pair per
    record. Defaults mirror es.h:25-28 / the es.c config map (index
    'fluent-bit', write_operation 'create', logstash prefix/'%Y.%m.%d').
    upsert renders as the update op (es_conf.c:311-312); with
    logstash_format the index is prefix + separator + the record
    date; the record body carries time_key first (Time_Key default
    '@timestamp') then the fields, strings escaped by the engine-wide
    writer. The HTTP delivery itself stays delegated — this is the
    payload a bulk loader posts."""
    from .jsonesc import fb_json_body, fb_json_escape

    op = write_operation.lower()
    if op == "upsert":
        op = "update"
    if op not in ("index", "create", "update"):
        raise ValueError(f"unknown write_operation {write_operation!r}")
    if logstash_format:
        if ts_col is None:
            raise ValueError("logstash_format needs a timestamp column")
        fmt = logstash_dateformat
        for a, b in _STRF_TO_SPARK:
            fmt = fmt.replace(a, b)
        # a null record time must not null the whole line — the reference
        # always stamps a time (zeroed flb_time), so index from epoch 0
        idx = F.concat(
            F.lit(logstash_prefix + logstash_prefix_separator),
            F.date_format(
                F.coalesce(
                    F.col(ts_col).cast("timestamp"), F.timestamp_seconds(F.lit(0))
                ),
                fmt,
            ),
        )
    else:
        idx = F.lit(index)
    action = [F.lit('{"%s":{"_index":"' % op), fb_json_escape(idx), F.lit('"')]
    if id_key:
        # es.c es_get_id_value: a missing/null Id_Key value just skips the
        # _id field — it must not null-poison the action line
        idv = F.col(id_key).cast("string")
        action.append(
            F.when(
                idv.isNotNull(),
                F.concat(F.lit(',"_id":"'), fb_json_escape(idv), F.lit('"')),
            ).otherwise(F.lit(""))
        )
    action.append(F.lit("}}"))
    body_cols = [c for c in df.columns if c != ts_col]
    body = fb_json_body(df, body_cols)
    if ts_col is not None:
        stamp = F.concat(
            F.lit('{"%s":"' % time_key),
            F.date_format(
                F.coalesce(
                    F.col(ts_col).cast("timestamp"), F.timestamp_seconds(F.lit(0))
                ),
                "yyyy-MM-dd'T'HH:mm:ss.SSS",
            ),
            F.lit('"'),
            F.when(F.length(body) > 2, F.lit(",")).otherwise(F.lit("")),
            F.substring(body, 2, 2147483647),
        )
        body = stamp
    return F.concat(*action, F.lit("\n"), body)


def splunk_hec_lines(
    df: DataFrame,
    ts_col: Optional[str],
    event_host: Optional[str] = None,
    event_source: Optional[str] = None,
    event_sourcetype: Optional[str] = None,
    event_index: Optional[str] = None,
    send_raw: bool = False,
) -> Column:
    """Splunk HEC event payload (plugins/out_splunk/splunk.c:420-470
    pack_map_content): ``{"time": <epoch double>, [host/source/
    sourcetype/index meta], "event": {record}}``; splunk_send_raw emits
    the bare record map. Time renders with microsecond precision; the
    HTTP delivery stays delegated."""
    from .jsonesc import _py_escape, fb_json_body

    body_cols = [c for c in df.columns if c != ts_col]
    body = fb_json_body(df, body_cols)
    if send_raw:
        return body
    if ts_col is not None:
        # null record time renders as 0.000000 (zeroed flb_time), never a
        # null line
        t = F.format_string(
            "%.6f",
            F.coalesce(
                F.unix_micros(F.col(ts_col).cast("timestamp")), F.lit(0)
            )
            / F.lit(1e6),
        )
    else:
        t = F.lit("0.000000")
    meta = ""
    for k, v in (
        ("host", event_host),
        ("source", event_source),
        ("sourcetype", event_sourcetype),
        ("index", event_index),
    ):
        if v is not None:
            meta += ',"%s":"%s"' % (k, _py_escape(str(v)))
    return F.concat(
        F.lit('{"time":'), t, F.lit(meta), F.lit(',"event":'), body, F.lit("}")
    )


def loki_lines(
    df: DataFrame,
    ts_col: Optional[str],
    labels: Optional[dict] = None,
    label_keys: Optional[Sequence[str]] = None,
) -> Column:
    """Loki push API v1 payload (plugins/out_loki/loki.c:1655-1745):
    ``{"streams":[{"stream":{labels},"values":[["<ns>","<line>"]]}]}``
    with one stream entry per record — static `labels` plus per-record
    `label_keys` column values; the log line is the record JSON,
    escaped as a JSON string through the engine-wide writer. Nanosecond
    timestamps come exact from unix_micros*1000."""
    from .jsonesc import _py_escape, fb_json_body, fb_json_escape

    labels = labels or {}
    label_keys = list(label_keys or [])
    # each label is an independent fragment; concat_ws skips nulls, so a
    # record with a NULL label_keys value just omits that label (the
    # reference skips missing keys, loki.c pack_record_labels) instead of
    # null-poisoning the whole line
    entries: list[Column] = [
        F.lit('"%s":"%s"' % (_py_escape(str(k)), _py_escape(str(v))))
        for k, v in labels.items()
    ]
    for k in label_keys:
        kv = F.col(f"`{k}`").cast("string")
        entries.append(
            F.when(
                kv.isNotNull(),
                F.concat(
                    F.lit('"%s":"' % _py_escape(k)), fb_json_escape(kv), F.lit('"')
                ),
            )
        )
    parts: list[Column] = [F.lit('{"streams":[{"stream":{')]
    if entries:
        parts.append(F.concat_ws(",", *entries))
    if ts_col is not None:
        # null record time -> ns 0 (zeroed flb_time), never a null line
        ns = F.coalesce(
            (F.unix_micros(F.col(ts_col).cast("timestamp")) * 1000).cast("string"),
            F.lit("0"),
        )
    else:
        ns = F.lit("0")
    body_cols = [c for c in df.columns if c != ts_col]
    line = fb_json_escape(fb_json_body(df, body_cols))
    parts += [
        F.lit('},"values":[["'),
        ns,
        F.lit('","'),
        line,
        F.lit('"]]}]}'),
    ]
    return F.concat(*parts)


def http_payloads(
    df: DataFrame,
    spec: SinkSpec,
    ts_col: Optional[str] = None,
    tag_col: str = "tag",
) -> DataFrame:
    """out_http request-body rendering (plugins/out_http/http.c:119-260
    + flb_pack_msgpack_to_json_format, src/flb_pack.c:1169-1480): stage
    the exact bodies the plugin would POST, one request per (tag, Arrow
    batch) — the batch is this engine's chunk, like to_forward_frames.

    format (http.c:797 default 'json'):
      json        → one JSON array  [{date,...},{...}]  (',' separators)
      json_stream → records back-to-back  {...}{...}
      json_lines  → one record per line + trailing newline (ndjson)
      msgpack     → raw concatenated [ts, {record}] events
    Each JSON record gets the date key first (json_date_key default
    'date', json_date_format default 'double', http_conf.c:257-276).
    compress gzip (http.c:147-153) gzips the body deterministically
    (mtime=0) and stamps content_encoding. The per-record JSON object
    renders JVM-side (codegen concat + flb escaping); python only joins
    strings per group and compresses — O(bytes), no per-record logic.

    Returns (tag, body binary, n long, content_type, content_encoding).
    """
    import gzip as _gzip

    from typing import Iterable

    opts = spec.format_options or {}
    fmt = (opts.get("format") or "json").lower()
    compress = (opts.get("compress") or "").lower() or None
    if fmt not in ("json", "json_stream", "json_lines", "msgpack"):
        raise ValueError(f"unsupported out_http format {fmt!r}")
    if compress not in (None, "gzip"):
        # snappy/zstd libs aren't in this environment; documented gate
        raise ValueError(f"unsupported out_http compress {compress!r}")
    mime = {
        "json": "application/json",
        "json_stream": "application/json",
        "json_lines": "application/x-ndjson",
        "msgpack": "application/msgpack",
    }[fmt]
    encoding = "gzip" if compress == "gzip" else ""

    if fmt == "msgpack":
        from .msgpackfmt import to_msgpack_binary

        cols = [c for c in df.columns if c not in (ts_col, tag_col)]
        rendered = to_msgpack_binary(
            df.withColumnRenamed(tag_col, "__http_tag"), ts_col, cols,
            passthrough=("__http_tag",),
        ).select(F.col("__http_tag").alias("tag"), F.col("value").alias("line"))
    else:
        body_cols = [c for c in df.columns if c not in (ts_col, tag_col)]
        body = fb_json_body(df, body_cols)
        date_fmt = opts.get("json_date_format") or "double"
        date_key = opts.get("json_date_key") or "date"
        if ts_col is not None:
            date = json_date_col(F.col(ts_col), date_fmt)
            line = F.concat(
                F.lit('{"%s":' % date_key),
                date,
                F.when(F.length(body) > 2, F.lit(",")).otherwise(F.lit("")),
                F.substring(body, 2, 2147483647),
            )
        else:
            line = body
        rendered = df.select(F.col(tag_col).alias("tag"), line.alias("line"))

    def run(batches: Iterable):
        import pandas as pd

        for pdf in batches:
            groups: dict = {}
            for tag, ln in zip(pdf["tag"], pdf["line"]):
                groups.setdefault(str(tag), []).append(ln)
            tags, bodies, ns = [], [], []
            for tag, lines in groups.items():
                if fmt == "msgpack":
                    raw = b"".join(lines)
                elif fmt == "json":
                    raw = ("[" + ",".join(lines) + "]").encode("utf-8")
                elif fmt == "json_stream":
                    raw = "".join(lines).encode("utf-8")
                else:  # json_lines
                    raw = "".join(l + "\n" for l in lines).encode("utf-8")
                if compress == "gzip":
                    raw = _gzip.compress(raw, mtime=0)
                tags.append(tag)
                bodies.append(raw)
                ns.append(len(lines))
            yield pd.DataFrame({
                "tag": tags,
                "body": bodies,
                "n": ns,
                "content_type": [mime] * len(tags),
                "content_encoding": [encoding] * len(tags),
            })

    return rendered.mapInPandas(
        run,
        "tag string, body binary, n long, content_type string, "
        "content_encoding string",
    )


def out_file_line(df: DataFrame, ts_col: Optional[str], tag_col: str) -> Column:
    """The out_file plugin's classic JSON line (file.c:723-733):
    ``tag: [sec.%09lu, {record json}]`` — tag and time are chunk/event
    level in the reference, so they frame the record body rather than
    appearing inside it. A record with no timestamp prints 0.000000000
    (zeroed flb_time)."""
    body_cols = [c for c in df.columns if c not in (ts_col, tag_col)]
    if not body_cols:
        raise ValueError("out_file line needs at least one record column")
    body = fb_json_body(df, body_cols)
    if ts_col is not None:
        ts = F.col(ts_col).cast("timestamp")
        sec = F.coalesce(F.unix_timestamp(ts), F.lit(0)).cast("string")
        nanos = F.lpad(
            (F.coalesce(F.unix_micros(ts), F.lit(0)) % 1000000 * 1000).cast("string"),
            9,
            "0",
        )
    else:
        sec, nanos = F.lit("0"), F.lit("000000000")
    return F.concat(
        F.col(tag_col).cast("string"), F.lit(": ["),
        sec, F.lit("."), nanos, F.lit(", "), body, F.lit("]"),
    )


def json_date_col(ts: Column, date_format: str) -> Column:
    """Render the record time per json_date_format
    (flb_pack.c:1245-1276; option names :1111-1131; vectors
    tests/internal/pack.c:1126-1150): double = sec.usec, iso8601 =
    quoted %Y-%m-%dT%H:%M:%S.%06uZ (UTC), java_sql_timestamp = quoted
    %Y-%m-%d %H:%M:%S.%06u, epoch = bare seconds, epoch_ms/millis/
    milliseconds = bare milliseconds."""
    f = date_format.lower()
    ts = ts.cast("timestamp")
    micros = F.lpad((F.unix_micros(ts) % 1000000).cast("string"), 6, "0")
    if f == "double":
        return F.concat(F.unix_timestamp(ts).cast("string"), F.lit("."), micros)
    if f == "java_sql_timestamp":
        return F.concat(
            F.lit('"'), F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
            F.lit("."), micros, F.lit('"'),
        )
    if f == "iso8601":
        return F.concat(
            F.lit('"'), F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("."), micros, F.lit('Z"'),
        )
    if f == "epoch":
        return F.unix_timestamp(ts).cast("string")
    if f in ("epoch_ms", "epoch_millis", "epoch_milliseconds"):
        return F.unix_millis(ts).cast("string")
    raise ValueError(f"unknown json_date_format {date_format!r}")  # :1130 -1


def json_line(df: DataFrame, s: SinkSpec, ts_col: Optional[str]) -> Column:
    """One flb json-lines record: {"<date_key>":<ts>, ...record}
    (flb_pack_msgpack_to_json_format FLB_PACK_JSON_FORMAT_LINES — the
    out_file json path, file.c). The record body renders via
    fb_json_body (nulls kept and strings escaped exactly like the
    msgpack->json conversion, jsonesc module); the date key is injected
    first, as the reference does."""
    body_cols = [c for c in df.columns if c != ts_col]
    if not body_cols:
        raise ValueError("json_date_format sink needs at least one record column")
    body = fb_json_body(df, body_cols)
    if ts_col is None:
        return body
    date = json_date_col(F.col(ts_col), s.json_date_format)
    return F.concat(
        F.lit('{"%s":' % s.json_date_key),
        date,
        F.when(F.length(body) > 2, F.lit(",")).otherwise(F.lit("")),
        F.substring(body, 2, 2147483647),
    )


def _text_line(df: DataFrame, s: SinkSpec) -> Column:
    """Render a record to one text line per out_file's line formats
    (file.c:196-230): ltsv = tab-separated label:value over all fields;
    plain = space-joined values; template = '{key}' substitution."""
    cols = [c for c in df.columns]
    if s.fmt == "ltsv":
        delim = _check_delimiter(s.delimiter) or "\t"
        label = _check_delimiter(s.label_delimiter) or ":"
        return F.concat_ws(
            delim,
            *[F.concat(F.lit(f"{c}{label}"), F.coalesce(F.col(c).cast("string"), F.lit(""))) for c in cols],
        )
    if s.fmt == "plain":
        return F.concat_ws(" ", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols])
    # template
    import re as _re

    parts: list[Column] = []
    last = 0
    tmpl = s.template or ""
    for m in _re.finditer(r"\{(\w+)\}", tmpl):
        if m.start() > last:
            parts.append(F.lit(tmpl[last : m.start()]))
        name = m.group(1)
        parts.append(
            F.coalesce(F.col(name).cast("string"), F.lit("")) if name in cols else F.lit(m.group(0))
        )
        last = m.end()
    if last < len(tmpl):
        parts.append(F.lit(tmpl[last:]))
    return F.concat(*parts) if parts else F.lit("")
