"""HTML -> text extraction over the binary ``html`` column.

BASELINE.json's input_hint carries Common-Crawl-style pages as
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` and demands "byte-identical extracted text per url" from
"vectorized pandas/Arrow UDFs ... over the binary html/text columns".
This module is that extraction step, with TWO paths that are
golden-tested byte-identical:

* **jvm** (:func:`extract_stage`, :func:`html_to_text`) — a chain of
  ``regexp_replace`` Catalyst expressions (whole-stage codegen, zero
  Python): the reference path the DuckDB oracle replays.
* **fused** (:func:`extract_parse_arrow`) — the same normative regex
  sequence as ``pyarrow.compute`` RE2 chains inside ONE ``mapInArrow``
  crossing that also runs the regex parse: the production path, and
  the place a real deployment would swap in trafilatura/bs4 per batch.

The extraction spec is deliberately deterministic and closed (so three
independent implementations — JVM, Arrow/RE2, and the DuckDB oracle —
agree byte-for-byte):

  0. a NULL html value is the empty document (text "", title "",
     0 links) — identical across engines by construction
  1. decode the binary as UTF-8, LOSSILY: malformed sequences become
     U+FFFD per the Unicode maximal-subpart rule (what python
     ``errors="replace"`` and Spark ``make_valid_utf8`` both implement
     — verified byte-identical on overlong/truncated/surrogate/lone-
     continuation vectors). Real Common-Crawl payloads contain invalid
     UTF-8; a throwing decode (Spark 4 ANSI ``decode``, pyarrow's
     binary->string cast) turns one bad page into a failed task, and
     at 10^12 rows a failed task with deterministic input is a failed
     JOB — the decode step must be total
  2. drop <script>...</script> and <style>...</style> blocks
  3. drop <!-- comments -->
  4. <br>/<hr> and closing block-level tags become a newline
  5. every remaining <tag> is dropped
  6. named entities are decoded: &nbsp; -> space, &lt; &gt; &quot;
     &#39; &apos;, and &amp; -> & LAST (so "&amp;lt;" correctly
     yields the literal text "&lt;")
  7. whitespace is normalized: runs of spaces/tabs/CR collapse to one
     space, spaces around newlines are stripped, 3+ newlines collapse
     to a blank line, and the result is trimmed

All regexes stay inside the common RE2 / java.util.regex / python-re
dialect so the identical pattern strings run on all three engines:
explicit character classes instead of ``\\s``/``\\b`` (unicode-aware in
python, ASCII in java/RE2), ``[sS][cC]..`` classes instead of ``(?i)``
(python/RE2 case-fold unicode — ``(?i)script`` matches ``ſcript`` —
java does not; verified divergence), and no backreferences or
lookaround (RE2 has neither).

Reference: the text/html handling the reference applies per record is a
raw passthrough (pack/flb_pack.c keeps payloads opaque); extraction
here is the web-page analogue of its parser stage
(src/flb_parser.c:680 flb_parser_do) applied to markup instead of log
lines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sqltext import sql_ident

# ---------------------------------------------------------------------------
# The normative extraction sequence: (pattern, replacement) pairs applied
# in order. Patterns are valid and equivalent in java.util.regex (Spark),
# python re, and RE2 (the fused pyarrow path and the DuckDB oracle).
# ---------------------------------------------------------------------------

def _ci(word: str) -> str:
    """ASCII-case-insensitive literal: '[sS][cC]...' classes instead of
    the (?i) flag. (?i) is NOT portable across the three engines: python
    re full-casefolds unicode ((?i)script matches 'ſcript', long s),
    RE2 simple-folds it too, but java.util.regex without UNICODE_CASE is
    ASCII-only — a real divergence on real web text (verified). Explicit
    classes pin ASCII semantics on every engine."""
    return "".join(f"[{c}{c.upper()}]" if c.isalpha() else c for c in word)


# ASCII-word boundary after a tag name, RE2-compatible (RE2 has no
# lookahead; \b is unicode-aware in python but ASCII in java/RE2 — same
# portability trap as (?i)): the name is followed either by '>' or by a
# non-ASCII-word char then anything up to '>'.
_TAG_REST = r"(?:>|[^>a-zA-Z0-9_][^>]*>)"

_BLOCK_CLOSERS = "|".join(
    _ci(w)
    for w in (
        "p div li tr title ul ol table blockquote pre "
        "section article header footer figure figcaption dd dt"
    ).split()
) + "|[hH][1-6]"

# Each step is one full pass over the (long) raw-html strings — memory
# traffic, not regex CPU, is the scale cost — so same-replacement steps
# are merged into alternations: script/style/comment all erase to " "
# (one pass), <br>/<hr> and block closers both break to "\n" (one pass).
# The br/closer merge is exactly the sequential result (the alternatives
# match disjoint substrings). The script/style/comment merge is a SPEC
# CHANGE for pathologically interleaved blocks: leftmost-first
# alternation instead of script-pass-then-style-pass (e.g.
# '<style>a<script>b</style>c</script>' now keeps 'c', not 'a'). The
# constants are the single normative source both paths + the
# DuckDB oracle replay, so the change lands everywhere at once
# (goldens + jvm-vs-fused byte-identity tests pin it). Measured 6->3
# passes = -17% e2e extraction wall time at 3M docs.
STRIP_STEPS: list[tuple[str, str]] = [
    (
        r"(?s)<" + _ci("script") + _TAG_REST + r".*?</" + _ci("script") + r"[ \t]*>"
        r"|<" + _ci("style") + _TAG_REST + r".*?</" + _ci("style") + r"[ \t]*>"
        r"|<!--.*?-->",
        " ",
    ),
    (
        r"<(?:" + _ci("br") + "|" + _ci("hr") + r")[ \t]*/?>"
        r"|</(?:" + _BLOCK_CLOSERS + r")[ \t]*>",
        "\n",
    ),
    (r"(?s)<[^>]*>", " "),
]

ENTITY_STEPS: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # last, so double-escaped entities stay literal
]

# Step 1 matches only runs that actually NEED rewriting (2+ chars, or a
# single non-space whitespace char) — a single plain space maps to
# itself, and most matches of the naive `[ \t\r\f]+` are exactly those
# no-op single spaces (measured 3.5x on the corpus; leftmost-first
# alternation + greedy {2,} make it value-identical on every engine).
WS_STEPS: list[tuple[str, str]] = [
    (r"[ \t\r\f]{2,}|[\t\r\f]", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
]

# Final normative step: trim this exact character set from both ends.
# Kept OUT of WS_STEPS so each engine can use its native trim (F.btrim /
# pc.utf8_trim / DuckDB trim) — mathematically identical
# to the anchored-regex strip and ~7x faster than running it as a regex.
TRIM_CHARS = " \t\r\n\f"


def _html_str(col: Column) -> Column:
    """binary -> UTF-8 string; NULL html is the empty document (spec
    step 0) so both paths yield text=""/title=""/n_links=0 instead of
    propagating null.

    Lossy decode (spec step 1): CAST(binary AS STRING) reinterprets the
    bytes (never throws — unlike ANSI ``decode``, which fails the task
    on the first malformed page) and ``make_valid_utf8`` substitutes
    U+FFFD with maximal-subpart semantics, byte-identical to python's
    ``errors="replace"`` (test_webtext malformed-vector test)."""
    return F.coalesce(F.make_valid_utf8(col.cast("string")), F.lit(""))


def html_to_text(html: Column) -> Column:
    """JVM engine: the full extraction spec as one codegen expression
    chain. Narrow, shuffle-free; at 10^12 rows this runs fused into the
    scan stage with nothing crossing the wire."""
    out = _html_str(html)
    for pat, rep in STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for lit, rep in ENTITY_STEPS:
        out = F.replace(out, F.lit(lit), F.lit(rep))
    for pat, rep in WS_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.btrim(out, F.lit(TRIM_CHARS))


def extract_title(html: Column) -> Column:
    """<title> content, entity-decoded and whitespace-normalized (the
    same steps 6-7 the body text gets)."""
    pat = r"(?s)<" + _ci("title") + r"[^>]*>(.*?)</" + _ci("title")
    out = F.regexp_extract(_html_str(html), pat, 1)
    for lit, rep in ENTITY_STEPS:
        out = F.replace(out, F.lit(lit), F.lit(rep))
    for pat, rep in WS_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.btrim(out, F.lit(TRIM_CHARS))


def extract_links(html: Column) -> Column:
    """array<string> of href targets, document order, raw (un-decoded)."""
    pat = _ci("href") + r'[ \t]*=[ \t]*"([^"]*)"'
    return F.regexp_extract_all(_html_str(html), F.lit(pat), F.lit(1))


def url_host(url: Column) -> Column:
    """Host part of an http(s) URL (no parse_url so the DuckDB oracle
    can replay the identical regex)."""
    return F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)


def url_domain(url: Column) -> Column:
    """Registrable-ish domain: last two dot-labels of the host (the
    public-suffix-list refinement is a broadcast-dict swap-in; two
    labels is the deterministic, oracle-replayable core)."""
    return F.regexp_extract(url_host(url), r"([^.]+\.[^.]+)$", 1)


# query params that never affect page identity (the usual web-crawl
# canonicalization drop set)
_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|ref)(=|$)"


def normalize_url(url: Column) -> Column:
    """Canonicalize a URL for URL-level dedup — the cheapest dedup tier
    in a crawl pipeline (runs before any content hashing):

    1. trim; drop the #fragment;
    2. lowercase the scheme://host[:port] head (path/query keep case);
    3. drop default ports (:80 for http, :443 for https);
    4. drop tracking query params (utm_*, gclid, fbclid, ref); drop the
       '?' if nothing survives;
    5. drop one trailing '/' from a non-root path.

    Pure Catalyst (regex + array ops, codegen); every step is RE2-safe
    (no lookaround) so a DuckDB oracle replays it verbatim. Param ORDER
    is preserved (sorting params canonicalizes more aggressively but
    changes identity of deliberately ordered APIs — documented choice).
    """
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    head = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    u = F.concat(F.lower(head), F.substring(u, F.length(head) + 1, F.lit(2147483647)))
    u = F.regexp_replace(u, r"^(http://[^/?:]*):80([/?]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?:]*):443([/?]|$)", r"$1$2")
    base = F.substring_index(u, "?", 1)
    q = F.when(u.contains("?"), F.substring(u, F.length(base) + 2, F.lit(2147483647)))
    # trailing slash on a non-root path (the root '/' right after the
    # host stays; the host atom is anchored scheme-first so it cannot
    # under-consume and eat the root slash)
    base = F.regexp_replace(
        base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]+/.*[^/])/$", r"$1"
    )
    kept = F.filter(
        F.split(q, "&"), lambda p: ~p.rlike(_TRACKING_PARAM_RE)
    )
    return F.when(
        q.isNotNull() & (F.size(kept) > 0),
        F.concat(base, F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(base)


# Fused-path pattern literals (python re + RE2 dialect; the JVM path
# keeps its java.util.regex (?<t>...) form inline).
TITLE_PAT = r"(?s)<" + _ci("title") + r"[^>]*>(?P<t>.*?)</" + _ci("title")
HREF_PAT = _ci("href") + r'[ \t]*=[ \t]*"[^"]*"'


def _make_arrow_decoder():
    """Returns the fused path's UTF-8 decode step (spec step 1), built
    as a local function so mapInArrow closures serialize it BY VALUE —
    workers keep needing no package import beyond the captured steps.

    Fast path: pyarrow's vectorized binary->string cast, which VALIDATES
    and raises ArrowInvalid on the first malformed sequence. Only a
    batch that actually contains invalid UTF-8 (rare; one bad page)
    falls back to per-row lossy decode — python ``errors="replace"``
    implements the same maximal-subpart U+FFFD substitution as the JVM
    engine's make_valid_utf8 (verified identical, test_webtext)."""

    def decode_utf8(raw, pa, pc):
        if pa.types.is_string(raw.type) or pa.types.is_large_string(raw.type):
            return raw
        try:
            return pc.cast(raw, pa.string())
        except pa.lib.ArrowInvalid:
            return pa.array(
                [
                    None if b is None else bytes(b).decode("utf-8", "replace")
                    for b in raw.to_pylist()
                ],
                pa.string(),
            )

    return decode_utf8


def _make_zip_finder_eviction():
    """Returns the fused path's per-task zip-finder eviction, built as a
    local function (like :func:`_make_arrow_decoder`) so the mapInArrow
    closure serializes it by value.

    A reused Python worker starts each task with PySpark's
    ``setup_spark_files``, whose ``importlib.invalidate_caches()`` makes
    every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
    archive's central directory: pyspark.zip, py4j and the spark-core
    jar, ~120-220 ms per task. ``sys.path_importer_cache`` is only a
    cache: an import that needs one of those paths rebuilds its finder
    from ``zipimport._zip_directory_cache`` without a re-read, so
    dropping the zip entries during one task saves the reload at the
    next.
    Other finders stay. A zip replaced on disk under the same path is
    not re-read by a later task of the same worker; Spark does not
    support overwriting a file it has added, so its own includes never
    are."""

    def evict_zip_finders():
        import sys
        import zipimport

        cache = sys.path_importer_cache
        for path, finder in list(cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del cache[path]

    return evict_zip_finders


def _require_html_col(df: DataFrame, html_col: str) -> None:
    """Fail fast on a missing input column: pyarrow's
    Schema.get_field_index returns -1 for an unknown name and
    batch.column(-1) silently reads the LAST column — a misconfigured
    html_col would otherwise extract garbage and complete 'successfully'
    with empty sinks."""
    if html_col not in df.columns:
        raise ValueError(
            f"html column {html_col!r} not in input columns {df.columns}"
        )


def _out_schema_fields(df: DataFrame, html_col: str, keep_html: bool) -> list[str]:
    return [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if keep_html or f.name != html_col
    ]


def extract_parse_arrow(
    df: DataFrame,
    parser,
    *,
    html_col: str = "html",
    line_pat: str = r"\nLOG ([^\n]+)",
    out_col: str = "text_extracted",
    title_col: str = "title",
    links_col: str = "n_links",
    ts_col: str = "__parsed_ts",
    keep_html: bool = False,
    assume_year: int = 2024,
    include_text: bool = True,
) -> DataFrame:
    """Fused extraction + regex parse: ONE ``mapInArrow`` crossing.

    ``include_text=False`` keeps the extracted text/title/line INSIDE
    the worker and ships only the parsed group columns back to the JVM:
    a routing/aggregation job never reads the body again, and
    ``mapInArrow`` output schemas are a pruning barrier — Catalyst can't
    drop a column the worker already serialized. The extracted text is
    the widest column in the frame, so for count/route jobs this halves
    the Python->JVM Arrow traffic (the n_links count column is kept —
    it's 4 bytes).

    Running extraction and the regex parse as separate python-side
    operators costs TWO JVM<->Python Arrow hops per task (extract worker
    -> JVM -> parse worker); the extracted text — the widest column in
    the frame — is serialized twice. At 10^12 rows that inter-stage
    serialization is pure overhead and it is what capped webgen scaling
    efficiency at 0.69 (BENCH.md round-3 fused table). This operator
    runs the full normative extraction spec AND the parser's
    RE2-compatible regex in the same batch loop, so one worker per task
    touches the bytes exactly once.

    Group captures come back as plain string columns (RE2 named-group
    extraction via ``pc.extract_regex``; ""-captures nulled to match the
    reference's skip_empty key-drop, flb_parser_regex.c:57-60). Time
    lookup + type casts stay JVM-side via ``parser.finish`` — they're
    cheap codegen expressions. Byte-identical to the JVM reference path,
    ``parse_stage(extract_stage(...))`` (test_webtext fused-equivalence
    test).

    Each task runs the kernel on two threads: every Arrow batch is split
    into two halves that run at once, and the halves come back in input
    order while the next batch computes (at most two batches in flight).
    pyarrow compute releases the GIL, so the halves really overlap. Two
    is fixed, not tuned: it is the two cores per task that the callers
    already reserve by sizing ``local[K]`` at half the cores
    (``perfbench.harness.spark_session``, ``bench.py``'s webgen session),
    since each task also drives a Python worker; with every core slotted
    (``local[4]`` on 4 cores) a second thread gained nothing. Before its
    first batch a task also drops the worker's cached zip finders
    (:func:`_make_zip_finder_eviction`), so the reused worker's next
    task skips a ~120-220 ms archive re-read.
    """
    from .parsers import onig_to_python

    names = parser.group_names()
    pat = onig_to_python(parser.regex)  # (?P<n>...) — RE2-compatible
    skip_empty = parser.skip_empty_values
    if not skip_empty:
        # RE2 yields "" for a non-participating optional group, the same
        # as an empty capture; only the skip_empty nulling makes both
        # mean "no key". Refuse rather than diverge from the reference's
        # null-vs-"" distinction (RegexParser.apply keeps it).
        raise ValueError(
            "extract_parse_arrow requires parser.skip_empty_values=True "
            "(RE2 ''-vs-null divergence on optional groups otherwise)"
        )

    _require_html_col(df, html_col)
    schema_fields = _out_schema_fields(df, html_col, keep_html)
    if include_text:
        schema_fields += [f"{out_col} string", f"{title_col} string"]
    schema_fields.append(f"{links_col} int")
    if include_text:
        schema_fields.append("line string")
    schema_fields += [f"`{nm}` string" for nm in names]
    out_schema = ", ".join(schema_fields)

    strip_steps = list(STRIP_STEPS)
    entity_steps = list(ENTITY_STEPS)
    ws_steps = list(WS_STEPS)
    title_pat, href_pat, trim_chars = TITLE_PAT, HREF_PAT, TRIM_CHARS
    # name line_pat's first capturing group: find the first unescaped
    # '(' that is not a '(?...' construct — a blind replace('(') would
    # corrupt patterns whose first paren is escaped or non-capturing
    m = re.search(r"(?<!\\)\((?!\?)", line_pat)
    if m is None:
        raise ValueError(f"line_pat needs a capturing group: {line_pat!r}")
    line_named = line_pat[: m.start()] + "(?P<l>" + line_pat[m.start() + 1 :]
    decode_utf8 = _make_arrow_decoder()
    evict_zip_finders = _make_zip_finder_eviction()

    def run(batches):
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.compute as pc

        evict_zip_finders()

        # the RE2 entity/whitespace chain, captured per-closure so
        # workers need no package import beyond the serialized steps
        def entity_ws(a):
            for lit, rep in entity_steps:
                a = pc.replace_substring(a, pattern=lit, replacement=rep)
            for pat_, rep in ws_steps:
                a = pc.replace_substring_regex(a, pattern=pat_, replacement=rep)
            return pc.utf8_trim(a, characters=trim_chars)

        def kernel(batch):
            idx = batch.schema.get_field_index(html_col)
            raw = batch.column(idx)
            s = decode_utf8(raw, pa, pc)  # spec step 1: lossy decode
            s = pc.fill_null(s, "")  # spec step 0: NULL html = empty doc
            text = s
            for pat_, rep in strip_steps:
                text = pc.replace_substring_regex(text, pattern=pat_, replacement=rep)
            text = entity_ws(text)
            if include_text:
                title = entity_ws(
                    pc.fill_null(pc.struct_field(pc.extract_regex(s, title_pat), "t"), "")
                )
            n_links = pc.cast(pc.count_substring_regex(s, pattern=href_pat), pa.int32())
            line = pc.fill_null(
                pc.struct_field(pc.extract_regex(text, line_named), "l"), ""
            )
            groups = pc.extract_regex(line, pat)
            names_out, arrays = [], []
            for i, f in enumerate(batch.schema):
                if keep_html or f.name != html_col:
                    names_out.append(f.name)
                    arrays.append(batch.column(i))
            if include_text:
                names_out += [out_col, title_col, links_col, "line"]
                arrays += [text, title, n_links, line]
            else:
                names_out.append(links_col)
                arrays.append(n_links)
            for nm in names:
                g = pc.struct_field(groups, nm)
                if skip_empty:
                    g = pc.if_else(pc.equal(g, ""), pa.scalar(None, pa.string()), g)
                names_out.append(nm)
                arrays.append(g)
            return pa.RecordBatch.from_arrays(arrays, names=names_out)

        # halves of one batch run at once while the previous batch's
        # halves go back to the JVM: at most two batches in flight
        with ThreadPoolExecutor(2) as pool:
            pending = deque()
            for batch in batches:
                half = (batch.num_rows + 1) // 2
                for part in (batch.slice(0, half), batch.slice(half)):
                    if part.num_rows:
                        pending.append(pool.submit(kernel, part))
                while len(pending) > 2:
                    yield pending.popleft().result()
            while pending:
                yield pending.popleft().result()

    out = df.mapInArrow(run, schema=out_schema)
    out = parser.finish(
        out, {nm: sql_ident(nm) for nm in names}, ts_col=ts_col, assume_year=assume_year
    )
    if parser.time_fmt is not None and not parser.time_keep and parser.time_key in names:
        out = out.drop(parser.time_key)
    return out


def extract_stage(
    df: DataFrame,
    engine: str = "jvm",
    html_col: str = "html",
    keep_html: bool = True,
) -> DataFrame:
    """Pipeline-stage wrapper: adds text_extracted / title / n_links via
    the JVM codegen regexp_replace chain — the reference the fused
    :func:`extract_parse_arrow` is byte-identical to (test_webtext).

    ``keep_html=False`` drops the binary column at the extraction seam —
    at 10^12 rows the html body dominates row width, and the JVM plan
    prunes it from every later stage.

    engine — only 'jvm' (the fused path is :func:`extract_parse_arrow`);
    any other value raises ValueError."""
    if engine != "jvm":
        raise ValueError(f"extract_stage engine must be 'jvm', got {engine!r}")
    html = F.col(html_col)
    out = (
        df.withColumn("text_extracted", html_to_text(html))
        .withColumn("title", extract_title(html))
        .withColumn("n_links", F.size(extract_links(html)).cast("int"))
    )
    return out.drop(html_col) if not keep_html else out
