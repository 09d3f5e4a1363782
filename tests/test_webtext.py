"""HTML -> text extraction: spec goldens, JVM-vs-fused byte-identity,
and the webgen roundtrip that proves byte-identical extracted text per
url."""

import contextlib

from pyspark.sql import functions as F

from fluent_bit_spark import webtext
from fluent_bit_spark.parsers import APACHE, RegexParser, onig_to_python
from fluent_bit_spark.webgen import generate
from fluent_bit_spark.webtext import extract_parse_arrow


def _extract_one(spark, html: str) -> dict:
    df = spark.createDataFrame([(html.encode("utf-8"),)], "html binary")
    row = (
        df.select(
            webtext.html_to_text(F.col("html")).alias("text"),
            webtext.extract_title(F.col("html")).alias("title"),
            webtext.extract_links(F.col("html")).alias("links"),
        )
        .collect()[0]
    )
    return {"text": row["text"], "title": row["title"], "links": row["links"]}


GOLDEN = (
    '<html><head><title> My &amp; Page </title>'
    "<script>var x = 1 < 2; // <p>not text</p></script>"
    "<style>p { color: red }</style></head>"
    "<body><!-- hidden <b>comment</b> -->"
    "<h1>Heading &lt;one&gt;</h1>"
    '<p>alpha&nbsp;beta   gamma</p><br/>'
    '<p>literal &amp;lt; stays</p>'
    '<a href="https://x.example/1">one</a> '
    "<a href='unquoted'>skipped</a>"
    '<a href="/rel/2">two</a></body></html>'
)


def test_golden_extraction(spark):
    got = _extract_one(spark, GOLDEN)
    assert got["title"] == "My & Page"
    # script/style/comment gone; block closers newline; entities decoded;
    # &amp;lt; double-escape stays literal "&lt;"
    assert got["text"] == (
        "My & Page\nHeading <one>\nalpha beta gamma\n\n"  # </p><br/> = para break
        "literal &lt; stays\none skipped two"
    )
    assert got["links"] == ["https://x.example/1", "/rel/2"]


TRICKY = [
    "",
    "plain text no markup",
    "<p>unclosed",
    "a < b and c > d",  # bare angle brackets: "< b and c >" is a tag per spec
    "<SCRIPT>UPPER()</SCRIPT>after",
    "<script src='x'>\nmulti\nline\n</script>ok",
    "<style\n>css</style\t>done",
    "tabs\t\tand\r\ncrlf",
    "<ul><li>a</li><li>b</li></ul>",
    "&amp;amp; &amp; &lt;p&gt;",
    "<br><br><br><br>",
    "<div><div><p>nested</p></div></div>",
    "<!-- unterminated comment",
    "<title>only title</title>",
    "ünïcödé <b>bold</b> text",
    "<p>a</p>\n\n\n\n<p>b</p>",
    # unicode case-folding traps: python re (?i) matches 'ſcript' (long
    # s) and '\b' treats 'ü' as a word char — java/RE2 disagree; the
    # spec pins ASCII semantics via [sS][cC].. classes and _TAG_REST
    "<ſcript>not a script</ſcript> kept",
    "<SCRIPTü>x</script> boundary",
    "<scripté>y</script> tail",
    "<TıTLE>dotless i</TıTLE>",
]


def _jvm_and_fused(df, key="i"):
    """{key: (text, title, n_links)} from the JVM codegen expressions and
    from the fused Arrow/RE2 operator, over the same rows."""
    html = F.col("html")
    jvm = df.select(
        key,
        webtext.html_to_text(html).alias("text_extracted"),
        webtext.extract_title(html).alias("title"),
        F.size(webtext.extract_links(html)).alias("n_links"),
    )
    fused = extract_parse_arrow(df, APACHE)

    def rows(frame):
        return {
            r[key]: (r["text_extracted"], r["title"], r["n_links"])
            for r in frame.select(key, "text_extracted", "title", "n_links").collect()
        }

    return rows(jvm), rows(fused)


def _partitioned(spark, rows, schema, sizes):
    """rows laid out over len(sizes) partitions holding exactly
    sizes[k] rows each, in order (a pair RDD keyed by partition id)."""
    assert sum(sizes) == len(rows)
    keyed, it = [], iter(rows)
    for p, n in enumerate(sizes):
        keyed += [(p, next(it)) for _ in range(n)]
    rdd = spark.sparkContext.parallelize(keyed, len(sizes))
    return spark.createDataFrame(
        rdd.partitionBy(len(sizes), lambda p: p).values(), schema
    )


@contextlib.contextmanager
def _small_arrow_batches(spark, n):
    """Arrow batches of at most n rows inside the block, so one
    partition is several batches and each is split into two halves."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_engines_byte_identical(spark):
    """jvm codegen chain vs the fused arrow/RE2 mapInArrow: identical
    text, title and link count on every tricky fragment, the golden
    page, AND 300 generated Common-Crawl-shape pages."""
    rows = [(i, t.encode("utf-8")) for i, t in enumerate(TRICKY + [GOLDEN])]
    jvm, fused = _jvm_and_fused(spark.createDataFrame(rows, "i long, html binary"))
    assert jvm == fused

    pages = generate(spark, 300, partitions=4)
    jvm, fused = _jvm_and_fused(pages, key="url")
    assert len(jvm) == 300
    assert jvm == fused

    # partitions of 0, 1 and odd numbers of rows, cut into
    # 3-row Arrow batches: identical values, and the fused crossing
    # keeps every partition's rows in input order
    df = _partitioned(spark, rows, "i long, html binary", [0, 1, 7, len(rows) - 8])
    with _small_arrow_batches(spark, 3):
        jvm, fused = _jvm_and_fused(df)
        assert jvm == fused
        order = [
            [r["i"] for r in part]
            for part in extract_parse_arrow(df, APACHE).select("i").rdd.glom().collect()
        ]
    assert order == [[r["i"] for r in part] for part in df.rdd.glom().collect()]
    assert [len(part) for part in order] == [0, 1, 7, len(rows) - 8]


def test_extract_stage_keep_html_prunes(spark):
    """keep_html=False drops the wide binary column at the seam on both
    paths (keep_html=True keeps it); the extracted columns are there."""
    pages = generate(spark, 50, partitions=2)
    for keep in (False, True):
        for path, out in (
            ("jvm", webtext.extract_stage(pages, engine="jvm", keep_html=keep)),
            ("fused", extract_parse_arrow(pages, APACHE, keep_html=keep)),
        ):
            assert ("html" in out.columns) == keep, (path, keep)
            assert {"text_extracted", "title", "n_links"} <= set(out.columns), path
            assert out.count() == 50, path


def test_webgen_roundtrip_byte_identical_per_url(spark):
    """The north-rule invariant on the actual input-shape table: text
    extracted from the html binary == the generator's text column
    (modulo the known title prefix), checked per url."""
    pages = generate(spark, 500, partitions=8)
    out = webtext.extract_stage(pages, engine="jvm")
    bad = out.filter(
        F.col("text_extracted")
        != F.concat(F.col("title"), F.lit("\n"), F.col("text"))
    ).count()
    assert bad == 0
    # and the title is the deterministic p<id>
    assert out.filter(~F.col("title").rlike(r"^p\d+$")).count() == 0


def test_url_parts(spark):
    rows = [
        ("https://d17.example.com/a/b?id=9",),
        ("http://sub.deep.host.org/",),
        ("ftp://files.example.net",),
        ("not a url",),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = df.select(
        webtext.url_host(F.col("url")).alias("h"),
        webtext.url_domain(F.col("url")).alias("d"),
    ).collect()
    assert [(r["h"], r["d"]) for r in got] == [
        ("d17.example.com", "example.com"),
        ("sub.deep.host.org", "host.org"),
        ("files.example.net", "example.net"),
        ("", ""),
    ]


def test_extract_parse_arrow_requires_skip_empty(spark):
    """The fused engine refuses skip_empty_values=False: RE2 yields ''
    for non-participating optional groups where java.util.regex yields
    null, and only the skip-empty nulling reconciles the engines."""
    import dataclasses

    import pytest

    pages = generate(spark, 5, partitions=1)
    bad = dataclasses.replace(APACHE, skip_empty_values=False)
    with pytest.raises(ValueError, match="skip_empty_values"):
        extract_parse_arrow(pages, bad)


def test_fused_extract_parse_equals_unfused(spark):
    """extract_parse_arrow (one mapInArrow crossing) is value-identical
    to the JVM reference path, extract_stage + parse_stage, on every
    shared column, including the JVM-side parsed timestamp."""
    from fluent_bit_spark.pipeline import extract_parse_stage, parse_stage

    pages = generate(spark, 500, partitions=4).drop("text")
    fused = extract_parse_stage(pages)
    unfused = parse_stage(
        webtext.extract_stage(pages, engine="jvm", keep_html=False),
        engine="jvm",
        text_col="text_extracted",
    )
    common = [c for c in fused.columns if c in unfused.columns]
    a, b = fused.select(common), unfused.select(common)
    n = a.count()
    assert n == 500
    assert a.intersectAll(b).count() == n


def test_null_html_is_empty_document_on_every_engine(spark):
    """Spec step 0: NULL html = empty document (text '', title '',
    n_links 0) — identical on the jvm and fused paths (instead of null
    propagation)."""
    df = spark.createDataFrame(
        [(1, None), (2, b"<p>x</p>")], "i long, html binary"
    )
    expect = {1: ("", "", 0), 2: ("x", "", 0)}
    out = webtext.extract_stage(df, engine="jvm")
    got = {
        r["i"]: (r["text_extracted"], r["title"], r["n_links"])
        for r in out.collect()
    }
    assert got == expect, got
    assert _jvm_and_fused(df) == (expect, expect)

    # and the fused parse: null html parses to no LOG line, all groups null
    fused = extract_parse_arrow(df, APACHE).select("i", "text_extracted", "host")
    got = {r["i"]: (r["text_extracted"], r["host"]) for r in fused.collect()}
    assert got == {1: ("", None), 2: ("x", None)}


def test_missing_html_col_fails_fast(spark):
    """pyarrow get_field_index returns -1 for unknown names and
    column(-1) silently reads the LAST column — the fused path must
    refuse a missing input column instead of extracting garbage (the JVM
    path fails Spark's own analysis)."""
    import pytest
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame([("a", "b")], "text string, lang string")
    with pytest.raises(ValueError, match="html"):
        extract_parse_arrow(df, APACHE)
    with pytest.raises(AnalysisException, match="html"):
        webtext.extract_stage(df, engine="jvm")


def test_line_pat_first_paren_rewrite(spark):
    """The line_pat capture-group naming skips escaped and non-capturing
    parens instead of blindly rewriting the first '('."""
    html = "<p>head</p>\nLOG 1.2.3.4 - - [t] \"GET /x\" 200 7".encode()
    df = spark.createDataFrame([(1, html)], "i long, html binary")
    # non-capturing group BEFORE the real capture group
    out = extract_parse_arrow(
        df, APACHE, line_pat=r"(?:\n|^)LOG ([^\n]+)"
    ).select("host", "code").collect()[0]
    assert (out["host"], out["code"]) == ("1.2.3.4", "200")

    import pytest
    with pytest.raises(ValueError, match="capturing group"):
        extract_parse_arrow(df, APACHE, line_pat=r"LOG \S+")


MALFORMED = [
    b"<p>ok</p>",                      # valid row in the same batch
    b"<p>\xff\xfe bad</p>",            # lone invalid bytes
    b"<p>\xe2\x82 truncated</p>",      # truncated 3-byte sequence
    b"\xc0\xafoverlong",               # overlong encoding
    b"ends mid\xe2",                   # truncated at end of doc
    b"lone cont \x80\x80 x",           # stray continuation bytes
    b"\xed\xa0\x80 surrogate",         # UTF-8-encoded surrogate
    b"<title>t\xffitle</title><p>body</p>",  # malformed inside markup
]


def test_malformed_utf8_is_lossy_not_fatal(spark):
    """Spec step 1: invalid UTF-8 decodes LOSSILY (maximal-subpart
    U+FFFD) on both paths instead of failing the task — one bad
    Common-Crawl page must not kill a 10^12-row job. Both agree
    byte-for-byte with python's errors='replace'."""
    rows = [(i, b) for i, b in enumerate(MALFORMED)]
    df = spark.createDataFrame(rows, "i long, html binary")

    jvm, fused = _jvm_and_fused(df)
    assert jvm == fused
    # one batch holding every row: the valid half and the invalid half
    # of it decode on separate threads, one of them by the per-row
    # fallback
    assert _jvm_and_fused(df.coalesce(1)) == (jvm, fused)
    # the replacement char itself survives extraction as text
    assert "�" in jvm[1][0] and "bad" in jvm[1][0]
    # malformed title decodes lossily and doesn't poison the body
    assert jvm[7] == ("t�itle\nbody", "t�itle", 0)

    # fused parse: parse columns null, no task failure
    assert extract_parse_arrow(df, APACHE).filter(F.col("host").isNotNull()).count() == 0


def test_engine_identity_property(spark):
    """Property test: on randomized HTML-ish fragments (nested tags,
    stray angle brackets, entities, unicode, partial script/style/
    comment blocks), the jvm and fused paths return identical text,
    title and link count."""
    import random

    rng = random.Random(42)
    atoms = [
        "<p>", "</p>", "<script>", "</script>", "<STYLE x=1>", "</style>",
        "<!--", "-->", "<br/>", "<div >", "</div>", "&amp;", "&lt;",
        "&amp;lt;", "plain", "tëxt", "ſcript", "a<b", "c>d", "\n", "\t",
        "  ", '<a href="/x">', "</a>", "<TITLE>", "</title>", "<hr>",
        "<h3>", "</h3>", "\r\n", "&nbsp;", "ü", "<", ">", '"q"',
    ]
    frags = [
        "".join(rng.choice(atoms) for _ in range(rng.randint(0, 14)))
        for _ in range(120)
    ]
    rows = [(i, t.encode("utf-8")) for i, t in enumerate(frags)]
    jvm, fused = _jvm_and_fused(spark.createDataFrame(rows, "i long, html binary"))
    assert len(jvm) == len(fused) == 120
    bad = [i for i in jvm if jvm[i] != fused[i]]
    assert not bad, [(i, frags[i], jvm[i], fused[i]) for i in bad[:3]]


def test_normalize_url_vectors(spark):
    """webtext.normalize_url canonicalization contract: scheme/host
    lowercase, fragment gone, default ports gone, tracking params
    dropped (utm_*/gclid/fbclid/ref, exact-key anchored), trailing
    slash stripped off non-root paths only."""
    from fluent_bit_spark.webtext import normalize_url

    vectors = [
        ("HTTP://Example.COM:80/Path/?utm_source=x&id=3#frag", "http://example.com/Path?id=3"),
        ("https://A.com:443/", "https://a.com/"),
        ("https://a.com/p/q/", "https://a.com/p/q"),
        ("http://a.com/?utm_a=1&utm_b=2", "http://a.com/"),
        ("http://a.com/x?a=1&fbclid=2&b=3", "http://a.com/x?a=1&b=3"),
        ("http://a.com:8080/x", "http://a.com:8080/x"),  # non-default port kept
        ("http://a.com", "http://a.com"),
        ("http://a.com/x?ref=nav", "http://a.com/x"),
        ("http://a.com/x?refresh=1", "http://a.com/x?refresh=1"),  # 'ref' is anchored
        ("  http://a.com/x  ", "http://a.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in vectors], "u string")
    got = {
        r["u"]: r["n"]
        for r in df.select("u", normalize_url(F.col("u")).alias("n")).collect()
    }
    for u, want in vectors:
        assert got[u] == want, (u, got[u], want)


def test_fused_kernel_error_fails_the_action(spark):
    """A kernel error on a worker thread fails the task and the action
    (no hang, no partial result): a backreference is valid python re
    but RE2 rejects it when the kernel compiles the parser regex."""
    import re
    import threading

    from pyspark.errors import PythonException

    bad = RegexParser("backref", r"^(?<host>\S+) \1$")
    assert re.compile(onig_to_python(bad.regex))
    pages = generate(spark, 40, partitions=2)
    outcome = {}

    def act():
        try:
            outcome["rows"] = extract_parse_arrow(pages, bad).collect()
        except Exception as e:  # noqa: BLE001 -- asserted below
            outcome["error"] = e

    with _small_arrow_batches(spark, 7):
        t = threading.Thread(target=act, daemon=True)
        t.start()
        t.join(timeout=180)
    assert not t.is_alive(), "the action hung"
    assert "rows" not in outcome
    assert isinstance(outcome.get("error"), PythonException), outcome
    assert "regular expression" in str(outcome["error"])


def test_zip_finder_eviction(tmp_path):
    """The per-task eviction drops every cached zipimporter, keeps every
    other finder, and imports from the same zip still work after it."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("fbs_evict_a.py", "VALUE = 'a'\n")
        z.writestr("fbs_evict_b.py", "VALUE = 'b'\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("fbs_evict_a").VALUE == "a"
        cache = sys.path_importer_cache
        assert isinstance(cache[archive], zipimport.zipimporter)
        others = {
            k: v for k, v in cache.items() if not isinstance(v, zipimport.zipimporter)
        }

        webtext._make_zip_finder_eviction()()

        assert not [v for v in cache.values() if isinstance(v, zipimport.zipimporter)]
        assert all(cache.get(k) is v for k, v in others.items())
        assert importlib.import_module("fbs_evict_b").VALUE == "b"
        assert isinstance(cache[archive], zipimport.zipimporter)
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for m in ("fbs_evict_a", "fbs_evict_b"):
            sys.modules.pop(m, None)
