"""Deterministic Common-Crawl-shape input table generator.

Schema per BASELINE.json:input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every column derives from ``spark.range(n)`` through pure JVM expressions
(xxhash64 of the row id as the entropy source) — no Python, no RNG state,
so the same (n, seed) produces identical rows at ANY parallelism and any
cluster size; generation itself scales linearly with executors.

The ``text`` column embeds one synthetic apache-access log line per row
(FIXTURES.md F1) so the parse stage has real material; the embedded
line's fields are ALSO returned as generator-side columns in
``expected_*`` form by ``generate(..., with_expected=True)``, giving
tests a free row-level oracle without re-implementing the parser.

Domain distribution is Zipf-skewed (a few domains own most rows) to
exercise salting/AQE-skew paths, per SURVEY.md §4.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sqltext import sql_str

N_DOMAINS = 500
LANGS = ["en", "en", "en", "en", "es", "de", "fr", "zh", "pt", "ru"]  # en-heavy
METHODS = ["GET", "GET", "GET", "GET", "POST", "PUT", "HEAD"]
CODES = ["200", "200", "200", "200", "200", "301", "404", "404", "500", "503"]
PATHS = ["/", "/index.html", "/api/v1/items", "/search", "/img/logo.png",
         "/checkout", "/login", "/docs/start", "/feed.xml", "/health"]
AGENTS = ["curl/8.0", "Mozilla/5.0", "bot/2.1", "wget/1.21"]
WORDS = ["the", "data", "stream", "web", "page", "crawl", "fast", "open",
         "log", "index", "query", "batch", "scale", "shard", "merge", "sort"]


def _h(seed: int, *cols) -> "F.Column":
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _pick_sql(options: list[str], seed: int) -> str:
    """SQL text: the option that row ``id``'s seeded hash picks."""
    arr = ", ".join(sql_str(o) for o in options)
    return (
        f"element_at(array({arr}),"
        f" CAST(abs(xxhash64({seed}, id)) % {len(options)} + 1 AS INT))"
    )


def _pick(options: list[str], seed: int) -> "F.Column":
    return F.expr(_pick_sql(options, seed))


def generate(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int = 32,
    with_expected: bool = False,
) -> DataFrame:
    df = spark.range(0, n_rows, 1, partitions)
    i = F.col("id")

    # Zipf-ish domain rank via inverse-CDF over a uniform hash:
    # rank = floor(u^(-1/1.2)) capped -> rank 1 owns ~a third of rows.
    u = (_h(1, i) % 1_000_000).cast("double") / 1_000_000.0 + 1e-9
    rank = F.least(F.floor(F.pow(u, F.lit(-1.0 / 1.2))), F.lit(N_DOMAINS)).cast("long")
    domain = F.concat(F.lit("d"), rank, F.lit(".example.com"))

    lang = _pick(LANGS, 2)
    method = _pick(METHODS, 3)
    path = _pick(PATHS, 4)
    code = _pick(CODES, 5)
    agent = _pick(AGENTS, 6)
    size = (_h(7, i) % 90000 + 100).cast("string")
    host_ip = F.concat_ws(
        ".",
        (_h(8, i) % 223 + 1).cast("string"),
        (_h(9, i) % 255).cast("string"),
        (_h(10, i) % 255).cast("string"),
        (_h(11, i) % 255).cast("string"),
    )
    user = F.when(_h(12, i) % 5 == 0, _pick(["alice", "bob", "carol"], 13)).otherwise(
        F.lit("-")
    )
    # deterministic timestamp ramp, 1 row/second from a fixed base
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + i)  # 2024-01-01T00:00:00Z
    apache_time = F.concat(
        F.date_format(warc_ts, "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000")
    )
    referer = F.when(
        _h(14, i) % 4 == 0, F.concat(F.lit("https://ref"), (_h(15, i) % 50), F.lit(".example/"))
    )

    # ~20% of rows omit the optional referer/agent tail (apache pattern's
    # trailing optional group) to exercise non-participating captures
    tail = F.when(
        referer.isNotNull(),
        F.concat(F.lit(' "'), referer, F.lit('" "'), agent, F.lit('"')),
    ).otherwise(F.lit(""))
    log_line = F.concat(
        host_ip, F.lit(" - "), user, F.lit(" ["), apache_time, F.lit('] "'),
        method, F.lit(" "), path, F.lit(' HTTP/1.1" '), code, F.lit(" "), size, tail,
    )

    filler1 = F.concat_ws(" ", *[_pick(WORDS, 20 + k) for k in range(8)])
    filler2 = F.concat_ws(" ", *[_pick(WORDS, 40 + k) for k in range(6)])
    text = F.concat(filler1, F.lit("\nLOG "), log_line, F.lit("\n"), filler2)

    url = F.concat(
        F.lit("https://"), domain, path, F.lit("?id="), i
    )
    html = F.to_binary(
        F.concat(
            F.lit("<html><head><title>p"), i, F.lit("</title></head><body><p>"),
            text, F.lit("</p></body></html>"),
        ),
        F.lit("utf-8"),
    )

    out = df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )
    if with_expected:
        out = (
            df.select(
                url.alias("url"),
                warc_ts.alias("warc_ts"),
                html.alias("html"),
                text.alias("text"),
                lang.alias("lang"),
                log_line.alias("expected_line"),
                host_ip.alias("expected_host"),
                user.alias("expected_user"),
                method.alias("expected_method"),
                path.alias("expected_path"),
                code.alias("expected_code"),
                size.alias("expected_size"),
                referer.alias("expected_referer"),
                F.when(referer.isNotNull(), agent).alias("expected_agent"),
                domain.alias("expected_domain"),
            )
        )
    return out


def geo_dict(spark: SparkSession, n: int = 1000) -> DataFrame:
    """Broadcast-side geo dimension (stands in for the MaxMind MMDB of
    plugins/filter_geoip2/geoip2.c:45-110): first-octet prefix -> geo."""
    countries = ["US", "DE", "FR", "BR", "JP", "IN", "GB", "CN"]
    cities = ["nyc", "berlin", "paris", "sao-paulo", "tokyo", "mumbai", "london", "beijing"]
    # SQL text, one selectExpr: this runs on every pipeline build, and
    # the same picks as Column calls cost ~250 Py4J round trips
    return spark.range(1, 224).selectExpr(
        "CAST(id AS STRING) AS ip_prefix",
        f"{_pick_sql(countries, 101)} AS country",
        f"{_pick_sql(cities, 102)} AS city",
    )


_LANG_CACHE: dict = {}


def lang_dict(spark: SparkSession) -> DataFrame:
    cached = _LANG_CACHE.get(id(spark))
    if cached is not None:
        return cached
    rows = [
        ("en", "English", "germanic"),
        ("es", "Spanish", "romance"),
        ("de", "German", "germanic"),
        ("fr", "French", "romance"),
        ("zh", "Chinese", "sinitic"),
        ("pt", "Portuguese", "romance"),
        ("ru", "Russian", "slavic"),
    ]
    df = SparkSession.getActiveSession().createDataFrame(
        rows, "lang string, lang_name string, family string"
    )
    _LANG_CACHE[id(spark)] = df
    return df
