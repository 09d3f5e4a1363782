"""End-to-end pipeline test against an independent pure-Python oracle
(SURVEY.md §5 'our mirror': per-sink counts + routed-row-set equality +
byte-identical extracted fields per url)."""

import os

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.pipeline import (
    DEFAULT_SINKS,
    parse_stage,
    run_pipeline,
)
from fluent_bit_spark.router import tag_matches
from fluent_bit_spark.webgen import generate

N = 3000


@pytest.fixture(scope="module")
def pages(spark):
    df = generate(spark, N, with_expected=True).cache()
    df.count()
    return df


def test_generator_deterministic(spark):
    a = generate(spark, 200, partitions=2).orderBy("url").collect()
    b = generate(spark, 200, partitions=7).orderBy("url").collect()
    assert a == b  # parallelism-independent


def test_parse_byte_identical_per_url(pages):
    """North-rule invariant: extracted fields byte-identical to the
    generator's oracle columns for every url."""
    parsed = parse_stage(pages)
    mism = parsed.filter(
        ~(
            (F.col("host") == F.col("expected_host"))
            & (F.col("method") == F.col("expected_method"))
            & (F.col("path") == F.col("expected_path"))
            & (F.col("code") == F.col("expected_code"))
            & (F.col("size") == F.col("expected_size"))
            & (F.coalesce(F.col("user") == F.col("expected_user"), F.col("user").isNull() & (F.col("expected_user") == "-")) | (F.col("expected_user") == "-"))
            & (
                (F.col("referer") == F.col("expected_referer"))
                | (F.col("referer").isNull() & F.col("expected_referer").isNull())
            )
            & (
                (F.col("agent") == F.col("expected_agent"))
                | (F.col("agent").isNull() & F.col("expected_agent").isNull())
            )
        )
    )
    assert mism.count() == 0


def _oracle_routes(rows):
    """Pure-Python reimplementation of tag derivation + routing."""
    matchers = {s.name: tag_matches(s.match) for s in DEFAULT_SINKS}
    sink_urls = {s.name: set() for s in DEFAULT_SINKS}
    for r in rows:
        code = r["expected_code"]
        klass = (
            "ok"
            if code.startswith("2")
            else "redirect"
            if code.startswith("3")
            else "client_error"
            if code.startswith("4")
            else "server_error"
        )
        tag = f"web.{klass}.{r['lang']}"
        agent = r["expected_agent"]
        if agent is not None and agent.startswith("bot/"):
            tag = f"bots.{r['lang']}"  # rewrite_tag $TAG[2], keep=False
        size_i = int(r["expected_size"])
        for s in DEFAULT_SINKS:
            if not matchers[s.name](tag):
                continue
            if s.name == "big_transfers" and size_i < 50000:
                continue
            sink_urls[s.name].add(r["url"])
    return sink_urls


def test_pipeline_counts_and_row_sets(pages, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(pages.sparkSession, pages, out, run_id="t1")
    oracle = _oracle_routes(pages.collect())
    for s in DEFAULT_SINKS:
        assert res.sink_counts[s.name] == len(oracle[s.name]), s.name
        got_urls = {
            r["url"]
            for r in pages.sparkSession.read.parquet(os.path.join(out, s.name))
            .select("url")
            .collect()
        } if res.sink_counts[s.name] else set()
        assert got_urls == oracle[s.name], s.name


def test_pipeline_resume(pages, tmp_path):
    out = str(tmp_path / "out2")
    spark = pages.sparkSession
    res1 = run_pipeline(spark, pages, out, run_id="r1")
    assert res1.resumed_sinks == []
    # second run with same run_id: every sink resumes from the manifest
    res2 = run_pipeline(spark, pages, out, run_id="r1")
    assert set(res2.resumed_sinks) == {s.name for s in DEFAULT_SINKS}
    assert res2.sink_counts == res1.sink_counts
    # kill one sink (simulated partial failure) -> only it re-runs
    import shutil

    shutil.rmtree(os.path.join(out, "web_ok"))
    res3 = run_pipeline(spark, pages, out, run_id="r1")
    assert "web_ok" not in res3.resumed_sinks
    assert set(res3.resumed_sinks) == {s.name for s in DEFAULT_SINKS} - {"web_ok"}
    assert res3.sink_counts == res1.sink_counts


def test_metrics_leg(pages, tmp_path):
    out = str(tmp_path / "out3")
    spark = pages.sparkSession
    run_pipeline(spark, pages, out, run_id="m1")
    m = spark.read.parquet(os.path.join(out, "_metrics", "m1"))
    # 3000 rows at 1 row/sec = 50 minutes -> 50 windows; counts sum to
    # parsed rows minus bot-rewritten ones? no — metrics runs on the routed
    # frame (bots rewritten rows still present, same code_class fields)
    total = m.agg(F.sum("n")).first()[0]
    assert total == N
    assert m.select("window_start").distinct().count() == 50


def test_removed_engines_fail_loudly(spark, tmp_path):
    """Only 'jvm' and 'fused' exist: a stale caller naming a removed
    engine gets a ValueError (or an argparse error) instead of silently
    running the JVM path."""
    import subprocess
    import sys

    from fluent_bit_spark import webtext
    from fluent_bit_spark.streaming import run_pipeline_stream

    df = generate(spark, 5, partitions=1)
    for eng in ("pandas", "arrow"):
        with pytest.raises(ValueError, match=eng):
            webtext.extract_stage(df, engine=eng)
    with pytest.raises(ValueError, match="pandas"):
        parse_stage(df, engine="pandas")
    with pytest.raises(ValueError, match="pandas"):
        run_pipeline(spark, df, str(tmp_path / "out"), engine="pandas")
    with pytest.raises(ValueError, match="pandas"):
        run_pipeline_stream(spark, df, str(tmp_path / "s"), DEFAULT_SINKS, engine="pandas")
    assert not (tmp_path / "out").exists()

    job = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "run_pipeline.py")
    proc = subprocess.run(
        [sys.executable, job, "--output", str(tmp_path / "job"), "--engine", "pandas"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2
    assert "invalid choice: 'pandas'" in proc.stderr


# ---------------------------------------------------------------------------
# Plan-construction guards for the parse -> route chain
# ---------------------------------------------------------------------------

from fluent_bit_spark.pipeline import (  # noqa: E402
    enrich_stage,
    extract_parse_stage,
    filter_stage,
    load_enrich_dims,
    tag_stage,
)
from fluent_bit_spark.router import route_flags  # noqa: E402
from fluent_bit_spark.webgen import geo_dict, lang_dict  # noqa: E402

# Per-stage output columns: (name, type), nullable unless marked "!".
_STAGE_COLUMNS = {
    "parse": [
        "url string", "warc_ts timestamp", "text string", "lang string",
        "text_extracted string", "title string", "n_links int", "line string",
        "host string", "user string", "method string", "path string",
        "code string", "size string", "referer string", "agent string",
        "log_ts timestamp",
    ],
    "filter": ["size_i bigint", "code_class string!"],
    "enrich": ["country string", "city string", "lang_name string", "family string"],
    "tag": ["tag string"],
    "route": [f"__route_{s.name} boolean!" for s in DEFAULT_SINKS],
}


def _chain(spark, pages, dims):
    parsed = extract_parse_stage(pages)
    kept = filter_stage(parsed)
    enriched = enrich_stage(kept, geo_dict(spark), lang_dict(spark), dims=dims)
    tagged = tag_stage(enriched)
    return {
        "parse": parsed, "filter": kept, "enrich": enriched, "tag": tagged,
        "route": route_flags(tagged, DEFAULT_SINKS),
    }


@pytest.fixture(scope="module")
def small_pages(spark):
    return generate(spark, 200, partitions=2)


@pytest.fixture(scope="module")
def dims(spark):
    return load_enrich_dims(geo_dict(spark), lang_dict(spark))


def test_stage_schemas_pinned(spark, small_pages, dims):
    """Names, order, types and nullability of every stage's output."""
    want = []
    for stage, frame in _chain(spark, small_pages, dims).items():
        want += _STAGE_COLUMNS[stage]
        got = [
            f"{f.name} {f.dataType.simpleString()}{'' if f.nullable else '!'}"
            for f in frame.schema
        ]
        assert got == want, stage


def test_chain_plan_shape(spark, small_pages, dims, tmp_path):
    """One Arrow crossing; the pin Filter directly above it; the
    rewrite-tag emit a single Generate, never a Union."""
    flagged = _chain(spark, small_pages, dims)["route"]
    lines = flagged._jdf.queryExecution().optimizedPlan().toString().splitlines()
    ops = [ln.lstrip(" +-:|") for ln in lines]
    assert sum(op.startswith("MapInArrow") for op in ops) == 1
    assert sum(op.startswith("Generate") for op in ops) == 1
    assert not any(op.startswith("Union") for op in ops)
    pin = next(i for i, op in enumerate(ops) if "monotonically_increasing_id" in op)
    assert ops[pin].startswith("Filter") and ops[pin + 1].startswith("MapInArrow")

    # a streaming frame gets the plain predicate: Structured Streaming
    # rejects a non-deterministic filter
    small_pages.limit(10).write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema(small_pages.schema).parquet(str(tmp_path / "in"))
    kept = filter_stage(extract_parse_stage(stream))
    plan = kept._jdf.queryExecution().analyzed().toString()
    assert "RLIKE" in plan and "monotonically_increasing_id" not in plan


def test_chain_build_py4j_budget(spark, small_pages, dims):
    """Building parse -> filter -> enrich -> tag -> route sends a bounded
    number of Py4J commands. Each F.* call or Column operator costs
    several round trips, so a builder that goes back to composing Column
    trees call by call (or F.lit per map entry) blows the budget: the
    Column-built chain sent ~5,450 commands, the SQL-text chain ~470
    when this module runs alone and up to ~940 inside the whole suite.
    Only this thread's commands count (a thread left running by another
    test may use the same gateway client), and gc is off while counting,
    so Python's proxy deletes stay out."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    me = threading.get_ident()
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return send(command, *args, **kwargs)

    _chain(spark, small_pages, dims)  # warm-up: first-use JVM lookups
    gc.disable()
    client.send_command = counting
    try:
        _chain(spark, small_pages, dims)
    finally:
        del client.send_command
        gc.enable()
    assert len(sent) <= 1500, len(sent)
