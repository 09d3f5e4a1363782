"""The two workloads, and the streaming pass that pipeline_count's traced
run adds. Each drives the library through its public functions only.

A workload has one shape:

- ``stage(spark, seed)`` writes the seeded input (untimed, outside
  setup; it runs in the session that launched the JVM);
- ``load(spark)`` is the per-session preparation counted in setup_s;
- ``run_pass(spark)`` is one closed-loop submission, the timed unit; it
  returns the pass's counts;
- ``reference(spark)`` computes the reference outputs after the timed
  passes (untimed);
- ``check(outcomes, perturb)`` compares the passes with the references
  and returns ``[(check name, passed)]``; ``perturb`` adds one to an
  expected count, which must make a check fail;
- ``trace(spark, tracer, root)`` is the traced pass that gives the
  per-layer metrics.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from fluent_bit_spark import webtext
from fluent_bit_spark.pipeline import (
    DEFAULT_SINKS,
    enrich_stage,
    extract_parse_stage,
    filter_stage,
    load_enrich_dims,
    parse_stage,
    tag_stage,
)
from fluent_bit_spark.router import route_flags
from fluent_bit_spark.sqlsp import SPEngine
from fluent_bit_spark.sqlsp.parser import parse_sql
from fluent_bit_spark.streaming import run_pipeline_stream, tail_source
from fluent_bit_spark.webgen import geo_dict, lang_dict

from harness import (
    WORK,
    dir_bytes_files,
    first_page_ts,
    median,
    metric_max,
    metric_sum,
    parquet_files,
    plan_metrics,
    set_scan_splits,
    stage_events,
    stage_pages,
)

SINK_NAMES = [s.name for s in DEFAULT_SINKS]

# Inputs per workload and scale. "full" is what the benchmark measures;
# "tiny" is for the self-check.
SIZES = {
    "full": {
        "pages": (6, 16000),  # files x rows per file
        "events": (8, 750_000),
        "slice_rows": 4000,  # first staged pages the JVM reference replays
        "files_per_trigger": 1,  # the traced stream pass
    },
    "tiny": {
        "pages": (4, 250),
        "events": (4, 5000),
        "slice_rows": 250,
        "files_per_trigger": 2,
    },
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class PipelineCount:
    """parse -> filter -> enrich -> tag -> route over web pages, ending
    in one per-sink count aggregate. Most of its time is the fused
    html-extraction + parse Arrow crossing."""

    name = "pipeline_count"
    slots = 2

    def __init__(self, size: dict):
        self.size = size
        self.dims = None
        self.stream_counts = None  # per-sink rows of the traced stream pass

    def stage(self, spark, seed: int) -> float:
        files, rows = self.size["pages"]
        self.path, secs = stage_pages(spark, seed, files, rows)
        self.records = files * rows
        self.first_ts = first_page_ts(seed, rows)
        return secs

    def reference(self, spark) -> None:
        # The JVM reference replays a fixed slice, the first staged pages.
        # Its extraction chain outgrows whole-stage codegen's 64 KB method
        # limit; compiling per expression avoids a failed multi-second
        # compile and the fallback's logged stack trace.
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            self.slice_jvm = self.counts(spark, sliced=True, engine="jvm")
        finally:
            spark.conf.set("spark.sql.codegen.wholeStage", "true")
        self.slice_fused = self.counts(spark, sliced=True)

    def load(self, spark) -> None:
        set_scan_splits(spark, self.path, self.slots)
        self.dims = load_enrich_dims(geo_dict(spark), lang_dict(spark))

    def pages(self, spark, sliced: bool = False):
        # ``text`` is dropped so the html extraction path runs
        pages = spark.read.parquet(self.path).drop("text")
        if sliced:
            end = F.timestamp_seconds(F.lit(self.first_ts + self.size["slice_rows"]))
            pages = pages.filter(F.col("warc_ts") < end)
        return pages

    def chain(self, spark, pages, engine: str = "fused"):
        """[(layer, frame)] prefixes of the stage chain. engine='jvm' is
        the DuckDB-replayable reference path for extraction and parse."""
        if engine == "fused":
            parsed = extract_parse_stage(pages, include_text=False)
        else:
            extracted = webtext.extract_stage(pages, engine="jvm", keep_html=False)
            parsed = parse_stage(extracted, engine="jvm", text_col="text_extracted")
        kept = filter_stage(parsed)
        enriched = enrich_stage(kept, geo_dict(spark), lang_dict(spark), dims=self.dims)
        tagged = tag_stage(enriched)
        return [
            ("scan", pages),
            ("extract_parse", parsed),
            ("filter", kept),
            ("enrich", enriched),
            ("tag", tagged),
            ("route", route_flags(tagged, DEFAULT_SINKS)),
        ]

    def counts_frame(self, spark, sliced: bool = False, engine: str = "fused"):
        flagged = self.chain(spark, self.pages(spark, sliced), engine)[-1][1]
        return flagged.agg(*[
            F.coalesce(F.sum(F.col(f"__route_{s}").cast("long")), F.lit(0)).alias(s)
            for s in SINK_NAMES
        ])

    def counts(self, spark, sliced: bool = False, engine: str = "fused") -> dict:
        return self.counts_frame(spark, sliced, engine).collect()[0].asDict()

    def run_pass(self, spark):
        return self.counts(spark)

    def check(self, outcomes, perturb: bool):
        want = dict(self.slice_jvm)
        if perturb:
            want[SINK_NAMES[0]] += 1
        checks = [
            ("passes_identical", all(o == outcomes[0] for o in outcomes)),
            ("slice_equals_jvm_reference", self.slice_fused == want),
        ]
        if self.stream_counts is not None:
            want = dict(outcomes[0])
            if perturb:
                want[SINK_NAMES[0]] += 1
            checks.append(("stream_sinks_equal_pass_counts", self.stream_counts == want))
        return checks

    def trace(self, spark, tracer, root):
        m = {}
        t0 = time.perf_counter()
        self.dims = load_enrich_dims(geo_dict(spark), lang_dict(spark))
        m["enrich.dims_load_s"] = time.perf_counter() - t0
        prefixes = self.chain(spark, self.pages(spark))
        # self time of a layer = materialising its prefix minus the prefix
        # before it; each span covers one prefix's materialisation
        prev = 0.0
        for layer, frame in prefixes:
            with tracer.span(layer, root) as sid:
                noop(frame)
            m[f"{layer}.self_s"] = tracer.duration(sid) - prev
            prev = tracer.duration(sid)
            spark.catalog.clearCache()

        with tracer.span("pipeline_count.pass", root) as sid:
            _, pm = plan_metrics(self.counts_frame(spark)._jdf)
        rate = self.records / tracer.duration(sid)
        m["scan.bytes"] = metric_sum(pm, "Scan", "filesSize")
        m["extract_parse.py_boot_s"] = metric_sum(pm, "MapInArrow", "pythonBootTime")
        m["extract_parse.py_bytes_out"] = metric_sum(pm, "MapInArrow", "pythonDataSent")
        m["extract_parse.py_bytes_in"] = metric_sum(pm, "MapInArrow", "pythonDataReceived")

        layers = dict(prefixes)
        parsed = layers["extract_parse"].agg(F.count(F.col("code")).alias("ok")).collect()[0]
        route_cols = [F.col(f"__route_{s}") for s in SINK_NAMES]
        any_route = route_cols[0]
        for c in route_cols[1:]:
            any_route = any_route | c
        flow = layers["route"].agg(
            F.count(F.lit(1)).alias("kept"),
            F.count(F.col("country")).alias("geo_hits"),
            F.count(F.col("lang_name")).alias("lang_hits"),
            F.sum(F.when(~any_route, 1).otherwise(0)).alias("unrouted"),
            *[F.sum(c.cast("long")).alias(f"n_{s}") for c, s in zip(route_cols, SINK_NAMES)],
        ).collect()[0]
        kept = max(flow["kept"], 1)
        m["parse.ok_ratio"] = parsed["ok"] / self.records
        m["filter.keep_ratio"] = flow["kept"] / self.records
        m["enrich.hit_ratio"] = (flow["geo_hits"] + flow["lang_hits"]) / (2 * kept)
        m["route.fanout"] = sum(flow[f"n_{s}"] for s in SINK_NAMES) / kept
        m["route.unrouted_ratio"] = flow["unrouted"] / kept

        stream, self.stream_counts = trace_stream(
            spark, self.path, self.records, self.size["files_per_trigger"], tracer, root)
        m.update(stream)
        return m, rate


SP_TUMBLING = (
    "SELECT user_id, COUNT(*) AS n, SUM(value) AS sv, MIN(value) AS mn, "
    "MAX(value) AS mx, AVG(value) AS av FROM STREAM:events "
    "WINDOW TUMBLING (300 SECOND) GROUP BY user_id;"
)
SP_HOPPING = (
    "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv, MIN(value) AS mn, "
    "MAX(value) AS mx, AVG(value) AS av FROM STREAM:events "
    "WINDOW HOPPING (600 SECOND, ADVANCE BY 300 SECOND) GROUP BY event_type;"
)
# DuckDB replays both queries with windows aligned as F.window aligns
# them: epoch-aligned starts, [start, start + size).
DUCK_SP = """
WITH e AS (SELECT epoch_us(ts) AS us, user_id, event_type, value
           FROM read_parquet('{glob}'))
SELECT 'tumbling' AS q, (us // 300000000) * 300 AS ws, CAST(user_id AS VARCHAR) AS k,
       count(*) AS n, sum(value) AS sv, min(value) AS mn, max(value) AS mx,
       sum(value) / count(*) AS av
FROM e GROUP BY ALL
UNION ALL
SELECT 'hopping', (us // 300000000 - h.j) * 300, event_type,
       count(*), sum(value), min(value), max(value), sum(value) / count(*)
FROM e, (VALUES (0), (1)) AS h(j) GROUP BY ALL
"""


def rows_match(got: list, want: list) -> bool:
    """Keys and counts exactly; doubles rounded to 4 places on both
    sides, where a pair that straddles a rounding boundary by float
    noise (different summation order) still matches."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got), sorted(want)):
        if g[:4] != w[:4]:
            return False
        for a, b in zip(g[4:], w[4:]):
            if round(a, 4) != round(b, 4) and not math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9):
                return False
    return True


class SpKeyed:
    """The SQL stream processor in static mode over keyed events with a
    hot key: per-key tumbling and per-type hopping windows, consumed by a
    noop write. Most of its time is shuffle and hash aggregation."""

    name = "sp_keyed"
    slots = 4
    queries = (("tumbling", SP_TUMBLING, "user_id"), ("hopping", SP_HOPPING, "event_type"))

    def __init__(self, size: dict):
        self.size = size

    def stage(self, spark, seed: int) -> float:
        files, rows = self.size["events"]
        self.path, secs = stage_events(seed, files, rows)
        self.records = files * rows
        return secs

    def reference(self, spark) -> None:
        import duckdb

        self.got = []
        for q, sql, key in self.queries:
            df = self.engine.run(sql).select(
                F.lit(q), F.unix_seconds("window_start"), F.col(key).cast("string"),
                "n", "sv", "mn", "mx", "av",
            )
            self.got += [tuple(r) for r in df.collect()]
        glob = os.path.join(self.path, "*.parquet")
        with duckdb.connect() as con:
            self.want = [tuple(r) for r in con.sql(DUCK_SP.format(glob=glob)).fetchall()]

    def load(self, spark) -> None:
        set_scan_splits(spark, self.path, self.slots)
        events = spark.read.parquet(self.path)
        self.engine = SPEngine(streams={"events": events}, mode="static", ts_col="ts")

    def run_pass(self, spark):
        """Per query: (output rows, events folded), observed in the pass."""
        out = []
        for _, sql, _ in self.queries:
            obs = Observation()
            df = self.engine.run(sql)
            noop(df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum("n").alias("n")))
            out.append((obs.get["rows"], obs.get["n"]))
        return out

    def check(self, outcomes, perturb: bool):
        want = list(self.want)
        if perturb:
            want[0] = want[0][:3] + (want[0][3] + 1,) + want[0][4:]
        per_query = [
            (sum(1 for r in want if r[0] == q), sum(r[3] for r in want if r[0] == q))
            for q, _, _ in self.queries
        ]
        return [
            ("passes_equal_duckdb_counts", all(o == per_query for o in outcomes)),
            ("rows_equal_duckdb", rows_match(self.got, want)),
        ]

    def trace(self, spark, tracer, root):
        m = {k: 0.0 for k in ("sqlsp.parse_s", "sqlsp.plan_s", "sqlsp.exec_s", "sqlsp.out_rows")}
        pm = []
        with tracer.span("sqlsp.pass", root) as pass_id:
            for _, sql, _ in self.queries:
                with tracer.span("sqlsp.parse", pass_id) as sid:
                    q = parse_sql(sql)
                m["sqlsp.parse_s"] += tracer.duration(sid)
                with tracer.span("sqlsp.plan", pass_id) as sid:
                    df = self.engine.run(q)
                m["sqlsp.plan_s"] += tracer.duration(sid)
                with tracer.span("sqlsp.exec", pass_id) as sid:
                    rows, metrics = plan_metrics(df._jdf)
                m["sqlsp.exec_s"] += tracer.duration(sid)
                m["sqlsp.out_rows"] += rows
                pm += metrics
        rate = self.records / tracer.duration(pass_id)
        m["sqlsp.shuffle_bytes"] = metric_sum(pm, "Exchange", "shuffleBytesWritten")
        m["sqlsp.shuffle_records"] = metric_sum(pm, "Exchange", "shuffleRecordsWritten")
        m["sqlsp.agg_s"] = metric_sum(pm, "HashAggregate", "aggTime")
        m["sqlsp.agg_peak_mb"] = metric_max(pm, "HashAggregate", "peakMemory") / 2**20
        m["sqlsp.spill_bytes"] = metric_sum(pm, "HashAggregate", "spillSize")
        return m, rate


def stream_pass(spark, path: str, out: str, files_per_trigger: int):
    """The pages through the streaming pipeline: a file-tail source with
    a few files per trigger, the fused engine, and parquet appends to the
    five default sinks, into a fresh output and checkpoint directory.
    Returns (per-sink rows read back, {sink: (bytes, files)}, progress
    reports of the micro-batches that read input)."""
    import pyarrow.parquet as pq

    src = tail_source(spark, path, max_files_per_trigger=files_per_trigger)
    query = run_pipeline_stream(spark, src, out, DEFAULT_SINKS, engine="fused")
    query.awaitTermination()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    counts = {
        s: sum(pq.read_metadata(p).num_rows for p in parquet_files(os.path.join(out, s)))
        for s in SINK_NAMES
    }
    stats = {s: dir_bytes_files(os.path.join(out, s)) for s in SINK_NAMES}
    shutil.rmtree(out, ignore_errors=True)
    return counts, stats, progress


def trace_stream(spark, path: str, records: int, files_per_trigger: int, tracer, root):
    """Streaming and sink layer metrics from one warmed-up stream pass.
    Trigger and sink spans come from the query's own progress reports:
    a trigger starts at its timestamp; its foreachBatch sink writes
    (addBatch) end just before the commit-log write."""
    from datetime import datetime

    out = os.path.join(WORK, f"stream-{os.getpid()}")
    stream_pass(spark, path, out, files_per_trigger)  # warm-up
    with tracer.span("stream", root) as sid:
        counts, stats, progress = stream_pass(spark, path, out, files_per_trigger)
    durations = [p["durationMs"] for p in progress]
    for p, d in zip(progress, durations):
        t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        t1 = t0 + d["triggerExecution"] / 1000
        trig = tracer.add("stream.trigger", t0, t1, sid)
        sink_end = t1 - d.get("commitOffsets", 0) / 1000
        tracer.add("sink", sink_end - d.get("addBatch", 0) / 1000, sink_end, trig)

    def med(key):
        return median([d.get(key, 0) for d in durations])

    m = {
        "stream.records_per_s": records / tracer.duration(sid),
        "stream.triggers": len(durations),
        "stream.trigger_p50_ms": med("triggerExecution"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.overhead_ms": median([d["triggerExecution"] - d.get("addBatch", 0) for d in durations]),
        "stream.planning_ms": med("queryPlanning"),
        "stream.wal_commit_ms": med("walCommit"),
        "sink.rows": sum(counts.values()),
        "sink.bytes": sum(b for b, _ in stats.values()),
        "sink.files": sum(f for _, f in stats.values()),
    }
    m["sink.out_bytes_per_record"] = m["sink.bytes"] / records
    for s in SINK_NAMES:
        m[f"sink.{s}.rows"] = counts[s]
        m[f"sink.{s}.bytes"], m[f"sink.{s}.files"] = stats[s]
    return m, counts


WORKLOADS = {w.name: w for w in (PipelineCount, SpKeyed)}
