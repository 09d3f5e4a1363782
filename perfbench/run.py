"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_count --seed 1 --seconds 10 --trace 0

Stages the seeded input, sets up the session several times (median is
``setup_s``), runs closed-loop passes for ``--seconds``, checks the
outputs against references, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.dont_write_bytecode = True  # write nothing into the benchmark directory
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ROOT, WORK, Tracer, median, spark_session, stop_jvm, worker_peak_rss_mb,
)

SETUPS = 3  # set-ups per run; setup_s is their median
STAGE_SLOTS = 4  # the staging session uses every core
# Untimed passes after the set-ups. Pass times keep falling for about ten
# passes as the JVM compiles the hot paths (plan analysis on the driver
# as well as execution); timing starts once they have levelled off.
WARM_PASSES = 4
MIN_PASSES = 2  # timed passes per run, even if one pass outlasts --seconds

END_TO_END = {
    "records_per_s": "1/s",
    "setup_s": "s",
}

PER_LAYER = {
    "scan.self_s": "s",
    "scan.bytes": "B",
    "extract_parse.self_s": "s",
    "extract_parse.py_boot_s": "s",
    "extract_parse.py_bytes_out": "B",
    "extract_parse.py_bytes_in": "B",
    "extract_parse.worker_peak_rss_mb": "MB",
    "parse.ok_ratio": "1",
    "filter.self_s": "s",
    "filter.keep_ratio": "1",
    "enrich.dims_load_s": "s",
    "enrich.self_s": "s",
    "enrich.hit_ratio": "1",
    "tag.self_s": "s",
    "route.self_s": "s",
    "route.fanout": "1",
    "route.unrouted_ratio": "1",
    "sqlsp.parse_s": "s",
    "sqlsp.plan_s": "s",
    "sqlsp.exec_s": "s",
    "sqlsp.shuffle_bytes": "B",
    "sqlsp.shuffle_records": "count",
    "sqlsp.agg_s": "s",
    "sqlsp.agg_peak_mb": "MB",
    "sqlsp.spill_bytes": "B",
    "sqlsp.out_rows": "count",
    "stream.records_per_s": "1/s",
    "stream.triggers": "count",
    "stream.trigger_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.overhead_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "sink.rows": "count",
    "sink.bytes": "B",
    "sink.files": "count",
    "sink.out_bytes_per_record": "B",
    **{
        f"sink.{s}.{k}": u
        for s in ("web_ok", "web_errors", "english", "bots", "big_transfers")
        for k, u in (("rows", "count"), ("bytes", "B"), ("files", "count"))
    },
    "trace.records_per_s": "1/s",
    "trace.untraced_records_per_s": "1/s",
    "trace.overhead_records_per_s": "1/s",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def timed_passes(wl, spark, seconds: float):
    """Closed loop: the next pass is submitted when the previous one has
    finished, until ``seconds`` have gone by. Returns (pass durations,
    pass outcomes, passes attempted, passes that raised)."""
    durations, outcomes = [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(durations) < MIN_PASSES:
        if failed > MIN_PASSES:
            break
        attempted += 1
        t0 = time.perf_counter()
        try:
            outcome = wl.run_pass(spark)
        except Exception:
            failed += 1
            log("pass raised:\n" + traceback.format_exc())
            continue
        durations.append(time.perf_counter() - t0)
        outcomes.append(outcome)
        spark.catalog.clearCache()
    return durations, outcomes, attempted, failed


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", setups: int = SETUPS, warm_passes: int = WARM_PASSES) -> dict:
    """One benchmark run in this process's JVM (launched on first use).

    Returns the end-to-end metrics, the per-layer metrics and spans when
    ``trace``, the check results, the same checks against a perturbed
    expectation, and the operation counts."""
    from workloads import SIZES, WORKLOADS

    wl = WORKLOADS[workload](SIZES[size])
    # The JVM launch happens once, in a staging session on every core;
    # each set-up below restarts the session inside it, so each covers
    # the same work.
    spark = spark_session(STAGE_SLOTS)
    try:
        stage_s = wl.stage(spark, seed)
        log(f"{workload}: staged {wl.records} records in {stage_s:.2f} s (0 = cached)")
        setup_times = []
        for _ in range(1 if trace else setups):
            spark.stop()
            t0 = time.perf_counter()
            spark = spark_session(wl.slots)
            wl.load(spark)
            wl.run_pass(spark)  # warm-up pass
            setup_times.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        log(f"{workload}: set-ups {[round(s, 3) for s in setup_times]} s")
        for _ in range(warm_passes):
            wl.run_pass(spark)
            spark.catalog.clearCache()

        durations, outcomes, attempted, failed = timed_passes(wl, spark, seconds)
        if not durations:
            raise RuntimeError("every timed pass raised")
        log(f"{workload}: {len(durations)} passes {[round(d, 3) for d in durations]} s")
        rate = wl.records / median(durations)
        e2e = {"records_per_s": rate, "setup_s": median(setup_times)}

        layer, spans = None, []
        if trace:
            tracer = Tracer(f"{workload}-s{seed}-p{os.getpid()}")
            with tracer.span(workload) as root:
                measured, traced_rate = wl.trace(spark, tracer, root)
            layer = {name: 0.0 for name in PER_LAYER}
            layer.update(measured)
            layer["extract_parse.worker_peak_rss_mb"] = worker_peak_rss_mb()
            layer["trace.records_per_s"] = traced_rate
            layer["trace.untraced_records_per_s"] = rate
            layer["trace.overhead_records_per_s"] = traced_rate - rate
            tracer.write(os.path.join(WORK, "spans", f"{tracer.run_id}.jsonl"))
            spans = tracer.spans
            log(f"{workload}: traced pass done")

        wl.reference(spark)
        log(f"{workload}: references computed")
        checks = wl.check(outcomes, perturb=False)
        for name, ok in checks:
            log(f"{workload}: check {name}: {'ok' if ok else 'FAILED'}")
    finally:
        spark.stop()
    return {
        "e2e": e2e,
        "layer": layer,
        "spans": spans,
        "checks": checks,
        "perturbed_checks": wl.check(outcomes, perturb=True),
        "attempted": attempted + len(checks),
        "failed": failed + sum(not ok for _, ok in checks),
    }


def result_line(res: dict, trace: bool) -> dict:
    metrics, units = (res["layer"], PER_LAYER) if trace else (res["e2e"], END_TO_END)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_count", "sp_keyed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import fluent_bit_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the library from {ROOT}: {exc}")
        return 2
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    print(json.dumps(result_line(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
