"""Self-check of the benchmark at tiny input sizes, in one JVM:

    python3 perfbench/selfcheck.py

It runs every workload end to end, traced, and fails (exit code 1) unless

- every run's outputs pass their checks;
- the end-to-end and per-layer metrics printed are exactly those that
  BENCHMARK.json names, with the same units;
- a deliberately perturbed expected count fails a check on every
  workload, so failed_frac would be above 0;
- the traced runs emit a span for every layer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT, stop_jvm  # noqa: E402
from run import log, result_line, run  # noqa: E402

WORKLOADS = ("pipeline_count", "sp_keyed")
LAYER_SPANS = (
    "scan", "extract_parse", "filter", "enrich", "tag", "route",
    "sqlsp.parse", "sqlsp.plan", "sqlsp.exec", "stream.trigger", "sink",
)


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems, spans = [], set()
    t0 = time.perf_counter()
    try:
        for wl in WORKLOADS:
            res = run(wl, seed=3, seconds=0, trace=True, size="tiny", setups=1, warm_passes=0)
            for trace, key in ((False, "end_to_end"), (True, "per_layer")):
                line = result_line(res, trace)
                want = {m["name"]: m["unit"] for m in bench[key]}
                got = {name: m["unit"] for name, m in line["metrics"].items()}
                if got != want:
                    problems.append(f"{wl}: {key} printed {sorted(set(got) ^ set(want))} "
                                    "or units differing from BENCHMARK.json")
            if res["failed"]:
                problems.append(f"{wl}: {res['failed']} of {res['attempted']} operations failed")
            perturbed = sum(not ok for _, ok in res["perturbed_checks"])
            log(f"{wl}: perturbed expectation fails {perturbed} check(s), "
                f"failed_frac {(res['failed'] + perturbed) / res['attempted']:.3f}")
            if not perturbed:
                problems.append(f"{wl}: a perturbed expected count passed every check")
            spans |= {s["name"] for s in res["spans"]}
    finally:
        stop_jvm()
    missing = [name for name in LAYER_SPANS if name not in spans]
    if missing:
        problems.append(f"no span for layers {missing}")
    for p in problems:
        log(f"self-check problem: {p}")
    log(f"self-check {'failed' if problems else 'passed'} in {time.perf_counter() - t0:.1f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
