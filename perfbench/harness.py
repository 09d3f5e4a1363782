"""Session settings, input staging, span recording and plan-metric reading
for the benchmark. Everything here belongs to the benchmark; nothing is
imported from the repository's own bench or tools scripts, so edits there
cannot move these numbers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
STAGE_DIR = os.path.join(WORK, "stage")
# Bump when a generator below changes what a (seed, size) key stages.
GENERATOR_VERSION = 1
# Staged inputs kept per kind (pages are ~15 MB, events ~90 MB); older
# ones are deleted.
STAGE_KEEP = {"pages": 8, "events": 2}

# webgen stamps row i at 2024-01-01T00:00:00Z + i seconds.
WEBGEN_BASE_TS = 1704067200


def spark_session(slots: int):
    """A local session with the benchmark's fixed settings.

    - ``local[slots]`` task slots: 2 for the Arrow-crossing workloads
      (each task drives one Python worker, so 2 slots use 4 cores), 4 for
      the JVM-only stream processor.
    - 2 GB driver heap, which fits beside other tenants of a 15 GB host.
    - UI and console progress off; UTC session time zone.
    - Scratch space, the JVM temp dir and the warehouse inside the
      checkout, so the run writes nothing outside it.
    - Workers get the checkout on PYTHONPATH: mapInArrow closures
      reference package functions.
    """
    from pyspark.sql import SparkSession

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, path) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    # spark-submit first runs a launcher JVM, which reads only this
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_scan_splits(spark, path: str, slots: int) -> None:
    """Scan-split policy: one split per task slot, each of whole files.
    Spark packs splits by bytes, so the default 128 MB split would run
    these inputs as one task and leave slots idle; more splits than slots
    add a Python-worker round trip per task that costs more than it
    balances at these sizes. Capping a split at ceil(files / slots)
    times the largest file keeps the split count the same for every
    seed, although file sizes vary a little."""
    sizes = [os.path.getsize(p) for p in parquet_files(path)]
    per_split = -(-len(sizes) // slots) * max(sizes)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(per_split))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")


def stop_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit (the
    Python workers of a stopped session are already gone)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# input staging
# ---------------------------------------------------------------------------


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def staged(kind: str, key: str, build) -> tuple[str, float]:
    """Return the staged directory for ``key``, building it first if no
    complete copy exists. ``build(tmp_dir)`` writes the files; the
    directory is renamed into place with a ``_SUCCESS`` marker, so a run
    that dies mid-write never leaves a half-staged input behind. Returns
    (path, seconds spent staging)."""
    final = os.path.join(STAGE_DIR, f"{kind}-v{GENERATOR_VERSION}-{key}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        os.utime(final)
        return final, 0.0
    t0 = time.perf_counter()
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    build(tmp)
    for name in os.listdir(tmp):
        if not name.endswith(".parquet"):
            os.remove(os.path.join(tmp, name))
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    os.rename(tmp, final)
    _prune_stage(kind)
    return final, time.perf_counter() - t0


def _prune_stage(kind: str) -> None:
    prefix = f"{kind}-v"
    dirs = [
        os.path.join(STAGE_DIR, d) for d in os.listdir(STAGE_DIR)
        if d.startswith(prefix) and ".tmp-" not in d
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[STAGE_KEEP[kind]:]:
        shutil.rmtree(d, ignore_errors=True)


def first_page_ts(seed: int, rows_per_file: int) -> int:
    """warc_ts (epoch seconds) of the first page staged for ``seed``."""
    return WEBGEN_BASE_TS + (seed % 64) * rows_per_file


def stage_pages(spark, seed: int, files: int, rows_per_file: int) -> tuple[str, float]:
    """Web pages from ``webgen.generate``: ``files`` parquet files of
    ``rows_per_file`` rows each. webgen is a pure function of the row id,
    so the seed picks which window of ids is staged: it skips
    ``seed % 64`` whole files' worth of rows. The skip filter is on the
    timestamp ramp, which Catalyst pushes below the html generation."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fluent_bit_spark.webgen import generate

    def build(tmp):
        skip = (seed % 64) * rows_per_file
        total = skip + files * rows_per_file
        first_ts = F.timestamp_seconds(F.lit(first_page_ts(seed, rows_per_file)))
        (
            generate(spark, total, partitions=total // rows_per_file)
            .filter(F.col("warc_ts") >= first_ts)
            .write.parquet(tmp)
        )
        # Spark writes one empty file when the first partition is empty
        for p in parquet_files(tmp):
            if pq.read_metadata(p).num_rows == 0:
                os.remove(p)
        got = [pq.read_metadata(p).num_rows for p in parquet_files(tmp)]
        if got != [rows_per_file] * files:
            raise RuntimeError(f"staged page files hold {got} rows")

    os.makedirs(STAGE_DIR, exist_ok=True)
    return staged("pages", f"s{seed}-{files}x{rows_per_file}", build)


EVENT_TYPES = ("view", "click", "buy", "error", "login")
EVENT_KEYS = 200  # user ids 1..200, plus the hot key 0
HOT_SHARE = 0.5  # the hot key's share of all events
EVENT_SPAN_S = 3600
EVENT_BASE_US = 1704067200 * 1_000_000


def stage_events(seed: int, files: int, rows_per_file: int) -> tuple[str, float]:
    """Synthetic events (ts, user_id, event_type, value) from a seeded
    numpy generator. One hot key owns ``HOT_SHARE`` of traffic; with 201
    keys over twelve 5-minute windows each (key, window) group folds
    thousands of events. Values carry two decimals, so sums and extremes
    compare exactly after rounding to four."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp):
        os.makedirs(tmp)
        rng = np.random.default_rng(seed)
        types = np.array(EVENT_TYPES)
        for f in range(files):
            n = rows_per_file
            users = rng.integers(1, EVENT_KEYS + 1, n)
            users[rng.random(n) < HOT_SHARE] = 0
            ts = EVENT_BASE_US + rng.integers(0, EVENT_SPAN_S * 1_000_000, n)
            table = pa.table({
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(types[rng.integers(0, len(types), n)]),
                "value": pa.array(rng.integers(0, 100_000, n) / 100.0),
            })
            pq.write_table(
                table, os.path.join(tmp, f"part-{f:05d}.parquet"),
                row_group_size=max(1, n // 4),
            )

    os.makedirs(STAGE_DIR, exist_ok=True)
    return staged("events", f"s{seed}-{files}x{rows_per_file}", build)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "run_id": self.run_id,
        })
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        """Yields the span id; the span's end is filled in on exit."""
        sid = self.add(name, time.time(), float("nan"), parent)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def plan_metrics(jdf) -> tuple[int, list[tuple[str, str, float]]]:
    """Run a frame through its own QueryExecution (``toRdd().count()``)
    and read the SQL metrics of the adaptive plan's final physical plan.

    A noop or collect action runs a separate QueryExecution whose metrics
    Python cannot reach, hence toRdd. Returns (row count, [(node, metric,
    value)]) with times in seconds and sizes in bytes."""
    qe = jdf.queryExecution()
    rows = qe.toRdd().count()
    out: list[tuple[str, str, float]] = []
    scale = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}

    def walk(node):
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            kind = kv._2().metricType()
            if kind in scale:
                out.append((name, kv._1(), kv._2().value() * scale[kind]))
        if name == "AdaptiveSparkPlan":
            walk(node.finalPhysicalPlan())
        elif name.endswith("QueryStage"):
            walk(node.plan())
        else:
            for child in _scala_seq(node.children()):
                walk(child)

    walk(qe.executedPlan())
    return rows, out


def metric_sum(metrics, node: str, name: str) -> float:
    """Sum of metric ``name`` over plan nodes whose name starts with ``node``."""
    return sum(v for n, m, v in metrics if n.startswith(node) and m == name)


def metric_max(metrics, node: str, name: str) -> float:
    return max((v for n, m, v in metrics if n.startswith(node) and m == name), default=0.0)


def worker_peak_rss_mb() -> float:
    """Largest VmHWM over the live PySpark Python worker processes under
    this process (the daemon and the workers it forked)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    peak_kb = 0
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes_files(path: str) -> tuple[int, int]:
    files = parquet_files(path) if os.path.isdir(path) else []
    return sum(os.path.getsize(p) for p in files), len(files)
