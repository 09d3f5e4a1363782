"""Structured Streaming surface: the reference's continuous-ingest side.

Mappings (SURVEY.md §2.1):
* in_tail (glob follow + per-file offset checkpoint in SQLite,
  plugins/in_tail/tail_db.c:35-81, tail_sql.h:30-44) ->
  `spark.readStream` file source + Structured Streaming checkpoint dir:
  the checkpoint's file-source log IS the offset table, and restart
  resumes exactly where the last trigger stopped.
* in_dummy (synthetic records at `rate`/sec, in_dummy.c:243-257) ->
  `format("rate")` source mapped onto a payload column.
* tumbling/hopping windows with late data -> event-time windows +
  watermark (an upgrade over the reference's processing-time timers,
  flb_sp.c:519-527 — documented divergence, SURVEY §2.5).
* multi-sink routed writes -> foreachBatch: route_flags once per
  micro-batch, one filtered write per sink — the same single-pass
  fan-out as the batch pipeline (flb_engine_dispatch.c:247-354).
"""

from __future__ import annotations

import os
import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .pipeline import filter_stage, parse_stage, process_stages
from .router import SinkSpec, route_flags

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def tail_source(
    spark: SparkSession,
    path: str,
    schema: str = PAGES_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """in_tail analogue: follow a growing directory of files. New files
    appearing under `path` are picked up on the next trigger; processed
    files are recorded in the query checkpoint (never re-read)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def dummy_source(
    spark: SparkSession, rows_per_second: int = 10, payload: str = '{"message":"dummy"}'
) -> DataFrame:
    """in_dummy analogue: `rate` rows/sec with a fixed payload
    (in_dummy.c `dummy` property), tagged like the reference default."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.lit(payload).alias("body"),
            F.lit("dummy.0").alias("tag"),
        )
    )


def run_pipeline_stream(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    sinks: Sequence[SinkSpec],
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
    engine: str = "jvm",
) -> StreamingQuery:
    """The batch pipeline's stages applied to a stream, fanned out to
    per-sink parquet dirs inside foreachBatch. Restarting with the same
    checkpoint_dir resumes from the recorded file offsets (in_tail's
    offset db semantics) — already-processed input is never re-routed.

    engine — see pipeline.process_stages: 'fused' runs html->text
    extraction + parse in one Arrow crossing (mapInArrow is supported
    on streaming frames); 'jvm' parses the source text column.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    parsed = process_stages(spark, pages, engine)

    sink_list = list(sinks)
    route_cols = [f"__route_{s.name}" for s in sink_list]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        flagged = route_flags(batch_df, sink_list).persist()
        try:
            for s in sink_list:
                # backticks: dot-carrying sink names must not parse as
                # nested paths (same fix as router.write_sinks)
                part = flagged.filter(
                    F.col(f"`__route_{s.name}`")
                ).drop(*route_cols)
                part.write.mode("append").parquet(os.path.join(out_dir, s.name))
        finally:
            flagged.unpersist()

    writer = (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_metrics_stream(
    pages: DataFrame,
    window: str = "60 seconds",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time tumbling aggregation with late-data handling — the
    streaming form of the SQL processor's windowed counts. The watermark
    bounds state (the reference holds unbounded per-window accumulators
    until its wall-clock timer fires)."""
    parsed = filter_stage(parse_stage(pages))
    return (
        parsed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("code_class"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("size_i").alias("bytes"))
        .select(F.col("w.start").alias("window_start"), "code_class", "n", "bytes")
    )


def throttle_stream(
    pages: DataFrame,
    rate: int,
    interval_sec: int,
    key_col: str = "lang",
    ts_col: str = "warc_ts",
):
    """True stateful rate limiting on a stream: at most `rate` records per
    key per `interval_sec` pane, enforced with per-key state across
    micro-batches via applyInPandasWithState — the custom-stateful-operator
    path for semantics Spark's built-ins can't express (the batch
    apply_throttle ranks within a pane; this one carries pane counters
    between triggers like the reference's ticker-advanced window,
    plugins/filter_throttle/throttle.c:82-125).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # pass the StructType directly: string-munging simpleString() breaks
    # on nested struct/array-of-struct columns
    out_schema = pages.schema
    state_schema = "pane long, used long"

    def limit_group(key, pdfs, state: GroupState):
        if state.exists:
            cur_pane, used = state.get
        else:
            cur_pane, used = -1, 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            panes = (pdf[ts_col].astype("int64") // 1_000_000_000) // interval_sec
            keep_rows = []
            for i, pane in enumerate(panes):
                if pane != cur_pane:
                    cur_pane, used = int(pane), 0
                if used < rate:
                    used += 1
                    keep_rows.append(i)
            if keep_rows:
                out.append(pdf.iloc[keep_rows])
        state.update((int(cur_pane), int(used)))
        if out:
            yield pd.concat(out)

    return (
        pages.groupBy(F.col(key_col))
        .applyInPandasWithState(
            limit_group,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# in_kafka glue — plugins/in_kafka/in_kafka.c
# ---------------------------------------------------------------------------

def size_to_bytes(size) -> int:
    """Byte-size string -> int bytes, faithful to
    flb_utils.c:527 ``flb_utils_size_to_bytes`` (vectors:
    tests/internal/unit_sizes.c): DECIMAL multipliers (K=1000, not
    1024), one- or two-char suffix where the second char must be 'B'
    (case-insensitive), fractional values via atof ("1.5M"), literal
    "false" -> 0, and -1 for anything unparsable (empty, >2 suffix
    chars, bad second suffix char, unknown multiplier)."""
    s = str(size)
    if s.lower() == "false":
        return 0
    if not s:
        return -1
    num = re.match(r"\s*[+-]?(\d+\.?\d*|\.\d+)?", s).group(0)
    if not any(ch.isdigit() for ch in num):
        # digitless input ('M', 'KB') is unparsable in the reference —
        # it must not silently become 0 bytes
        return -1
    try:
        val = float(num)
    except (TypeError, ValueError):
        val = 0.0
    plen = 0
    for i in range(len(s) - 1, 0, -1):
        if s[i].isdigit():
            break
        plen += 1
    if plen == 0:
        return int(val)
    if plen > 2:
        return -1
    suffix = s[-plen:].upper()
    if plen == 2 and suffix[1] != "B":
        return -1
    mult = {"K": 10**3, "M": 10**6, "G": 10**9}.get(suffix[0])
    if mult is None:
        return -1
    if abs(val) >= 2**63 / mult / 2:
        return -1
    return int(val * mult)


def _parse_size(v) -> int:
    """size_to_bytes that REJECTS invalid input instead of returning -1
    — a bad config value must not reach Spark as a fetch-bytes option."""
    n = size_to_bytes(v)
    if n < 0:
        raise ValueError(f"buffer_max_size: unparsable byte size {v!r}")
    return n


def kafka_options(
    brokers: str,
    topics: str,
    group_id: Optional[str] = None,
    client_id: Optional[str] = None,
    poll_timeout_ms: Optional[int] = None,
    buffer_max_size: Optional[str] = None,
    rdkafka: Optional[dict] = None,
) -> dict:
    """Map in_kafka's config surface (in_kafka.c:519-570 config_map:
    brokers, topics, client_id, group_id, poll_timeout_ms,
    buffer_max_size, rdkafka.* passthrough) onto Spark's kafka source
    options. rdkafka.* options pass through with Spark's `kafka.`
    prefix — both sides hand them to the same librdkafka-compatible
    option namespace."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
    }
    if group_id:
        opts["kafka.group.id"] = group_id
    if client_id:
        opts["kafka.client.id"] = client_id
    if poll_timeout_ms is not None:
        opts["kafkaConsumer.pollTimeoutMs"] = str(poll_timeout_ms)
    if buffer_max_size is not None:
        # in_kafka's buffer_max_size is a BYTE size (often suffixed,
        # e.g. '4M'); Spark has no per-trigger byte cap, so map it onto
        # the per-partition fetch byte limit — the same librdkafka knob
        # namespace the reference hands it to. A record-count option
        # (maxOffsetsPerTrigger) would silently change semantics.
        opts["kafka.max.partition.fetch.bytes"] = str(_parse_size(buffer_max_size))
    for k, v in (rdkafka or {}).items():
        opts[f"kafka.{k}"] = str(v)
    return opts


def attach_kafka_frame(
    df: DataFrame,
    tag: str = "kafka.*",
    fmt: str = "json",
    parser=None,
) -> DataFrame:
    """Shape a kafka-source frame (key/value binary, topic, partition,
    offset, timestamp) into the in_kafka record
    {topic, partition, offset, key, payload} (in_kafka.c:73-136), under
    the configured tag (a '*' in the tag is replaced by the topic name,
    the reference's topic-templated tagging). format json -> payload
    parsed via the given parser or kept as the raw string (the reference
    falls back to raw on unparsable payloads, in_kafka.c:48-58)."""
    tag_col = (
        F.concat(
            F.lit(tag.split("*")[0]), F.col("topic"), F.lit(tag.split("*", 1)[1])
        )
        if "*" in tag
        else F.lit(tag)
    )
    out = df.select(
        tag_col.alias("tag"),
        F.col("timestamp").alias("ts"),
        F.col("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("bigint").alias("offset"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("payload"),
    )
    if fmt == "json" and parser is not None:
        out = parser.apply(out, "payload")
    return out


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    tag: str = "kafka.*",
    fmt: str = "json",
    parser=None,
    starting_offsets: str = "latest",
    **kafka_kwargs,
) -> DataFrame:
    """in_kafka -> Spark's built-in kafka source with the record shape
    and tagging attached. Requires the spark-sql-kafka connector on the
    classpath (delegated dependency, SURVEY §2.1)."""
    opts = kafka_options(brokers, topics, **kafka_kwargs)
    reader = spark.readStream.format("kafka").options(**opts).option(
        "startingOffsets", starting_offsets
    )
    return attach_kafka_frame(reader.load(), tag=tag, fmt=fmt, parser=parser)


# ---------------------------------------------------------------------------
# in_exec / in_stdin — plugins/in_exec/in_exec.c, plugins/in_stdin/
# ---------------------------------------------------------------------------

def exec_source(
    spark: SparkSession,
    command: str,
    tag: str = "exec.0",
    parser=None,
    timeout_s: float = 30.0,
) -> DataFrame:
    """in_exec: run a command, one record per stdout line
    (in_exec.c cb_exec collects the pipe into newline-split records).
    The reference runs the command on its single node; the analogue runs
    it on the driver — the DataFrame of lines then distributes. An
    attached parser projects its fields (Parser option)."""
    import subprocess

    out = subprocess.run(
        command, shell=True, capture_output=True, text=True, timeout=timeout_s
    )
    lines = [(tag, ln) for ln in out.stdout.splitlines()]
    df = spark.createDataFrame(lines or [], "tag string, exec string")
    if parser is not None:
        df = parser.apply(df, "exec")
    return df


def stdin_source(
    spark: SparkSession,
    tag: str = "stdin.0",
    parser=None,
    stream=None,
) -> DataFrame:
    """in_stdin: one record per input line (json lines pass through the
    attached parser, matching the plugin's flb_pack behavior). `stream`
    defaults to sys.stdin; injectable for tests."""
    import sys as _sys

    stream = stream if stream is not None else _sys.stdin
    lines = [(tag, ln.rstrip("\n")) for ln in stream]
    df = spark.createDataFrame(lines or [], "tag string, log string")
    if parser is not None:
        df = parser.apply(df, "log")
    return df


# ---------------------------------------------------------------------------
# in_forward — plugins/in_forward/ (fw_prot.c wire modes decoded in
# msgpackfmt.decode_forward_frame). The transport here is a SPOOL
# sidecar + file source, the same pattern in_syslog uses: a socket
# accept loop does not belong inside Spark executors, so a tiny
# out-of-job server spools each connection's frames to a file and the
# (re-startable, checkpointable) Spark job reads the spool with the
# binaryFile source.
# ---------------------------------------------------------------------------


def forward_spool_server(spool_dir: str, host: str = "127.0.0.1", port: int = 0):
    """Minimal forward-protocol transport sidecar: accept TCP
    connections, write each connection's bytes to ``spool_dir/
    fwd-<n>.msgpack``. Returns (server, port); call server.shutdown()
    to stop. No handshake (the reference's shared-key handshake is an
    auth layer, fw_prot.c handles it before frames; out of scope), no
    ack mode. Runs in a daemon thread — a deployment would run this (or
    any fluentd-compatible receiver writing files) NEXT TO the cluster,
    not in it."""
    import os
    import socketserver
    import threading

    os.makedirs(spool_dir, exist_ok=True)
    seq = {"n": 0}
    lock = threading.Lock()

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            data = self.rfile.read()
            if not data:
                return
            with lock:
                n = seq["n"]
                seq["n"] += 1
            tmp = os.path.join(spool_dir, f".fwd-{n:06d}.tmp")
            dst = os.path.join(spool_dir, f"fwd-{n:06d}.msgpack")
            with open(tmp, "wb") as f:
                f.write(data)
            os.rename(tmp, dst)  # atomic: readers never see partials

    srv = socketserver.ThreadingTCPServer((host, port), Handler)
    srv.daemon_threads = True
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


def forward_spool_source(
    spark: SparkSession, spool_dir: str, streaming: bool = False
) -> DataFrame:
    """in_forward source over a spool dir of raw forward frames: the
    binaryFile source reads whole files (readStream for follow mode with
    checkpointed no-reprocessing), msgpackfmt.forward_frames_to_records
    decodes Message / Forward / PackedForward (+gzip) frames with
    EventTime ext timestamps into (tag, ts, body) rows."""
    from .msgpackfmt import forward_frames_to_records

    reader = spark.readStream if streaming else spark.read
    df = (
        reader.format("binaryFile")
        .option("pathGlobFilter", "*.msgpack")
        .load(spool_dir)
    )
    return forward_frames_to_records(df.select(F.col("content").alias("value")))
