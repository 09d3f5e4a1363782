"""Gap-based sessionization: batch (declarative) and streaming (stateful).

The classic log-analytics rollup: group a key's events into sessions
separated by >= gap seconds of silence. The reference has no session
operator (its stream processor windows are fixed tumbling/hopping
panes, src/stream_processor/flb_sp_window.c); this is part of the
beyond-reference tier the north rule's aggregate stage implies —
fleet logs, crawl fetch logs, and user event streams all roll up to
sessions before any per-visit metric.

Batch shape (sessionize): two window passes over ONE hash partition
by key — lag() to flag gap starts, a running sum to number sessions —
then a groupBy(key, session) rollup. Timestamps are compared in
integer MICROSECONDS end-to-end (unix_micros), so the session
assignment is exact integer arithmetic and the DuckDB oracle
(epoch_us) replays it bit-for-bit; the only float is the final
duration_us -> seconds division, correctly rounded from exact
integers on both engines.

Scale notes: the three stages share the hash partitioning on `key`
(one shuffle for the windows; the rollup keys (key, session) start
from partial aggregation within the same partitions). Per-key state
is the window sort, bounded by a single key's events — for Zipf-hot
keys that is the same bound as any per-user analytic; there is no
global sort and no driver state. A 1000-executor run shuffles each
key once, like any groupBy.

Streaming shape (sessionize_stream): applyInPandasWithState keyed by
`key` with per-key (open-session start, last-seen, count) state and a
processing-time timeout — sessions emit when a new event arrives past
the gap or the timeout fires with the stream idle, the same
close-on-silence contract as the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    order_col: str | None = None,
) -> DataFrame:
    """Roll events up into gap-separated sessions per key.

    Returns one row per session: (key, session = 1-based index in ts
    order, first_<order_col> = id of the session's first event, n_events,
    duration_sec = last-first in seconds, float from exact micros).

    ``order_col`` breaks ordering ties for events sharing a timestamp
    (required for a deterministic first-event id; defaults to ts-only
    ordering with min() as the tie-break).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    staged = df.select(
        F.col(key).alias("key"),
        us.alias("__us"),
        *( [F.col(order_col).alias("__ord")] if order_col else [] ),
    )
    order = [F.col("__us")] + ([F.col("__ord")] if order_col else [])
    w = Window.partitionBy("key").orderBy(*order)
    prev = F.lag(F.col("__us")).over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("__us") - prev >= F.lit(gap_sec * 1_000_000)),
        F.lit(1),
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = staged.withColumn("session", F.sum(new_sess).over(wrun))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min("__us").alias("__us0"),
        F.max("__us").alias("__us1"),
    ]
    if order_col:
        # first event = min (us, ord) pair — deterministic under ties
        aggs.append(F.min(F.struct("__us", "__ord")).alias("__first"))
    out = numbered.groupBy("key", "session").agg(*aggs)
    dur = (F.col("__us1") - F.col("__us0")).cast("double") / F.lit(1_000_000.0)
    cols = [
        "key",
        "session",
        F.col("n_events"),
        F.round(dur, 6).alias("duration_sec"),
    ]
    if order_col:
        cols.insert(2, F.col("__first").getField("__ord").alias(f"first_{order_col}"))
    return out.select(*cols)


def sessionize_sql(
    table: str,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    order_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`sessionize` value-for-value
    (epoch_us == unix_micros; integer gap compare; the duration
    division from the same exact integers)."""
    return f"""
        WITH e AS (
          SELECT {key} AS key, epoch_us({ts_col}) AS us,
                 {order_col} AS ord
          FROM {table}
        ), flagged AS (
          SELECT key, us, ord,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w >= {gap_sec * 1_000_000}
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY key ORDER BY us, ord)
        ), numbered AS (
          SELECT key, us, ord,
                 SUM(new_sess) OVER (
                   PARTITION BY key ORDER BY us, ord
                   ROWS UNBOUNDED PRECEDING) AS session
          FROM flagged
        ), firsted AS (
          SELECT key, us, ord, session,
                 first_value(ord) OVER (
                   PARTITION BY key, session ORDER BY us, ord
                   ROWS UNBOUNDED PRECEDING) AS ford
          FROM numbered
        )
        SELECT key, CAST(session AS BIGINT) AS session,
               MIN(ford) AS first_{order_col},
               COUNT(*) AS n_events,
               round(CAST(MAX(us) - MIN(us) AS DOUBLE) / 1000000.0, 6)
                 AS duration_sec
        FROM firsted GROUP BY key, session
    """


def sessionize_stream(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    idle_timeout_ms: int = 30_000,
):
    """Streaming sessionization with per-key state across micro-batches.

    Emits one row per CLOSED session (key, first_us, n_events,
    duration_sec) — a session closes when a later event arrives at
    least ``gap_sec`` past its last event, or when the processing-time
    timeout fires with the key idle (the flush path, same role as the
    file-source end-of-stream flush in streaming exact dedup).

    Event-time semantics within the state: arrivals inside a batch are
    processed in ts order; state carries (start_us, last_us, n) for the
    single open session per key. Out-of-order arrivals ACROSS batches
    earlier than the open session's last event extend it (never reopen
    a closed one) — the no-watermark tradeoff, documented here rather
    than hidden. Events with a null ``ts_col`` have no event time and
    are dropped; a key seen only with null timestamps keeps no state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_ddl = events.schema[key].dataType.simpleString()
    out_schema = (
        f"{key} {key_ddl}, first_us long, n_events long, duration_sec double"
    )
    state_schema = "start_us long, last_us long, n long"
    gap_us = gap_sec * 1_000_000

    # epoch micros are taken JVM-side (unix_micros == the batch
    # operator's clock): Spark delivers TIMESTAMP columns to pandas
    # workers as naive datetimes in the SESSION time zone, so reading
    # int64 off the pandas column would shift by the UTC offset (and
    # double-count a DST fall-back hour) whenever the session tz isn't
    # UTC — the worker only ever sees the tz-independent integer
    events = events.select(
        F.col(key),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
    )

    def track(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]],
                    "first_us": [start_us],
                    "n_events": [n],
                    "duration_sec": [round((last_us - start_us) / 1e6, 6)],
                }
            )
            return
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = None
            last_us = 0
            n = 0
        # one global sort across every Arrow chunk of this batch:
        # applyInPandasWithState delivers a group as ~10k-row chunks in
        # arbitrary shuffle order, and a per-chunk sort would close
        # sessions prematurely. Null timestamps carry no event time and
        # are dropped (an int64 cast of a null would fail the query).
        us_all = sorted(
            int(us) for pdf in pdfs for us in pdf["__us"].dropna().astype("int64")
        )
        if not us_all and start_us is None:
            return
        closed = []
        for us in us_all:
            if start_us is None:
                start_us, last_us, n = us, us, 1
            elif us - last_us >= gap_us:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = us, us, 1
            else:
                last_us = max(last_us, us)
                n += 1
        state.update((int(start_us), int(last_us), int(n)))
        state.setTimeoutDuration(idle_timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    key: [key_tuple[0]] * len(closed),
                    "first_us": [c[0] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "duration_sec": [round((c[1] - c[0]) / 1e6, 6) for c in closed],
                }
            )

    return events.groupBy(F.col(key)).applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
