"""Tests for dataops.sketches (HLL / KMV) and sessions (batch + stream).

Correctness model: the md5 checkable engine is replayed value-for-value
by the driver's DuckDB oracle (skew_distinct / throttle_modes rows);
here we pin the properties the oracle can't see — accuracy of the
xxhash64 scale engine, the sketch merge law, partition invariance, and
stream==batch session equivalence.
"""

from __future__ import annotations

import math
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_bit_spark import sessions
from fluent_bit_spark.dataops import sketches


def _cards(spark, n_keys=3, per_key=(40, 400, 4000)):
    rows = []
    uid = 0
    for k in range(n_keys):
        for _ in range(per_key[k]):
            rows.append(Row(k=f"key{k}", v=f"val-{uid}"))
            uid += 1
        # duplicates must not move the estimate: re-add every 3rd value
        for j in range(0, per_key[k], 3):
            rows.append(Row(k=f"key{k}", v=f"val-{uid - per_key[k] + j}"))
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("engine", ["xxhash64", "md5"])
def test_hll_accuracy_both_engines(spark, engine):
    df = _cards(spark)
    est = {
        r["key"]: r["estimate"]
        for r in sketches.hll_distinct(df, "k", "v", p=10, engine=engine).collect()
    }
    truth = {"key0": 40, "key1": 400, "key2": 4000}
    for k, t in truth.items():
        # 1.04/sqrt(1024) ~ 3.25% standard error; allow 4 sigma
        assert abs(est[k] - t) / t < 0.13, (engine, k, est[k], t)


@pytest.mark.parametrize("engine", ["xxhash64", "md5"])
def test_kmv_accuracy_and_exact_small(spark, engine):
    df = _cards(spark)
    out = {
        r["key"]: r
        for r in sketches.kmv_distinct(df, "k", "v", k=64, engine=engine).collect()
    }
    # below k distinct -> exact
    assert out["key0"]["k_used"] == 40
    assert out["key0"]["estimate"] == 40.0
    # above k -> within 4/sqrt(k-2) ~ 50%... use 4 sigma of 1/sqrt(62)
    for k, t in (("key1", 400), ("key2", 4000)):
        assert out[k]["k_used"] == 64
        assert abs(out[k]["estimate"] - t) / t < 0.51, (k, out[k], t)


def test_hll_merge_law(spark):
    """Registers of (A union B) == max-merge of registers(A), registers(B):
    the property that makes the sketch a mergeable snapshot artifact."""
    df = _cards(spark)
    a = df.filter(F.xxhash64("v") % 2 == 0)
    b = df.filter(F.xxhash64("v") % 2 != 0)
    whole = sketches.hll_registers(df, "k", "v", p=8)
    merged = (
        sketches.hll_registers(a, "k", "v", p=8)
        .unionByName(sketches.hll_registers(b, "k", "v", p=8))
        .groupBy("key", "reg")
        .agg(F.max("m").alias("m"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hll_partition_invariance(spark):
    df = _cards(spark)
    one = sketches.hll_distinct(df.coalesce(1), "k", "v", p=10)
    many = sketches.hll_distinct(df.repartition(32), "k", "v", p=10)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_hll_kmv_match_duckdb(spark, tmp_path):
    """The md5 engine is bit-replayable in DuckDB — the same check the
    driver gate runs on the skew_distinct row, pinned here on an
    independent corpus (so a fixture change can't mask a drift)."""
    import duckdb

    df = _cards(spark)
    pq = str(tmp_path / "cards.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    d_hll = con.sql(sketches.hll_estimate_sql("k", "v", "t", p=10)).fetchall()
    s_hll = [
        (r["key"], r["n_regs"], r["estimate"])
        for r in sketches.hll_distinct(df, "k", "v", p=10, engine="md5").collect()
    ]
    assert sorted(d_hll) == sorted(s_hll)
    d_kmv = con.sql(sketches.kmv_estimate_sql("k", "v", "t", k=64)).fetchall()
    s_kmv = [
        (r["key"], r["k_used"], r["estimate"])
        for r in sketches.kmv_distinct(df, "k", "v", k=64, engine="md5").collect()
    ]
    assert sorted(d_kmv) == sorted(s_kmv)


# ---------------------------------------------------------------------------
# sessionize
# ---------------------------------------------------------------------------


def _sess_events(spark):
    # user 1: two sessions (gap 100s, then >600s silence, then one more)
    # user 2: one session of one event; ties on ts broken by event_id
    rows = [
        Row(user_id=1, ts="2024-01-01 00:00:00", event_id=10),
        Row(user_id=1, ts="2024-01-01 00:01:40", event_id=11),
        Row(user_id=1, ts="2024-01-01 00:20:00", event_id=13),
        Row(user_id=1, ts="2024-01-01 00:20:00", event_id=12),
        Row(user_id=2, ts="2024-01-01 05:00:00", event_id=20),
    ]
    return spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_sessionize_batch(spark):
    out = sessions.sessionize(
        _sess_events(spark), key="user_id", ts_col="ts", gap_sec=600,
        order_col="event_id",
    )
    got = {(r["key"], r["session"]): r for r in out.collect()}
    assert len(got) == 3
    s11 = got[(1, 1)]
    assert (s11["first_event_id"], s11["n_events"], s11["duration_sec"]) == (10, 2, 100.0)
    s12 = got[(1, 2)]
    # tie on ts: event_id 12 is first
    assert (s12["first_event_id"], s12["n_events"], s12["duration_sec"]) == (12, 2, 0.0)
    s21 = got[(2, 1)]
    assert (s21["first_event_id"], s21["n_events"], s21["duration_sec"]) == (20, 1, 0.0)


def test_sessionize_exact_gap_boundary(spark):
    """An event exactly gap_sec after the last STARTS a new session
    (>= in both engines — pinned so nobody 'fixes' it to > later)."""
    rows = [
        Row(user_id=1, ts="2024-01-01 00:00:00", event_id=1),
        Row(user_id=1, ts="2024-01-01 00:10:00", event_id=2),
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessions.sessionize(df, gap_sec=600, order_col="event_id").collect()
    assert len(out) == 2


def test_sessionize_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _sess_events(spark)
    pq = str(tmp_path / "ev.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    d = con.sql(
        sessions.sessionize_sql("events", gap_sec=600, order_col="event_id")
    ).fetchall()
    s = [
        (r["key"], r["session"], r["first_event_id"], r["n_events"], r["duration_sec"])
        for r in sessions.sessionize(df, gap_sec=600, order_col="event_id").collect()
    ]
    assert sorted(d) == sorted(s)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """File-source stream through sessionize_stream: closed sessions ==
    batch sessionize on the same rows (the single-writer fixture rule:
    coalesce(1) so arrival order is deterministic; the final open
    session per key closes via the idle ProcessingTimeTimeout)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    ev = _sess_events(spark).coalesce(1)
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        sessions.sessionize_stream(
            stream, key="user_id", ts_col="ts", gap_sec=600,
            idle_timeout_ms=2_000,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # first batch processes the file; later empty batches fire the
        # idle timeout that flushes the open sessions
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            time.sleep(2)
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
            if n >= 3:
                break
    finally:
        q.stop()
    got = spark.read.parquet(out)
    batch = sessions.sessionize(
        spark.read.parquet(src), key="user_id", ts_col="ts", gap_sec=600
    )
    s = sorted(
        (r["user_id"], r["n_events"], r["duration_sec"]) for r in got.collect()
    )
    b = sorted(
        (r["key"], r["n_events"], r["duration_sec"]) for r in batch.collect()
    )
    assert s == b


def _closed_stream_sessions(spark, df, tmp_path, gap_sec):
    """Run sessionize_stream over ``df`` written as ONE parquet file
    (single writer: arrival order is the frame's order), so all of it is
    one micro-batch. No-data batches are off (a processing-time timeout
    would otherwise request one per trigger and availableNow would never
    finish) and the idle timeout is far away, so exactly the sessions
    closed by a later event are emitted."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(conf, "false")
    try:
        q = (
            sessions.sessionize_stream(
                stream, key="user_id", ts_col="ts", gap_sec=gap_sec,
                idle_timeout_ms=3_600_000,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "stream did not finish"
        finally:
            q.stop()
    finally:
        spark.conf.unset(conf)
    return sorted(
        (r["user_id"], r["n_events"], r["duration_sec"])
        for r in spark.read.parquet(out).collect()
    )


def _closed_batch_sessions(df, gap_sec):
    """Batch sessionize minus each key's last (still open) session."""
    rows = sessions.sessionize(df, key="user_id", ts_col="ts", gap_sec=gap_sec).collect()
    last = {}
    for r in rows:
        last[r["key"]] = max(last.get(r["key"], 0), r["session"])
    return sorted(
        (r["key"], r["n_events"], r["duration_sec"])
        for r in rows if r["session"] != last[r["key"]]
    )


def test_sessionize_stream_sorts_across_arrow_chunks(spark, tmp_path):
    """25k events of ONE key in one micro-batch arrive as several
    ~10k-row Arrow chunks, here in descending time order. The fold must
    sort across all chunks: a per-chunk sort folds later chunks' older
    events into the open session and closes the wrong sessions."""
    n, per_session = 25_000, 500
    base = 1_704_067_200  # 2024-01-01 00:00:00 UTC
    i = F.lit(n - 1) - F.col("id")  # descending ts in file order
    sec = base + (i / per_session).cast("long") * 2_000 + i % per_session
    df = spark.range(0, n, 1, 1).select(
        F.lit(1).cast("long").alias("user_id"),
        F.timestamp_seconds(sec).alias("ts"),
    )
    want = _closed_batch_sessions(df, gap_sec=600)
    assert len(want) == n // per_session - 1
    assert _closed_stream_sessions(spark, df, tmp_path, gap_sec=600) == want


def test_sessionize_stream_null_ts_does_not_kill_query(spark, tmp_path):
    """A null timestamp is dropped instead of failing the int64 cast,
    and a key whose only event has a null ts emits nothing and keeps no
    state."""
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:01:40"),
        (1, None),
        (1, "2024-01-01 00:40:00"),
        (1, "2024-01-01 00:41:40"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = _closed_stream_sessions(spark, df, tmp_path, gap_sec=600)
    assert got == _closed_batch_sessions(df.filter(F.col("ts").isNotNull()), 600)
    assert got == [(1, 2, 100.0)]


def test_entry_rows_contract(spark):
    """The reshaped driver rows keep mode-disjoint schemas aligned."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    th = entry.queries()["throttle_modes"](spark, sf)
    assert [f.name for f in th.schema.fields] == ["mode", "event_id", "n", "v"]
    modes = {r["mode"] for r in th.select("mode").distinct().collect()}
    assert modes == {"rate", "size", "sess", "zscore"}
    sk = entry.queries()["skew_distinct"](spark, sf)
    assert [f.name for f in sk.schema.fields] == ["mode", "key", "n", "v"]
    smodes = {r["mode"] for r in sk.select("mode").distinct().collect()}
    assert smodes == {"exact", "hll", "kmv", "cms", "hdr"}


# ---------------------------------------------------------------------------
# Count-Min Sketch
# ---------------------------------------------------------------------------


def _freqs(spark):
    # item i appears i+1 times, 40 items -> 820 rows; w=16 forces
    # collisions so the overestimate path is really exercised
    rows = []
    for i in range(40):
        rows.extend(Row(v=f"item-{i}") for _ in range(i + 1))
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("engine", ["xxhash64", "md5"])
def test_cms_one_sided_error(spark, engine):
    df = _freqs(spark)
    cms = sketches.cms_table(df, "v", w=16, d=4, engine=engine)
    est = {
        r["item"]: r["est"]
        for r in sketches.cms_estimate(
            cms, df.select("v"), "v", w=16, d=4, engine=engine
        ).collect()
    }
    exact = {f"item-{i}": i + 1 for i in range(40)}
    assert all(est[k] >= exact[k] for k in exact), est
    # eps = e/w of stream length bounds the overshoot (coarse check)
    n = sum(exact.values())
    assert all(est[k] - exact[k] <= 2.72 / 16 * n * 2 for k in exact)
    # with w=16 and 40 items, collisions must actually happen
    assert any(est[k] > exact[k] for k in exact)


def test_cms_merge_by_sum(spark):
    """cells(A union B) == sum-merge of cells(A), cells(B) — the
    snapshot-union artifact contract."""
    df = _freqs(spark)
    a = df.filter(F.xxhash64("v") % 2 == 0)
    b = df.filter(F.xxhash64("v") % 2 != 0)
    whole = sketches.cms_table(df, "v", w=64, d=4)
    merged = (
        sketches.cms_table(a, "v", w=64, d=4)
        .unionByName(sketches.cms_table(b, "v", w=64, d=4))
        .groupBy("j", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_cms_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _freqs(spark)
    pq = str(tmp_path / "freqs.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    d = sorted(map(tuple, con.sql(
        sketches.cms_estimate_sql("v", "t", w=16, d=4)).fetchall()))
    cms = sketches.cms_table(df, "v", w=16, d=4, engine="md5")
    s = sorted(
        (r["item"], r["est"])
        for r in sketches.cms_estimate(
            cms, df.select("v"), "v", w=16, d=4, engine="md5"
        ).collect()
    )
    assert d == s


# ---------------------------------------------------------------------------
# HDR log-linear quantile sketch
# ---------------------------------------------------------------------------


def _latencies(spark):
    # deterministic long-tailed values: i^1.7 / 100 over two keys
    rows = [
        Row(k=f"svc{i % 2}", v=(i ** 1.7) / 100.0) for i in range(1, 2001)
    ]
    return spark.createDataFrame(rows)


def test_hdr_quantiles_error_bound(spark):
    import numpy as np

    df = _latencies(spark)
    hist = sketches.hdr_histogram(df, "k", "v")
    got = {
        (r["key"], r["q"]): r["est"]
        for r in sketches.hdr_quantiles(hist, (0.5, 0.95, 0.99)).collect()
    }
    rows = df.collect()
    for key in ("svc0", "svc1"):
        vals = np.array(sorted(r["v"] for r in rows if r["k"] == key))
        for q in (0.5, 0.95, 0.99):
            true = np.quantile(vals, q, method="inverted_cdf")
            est = got[(key, q)]
            # bucket lower bound: est <= value, within 2^-5 relative
            assert est <= true + 1e-9
            assert (true - est) / true <= 2 ** -5 + 1e-9, (key, q, true, est)


def test_hdr_merge_by_sum(spark):
    df = _latencies(spark)
    a = df.filter(F.xxhash64("v") % 2 == 0)
    b = df.filter(F.xxhash64("v") % 2 != 0)
    whole = sketches.hdr_histogram(df, "k", "v")
    merged = (
        sketches.hdr_histogram(a, "k", "v")
        .unionByName(sketches.hdr_histogram(b, "k", "v"))
        .groupBy("key", "bucket", "lo")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_hdr_matches_duckdb(spark, tmp_path):
    import duckdb

    df = _latencies(spark)
    pq = str(tmp_path / "lat.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    d = sorted(map(tuple, con.sql(
        sketches.hdr_quantiles_sql("k", "v", "t", (0.5, 0.9, 0.95, 0.99))
    ).fetchall()))
    hist = sketches.hdr_histogram(df, "k", "v")
    s = sorted(
        (r["key"], r["q"], r["n"], r["est"])
        for r in sketches.hdr_quantiles(hist, (0.5, 0.9, 0.95, 0.99)).collect()
    )
    assert d == s


def test_hdr_bucket_monotone_and_zero(spark):
    """bucket ids strictly increase with value (the property quantile
    extraction relies on); zero and small ints are exact."""
    rows = [Row(k="a", v=float(x)) for x in
            [0, 1e-6, 2e-6, 63e-6, 64e-6, 65e-6, 1e-3, 1.0, 2.5, 1e6]]
    df = spark.createDataFrame(rows)
    hist = sketches.hdr_histogram(df, "k", "v")
    got = sorted((r["bucket"], r["lo"]) for r in hist.collect())
    buckets = [b for b, _ in got]
    assert buckets == sorted(set(buckets)), got
    los = dict(got)
    # scaled 0,1,2,63 are fine-branch buckets: bucket id == lo == value
    for exact in (0, 1, 2, 63):
        assert los[exact] == exact, (exact, got)


def test_hll_registers_streamable(spark, tmp_path):
    """The HLL register build runs UNMODIFIED as a streaming query
    (groupBy + max in update mode): after draining the source, the
    state-store register table equals the batch registers — the
    mergeable-state property carrying over to Structured Streaming
    (same run-unmodified contract as the bloom/C4 streaming e2e)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    df = _cards(spark).coalesce(1)
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    regs_stream = sketches.hll_registers(stream, "k", "v", p=8, engine="md5")
    q = (
        regs_stream.writeStream.format("memory")
        .queryName("hll_regs")
        .option("checkpointLocation", chk)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM hll_regs").collect())
    )
    want = sorted(
        map(tuple, sketches.hll_registers(df, "k", "v", p=8, engine="md5").collect())
    )
    assert got == want


# ---------------------------------------------------------------------------
# anomaly: pane z-scores + EWMA drift
# ---------------------------------------------------------------------------


def _spiky(spark):
    """A flat series (value 10 +- 1 alternating) with one planted 100x
    spike per key — |z| within the pane must exceed any sane threshold
    for the spike and stay small for the rest."""
    import datetime

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for k in range(2):
        for i in range(40):
            v = 10.0 + (1.0 if i % 2 == 0 else -1.0)
            if i == 25:
                v = 1000.0
            rows.append(Row(k=f"svc{k}",
                            ts=base + datetime.timedelta(seconds=30 * i),
                            event_id=k * 1000 + i, v=v))
    return spark.createDataFrame(rows)


def test_pane_zscore_flags_planted_spike(spark):
    from fluent_bit_spark import anomaly

    out = anomaly.pane_zscores(
        _spiky(spark), "k", "ts", "v", "event_id",
        interval_sec=3600, z_threshold=3.0,
    ).collect()
    flagged = {(r["key"], r["event_id"]) for r in out if r["flagged"]}
    assert flagged == {("svc0", 25), ("svc1", 1025)}, flagged
    # everything else scores small
    assert all(abs(r["z"]) < 1.0 for r in out
               if (r["key"], r["event_id"]) not in flagged)


def test_pane_zscore_partition_invariant(spark):
    from fluent_bit_spark import anomaly

    df = _spiky(spark)
    a = anomaly.pane_zscores(df.coalesce(1), "k", "ts", "v", "event_id")
    b = anomaly.pane_zscores(df.repartition(16), "k", "ts", "v", "event_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pane_zscore_matches_duckdb(spark, tmp_path):
    import duckdb

    from fluent_bit_spark import anomaly

    df = _spiky(spark)
    pq = str(tmp_path / "spiky.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    d = sorted(map(tuple, con.sql(anomaly.pane_zscores_sql(
        "t", "k", "ts", "v", "event_id")).fetchall()))
    s = sorted(
        (r["key"], r["pane"], r["event_id"], r["v"], r["z"], r["flagged"])
        for r in anomaly.pane_zscores(df, "k", "ts", "v", "event_id").collect()
    )
    assert d == s


def test_pane_zscore_degenerate_panes(spark):
    """Sparse panes (< min_n) and zero-variance panes score 0, never
    NaN/inf, never flagged."""
    import datetime

    from fluent_bit_spark import anomaly

    base = datetime.datetime(2024, 1, 1)
    rows = [Row(k="a", ts=base, event_id=1, v=5.0),
            Row(k="a", ts=base + datetime.timedelta(seconds=10), event_id=2, v=500.0)]
    rows += [Row(k="b", ts=base + datetime.timedelta(seconds=i), event_id=10 + i,
                 v=7.0) for i in range(10)]
    out = anomaly.pane_zscores(
        spark.createDataFrame(rows), "k", "ts", "v", "event_id"
    ).collect()
    assert all(r["z"] == 0.0 and not r["flagged"] for r in out), out


def test_ewma_drift_flags_level_shift(spark):
    """20 calm hourly panes at level ~10, then the level jumps to 30:
    the first post-shift pane must drift-flag against the EWMA
    baseline; calm panes must not."""
    import datetime

    from fluent_bit_spark import anomaly

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for p in range(30):
        lvl = 10.0 if p < 20 else 30.0
        wiggle = 0.5 if p % 2 == 0 else -0.5
        for i in range(6):
            rows.append(Row(k="svc",
                            ts=base + datetime.timedelta(hours=p, minutes=10 * i),
                            v=lvl + wiggle))
    out = anomaly.ewma_drift(
        spark.createDataFrame(rows), "k", "ts", "v",
        interval_sec=3600, alpha=0.3, z_threshold=3.0,
    ).collect()
    drifted = sorted(r["pane"] for r in out if r["drifted"])
    first_shift_pane = min(r["pane"] for r in out) + 20
    assert first_shift_pane in drifted, (drifted, first_shift_pane)
    assert all(p >= first_shift_pane for p in drifted), drifted


def test_hdr_bl_equals_mb_no_crash(spark):
    """Regression (session-5 review): scaled values with bit length
    exactly mantissa_bits (v in [16e-6, 32e-6) at scale 1e6, bl == 5)
    made the eagerly-materialized divisor evaluate
    try_element_at(arr, 0), which THROWS under Spark — the fine branch
    masks the value but not the evaluation. Must bucket exactly."""
    rows = [Row(k="a", v=20e-6), Row(k="a", v=16e-6), Row(k="a", v=31e-6)]
    hist = sketches.hdr_histogram(spark.createDataFrame(rows), "k", "v")
    got = sorted((r["bucket"], r["lo"], r["cnt"]) for r in hist.collect())
    assert got == [(16, 16, 1), (20, 20, 1), (31, 31, 1)], got


def test_ewma_drift_stream_matches_batch(spark, tmp_path):
    """ewma_drift_stream over a file source == batch ewma_drift on the
    same rows, minus the final still-open pane per key (it has no
    later-pane sample to close it). Values are dyadic so the stream's
    arrival-order pane sums and the batch's sorted fold are bit-equal
    (documented ulp caveat for arbitrary doubles)."""
    import datetime

    from fluent_bit_spark import anomaly

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for p in range(12):
        lvl = 10.0 if p < 8 else 30.0
        wiggle = 0.5 if p % 2 == 0 else -0.5  # per-PANE: sigma > 0
        for i in range(4):
            rows.append(Row(k=7, ts=base + datetime.timedelta(hours=p, minutes=15 * i),
                            v=lvl + wiggle))
    df = spark.createDataFrame(rows).coalesce(1)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        anomaly.ewma_drift_stream(
            stream, "k", "ts", "v", interval_sec=3600,
            alpha=0.3, z_threshold=3.0, min_history=5,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["k"], r["pane"], r["pane_mean"], r["baseline"], r["sigma"], r["drifted"])
        for r in spark.read.parquet(out).collect()
    )
    batch = anomaly.ewma_drift(
        spark.read.parquet(src), "k", "ts", "v", interval_sec=3600,
        alpha=0.3, z_threshold=3.0, min_history=5,
    ).collect()
    last_pane = {}
    for r in batch:
        last_pane[r["key"]] = max(last_pane.get(r["key"], r["pane"]), r["pane"])
    want = sorted(
        (r["key"], r["pane"], r["pane_mean"], r["baseline"], r["sigma"], r["drifted"])
        for r in batch if r["pane"] != last_pane[r["key"]]
    )
    assert got == want
    assert any(r[5] for r in got)  # the level shift fired on the stream
