"""Batch event-time windows: the pane path against F.window.

The batch executor aggregates COUNT/SUM/MIN/MAX/AVG windows over integer
panes of gcd(size, advance) floored epoch seconds and rolls hopping
windows up from the pane partials. Its output must be the output of the
same query grouped by F.window (the path streaming frames and
TIMESERIES_FORECAST keep): keys, counts, MIN and MAX exactly, SUM and AVG
to a relative 1e-12 (pane sums add in a different order). Also guards the
plan shape of both paths."""

import datetime as dt
import math

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from fluent_bit_spark.fbrecord import records_to_df
from fluent_bit_spark.sqlsp import SPEngine, exec as sp_exec
from fluent_bit_spark.sqlsp.exec import execute_stream

TUMBLING = "TUMBLING (5 SECOND)"
# the size need not be a multiple of the advance: 7/3 has 1-second panes
HOP_7_3 = "HOPPING (7 SECOND, ADVANCE BY 3 SECOND)"
AGGS = "COUNT(*) AS n, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx, AVG(v) AS a"


def _static_frame(spark, ts_type="timestamp"):
    """4,000 events over [-1800 s, +1800 s) around the epoch, so half of
    them are pre-epoch; every 97th has a null ts, every 13th a null key,
    every 29th a null value."""
    i = F.col("id")
    us = (i * 7919 % 3600) * 1_000_000 + i * 104729 % 1_000_000 - 1_800_000_000
    return spark.range(4000).select(
        F.when(i % 97 != 0, F.timestamp_micros(us)).cast(ts_type).alias("ts"),
        F.when(i % 13 != 0, i % 5).alias("k"),
        F.when(i % 29 != 0, (i * 37 % 100_000) / 100.0).alias("v"),
    )


def _dynamic_frame(spark):
    """Heterogeneous records: the key (named with a dash, which SQL must
    quote) is an int, a numeric string, a float, a bool, a plain string,
    missing or nil; values are ints, floats, numeric strings or absent."""
    keys = [1, "1", 2.0, True, "web", None, "MISSING"]
    vals = [3, 2.5, "7.25", "x", "MISSING"]
    recs, ts = [], []
    base = dt.datetime(1970, 1, 1) - dt.timedelta(seconds=40)
    for j in range(400):
        r = {"id": j}
        k = keys[j * 5 % len(keys)]
        if k != "MISSING":
            r["app-id"] = k
        v = vals[j * 3 % len(vals)]
        if v != "MISSING":
            r["v"] = v
        recs.append(r)
        ts.append(None if j % 31 == 0 else base + dt.timedelta(microseconds=j * 213_417))
    return records_to_df(spark, recs, tag="dyn", timestamps=ts)


def _pairs(eng, sql, monkeypatch):
    """(pane rows, F.window rows) of one query, as dicts; the F.window run
    is the same executor with the pane path switched off. Both sides are
    collected in one job."""
    pane = eng.run(sql)
    with monkeypatch.context() as m:
        m.setattr(sp_exec, "_seconds_codec", lambda dtype: None)
        ref = SPEngine(streams=eng.streams, mode=eng.mode).run(sql)
    assert pane.dtypes == ref.dtypes
    both = pane.withColumn("__ref", F.lit(False)).unionByName(ref.withColumn("__ref", F.lit(True)))
    got, want = [], []
    for r in both.collect():
        d = r.asDict()
        (want if d.pop("__ref") else got).append(d)
    return got, want


def _assert_same(got, want, approx=("s", "a")):
    """Rows paired by their exact columns; `approx` to a relative 1e-12."""
    assert len(got) == len(want) and len(got) > 0
    key = lambda r: tuple(str(v) for c, v in r.items() if c not in approx)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for c in g:
            if c in approx and g[c] is not None and w[c] is not None:
                assert math.isclose(g[c], w[c], rel_tol=1e-12), (c, g, w)
            else:
                assert g[c] == w[c], (c, g, w)


@pytest.fixture(scope="module")
def static_engine(spark):
    df = _static_frame(spark).cache()
    df.count()
    yield SPEngine(streams={"S": df}, mode="static")
    df.unpersist()


@pytest.mark.parametrize(
    "window",
    [TUMBLING, "HOPPING (600 SECOND, ADVANCE BY 300 SECOND)", "HOPPING (5 SECOND, ADVANCE BY 2 SECOND)"],
)
def test_static_pane_equals_f_window(static_engine, window, monkeypatch):
    sql = f"SELECT k, {AGGS} FROM STREAM:S WINDOW {window} WHERE v > 1.5 GROUP BY k;"
    got, want = _pairs(static_engine, sql, monkeypatch)
    _assert_same(got, want)
    assert all(r["k"] is not None for r in got)  # null group keys drop


def test_static_pane_global_window(static_engine, monkeypatch):
    # no GROUP BY: one row per window, pre-epoch windows included
    sql = f"SELECT {AGGS} FROM STREAM:S WINDOW {HOP_7_3};"
    got, want = _pairs(static_engine, sql, monkeypatch)
    _assert_same(got, want)
    assert min(r["window_start"] for r in got) < dt.datetime(1970, 1, 1)


@pytest.fixture(scope="module")
def dynamic_engine(spark):
    df = _dynamic_frame(spark).cache()
    df.count()
    yield SPEngine(streams={"S": df}, mode="dynamic")
    df.unpersist()


def test_dynamic_pane_equals_f_window(dynamic_engine, monkeypatch):
    # hopping: the pane partials and the __gi_* int flags both roll up
    sql = f"SELECT app-id, {AGGS} FROM STREAM:S WINDOW {HOP_7_3} WHERE id > 3 GROUP BY app-id;"
    got, want = _pairs(dynamic_engine, sql, monkeypatch)
    _assert_same(got, want)
    # numeric keys coerce into one group and float members promote it
    assert {r["app-id"] for r in got} >= {"1", "2.0", "web"}


def test_ntz_pane_under_non_utc_session(spark, monkeypatch):
    """TIMESTAMP_NTZ windows align on wall-clock microseconds whatever the
    session time zone, and keep the NTZ type; a DST gap in the session
    zone must not shift them."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 01:00-03:00 wall clock: 02:xx does not exist in the session zone
        base = F.expr("TIMESTAMP_NTZ'2024-03-10 01:00:00'")
        i = F.col("id")
        df = spark.range(1500).select(
            F.timestamp_add("SECOND", i * 7919 % 7200, base).alias("ts"),
            (i % 3).alias("k"),
            (i * 37 % 1000 / 10.0).alias("v"),
        )
        eng = SPEngine(streams={"S": df}, mode="static")
        sql = f"SELECT k, {AGGS} FROM STREAM:S WINDOW {HOP_7_3} GROUP BY k;"
        got, want = _pairs(eng, sql, monkeypatch)
        _assert_same(got, want)
        out = eng.run(sql)
        assert dict(out.dtypes)["window_start"] == "timestamp_ntz"
        assert dict(out.dtypes)["window_end"] == "timestamp_ntz"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_hopping_advance_over_size_is_rejected(static_engine, spark):
    # F.window rejects a slide longer than the window at analysis; the
    # parser rejects the spec for both paths instead of letting the panes
    # drop the records that fall between windows
    ts = F.timestamp_seconds(F.col("id"))
    with pytest.raises(AnalysisException):
        spark.range(1).groupBy(F.window(ts, "5 seconds", "7 seconds")).count()
    for window in ("HOPPING (5 SECOND, ADVANCE BY 7 SECOND)", "HOPPING (5 SECOND, ADVANCE BY 0 SECOND)"):
        with pytest.raises(ValueError, match="ADVANCE BY"):
            static_engine.run(f"SELECT {AGGS} FROM STREAM:S WINDOW {window};")


# --- plan shape ------------------------------------------------------------


def test_static_hopping_plan_rolls_up_panes(static_engine):
    out = static_engine.run(
        f"SELECT k, {AGGS} FROM STREAM:S "
        "WINDOW HOPPING (600 SECOND, ADVANCE BY 300 SECOND) GROUP BY k;"
    )
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    assert not any("Expand" in ln for ln in lines)
    # printed top-down: the explode (Generate) sits above the pane
    # aggregate (the first HashAggregate to run) and below the roll-up
    gen = [i for i, ln in enumerate(lines) if "Generate" in ln]
    aggs = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert len(gen) == 1 and len(aggs) == 4
    assert aggs[1] < gen[0] < aggs[2]


def test_stream_plan_keeps_window_struct(spark):
    # analysed only: the rate source never starts
    stream = spark.readStream.format("rate").load().select(
        F.lit("t").alias("tag"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 3).alias("k"),
        F.col("value").cast("double").alias("v"),
    )
    out = execute_stream(
        f"SELECT k, {AGGS} FROM STREAM:S WINDOW HOPPING (5 SECOND, ADVANCE BY 2 SECOND) "
        "GROUP BY k;",
        stream,
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    assert "window" in plan.lower() and "Expand" in plan
    assert "unix_seconds" not in plan


def test_forecast_window_keeps_f_window(spark):
    # v = 2 * second: each 10 s window's line predicts 2 * (last + 10)
    df = spark.range(20).select(
        F.timestamp_seconds("id").alias("ts"), (F.col("id") * 2.0).alias("v")
    )
    eng = SPEngine(streams={"S": df}, mode="static")
    out = eng.run(
        "SELECT COUNT(*) AS n, TIMESERIES_FORECAST(v, 10) AS fc FROM STREAM:S "
        "WINDOW TUMBLING (10 SECOND);"
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "unix_seconds" not in plan and "window" in plan.lower()
    got = {r["window_start"]: (r["n"], r["fc"]) for r in out.collect()}
    epoch = dt.datetime(1970, 1, 1)
    assert got.keys() == {epoch, epoch + dt.timedelta(seconds=10)}
    assert got[epoch][0] == 10 and abs(got[epoch][1] - 38.0) < 1e-9
    assert abs(got[epoch + dt.timedelta(seconds=10)][1] - 58.0) < 1e-9


def test_ntz_forecast_and_snapshot_read_the_wall_clock(spark):
    """TIMESERIES_FORECAST's x and the WITH(seconds=...) snapshot cut
    read a TIMESTAMP_NTZ on its wall clock: under America/New_York,
    where 02:00-03:00 on 2024-03-10 does not exist, the results equal
    the UTC session's (a cast through the session zone folded 02:30 and
    03:30 onto one instant)."""
    # one event every 450.25 s of wall clock from 00:00 to 04:30, on a
    # line v = 2 * (wall seconds since midnight)
    base = dt.datetime(2024, 3, 10)
    times = [base + dt.timedelta(seconds=450.25 * j) for j in range(37)]
    secs = [(t - base).total_seconds() for t in times]
    rows = [(t, j % 2, 2.0 * s) for j, (t, s) in enumerate(zip(times, secs))]

    def run():
        df = spark.createDataFrame(rows, "ts timestamp_ntz, k int, v double")
        eng = SPEngine(streams={"S": df}, mode="static")
        fc = eng.run(
            "SELECT k, TIMESERIES_FORECAST(v, 60) AS fc FROM STREAM:S GROUP BY k;"
        ).collect()
        eng.run("CREATE SNAPSHOT snap WITH(seconds='3600') AS SELECT * FROM STREAM:S;")
        kept = eng.run("FLUSH SNAPSHOT snap AS SELECT * FROM STREAM:S;").collect()
        return {r["k"]: r["fc"] for r in fc}, sorted(r["ts"] for r in kept)

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = run()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert ny[1] == utc[1] == [t for t in times if t > times[-1] - dt.timedelta(hours=1)]
    assert ny[0].keys() == utc[0].keys() == {0, 1}
    for k in (0, 1):
        last = max(s for j, s in enumerate(secs) if j % 2 == k)
        assert ny[0][k] == pytest.approx(utc[0][k], rel=1e-12)
        assert utc[0][k] == pytest.approx(2.0 * (last + 60), rel=1e-9)
