"""Execute a parsed stream-processor query as a DataFrame plan.

Two record models share one executor:

* **dynamic** — records are (tag, ts, body) with the tagged-union map
  encoding of fbrecord.py; faithful to the reference's schemaless model
  (heterogeneous keys per record, msgpack-nil vs missing distinction,
  string->number coercion). Used for the golden tests ported from
  tests/internal/include/sp_select_keys.h.
* **static** — records are plain typed columns; the Fluent Bit type of
  each operand is known at plan time so comparisons compile to bare
  Catalyst expressions (whole-stage codegen, zero overhead). Used for the
  production pipeline and the driver-facing queries.

Window semantics: the reference fires *processing-time* timers
(flb_sp.c:519-547) and is single-node; we assign **event-time** windows
over the record timestamp — deterministic, testable, and the only sane
definition on a cluster. Windows are epoch-aligned [start, start + size)
with start a multiple of the advance, exactly as F.window assigns them.
Hopping windows recompute MIN/MAX per window, which fixes the
reference's known MIN/MAX retraction bug (flb_sp_aggregate_func.c:
348-355: min/max are not retractable, stale extremes persist across
hops).

Batch and streaming build windows differently:
* batch (COUNT/SUM/MIN/MAX/AVG only) aggregates each event once into an
  integer pane of gcd(size, advance) epoch seconds — a tumbling window
  is that one aggregate; a hopping window rolls the pane partials up per
  window start (sum of counts and sums, min of mins, max of maxes), the
  reference's per-hop slot scheme (flb_sp_window.c:56-103) without the
  retraction. F.window would instead build a struct of CASE arithmetic
  per event and, for hopping windows, Expand every event into
  size/advance hash-table inserts.
* streaming frames and TIMESERIES_FORECAST keep F.window: append-mode
  state eviction needs the window struct the watermark is tracked on,
  and the regression's moments do not roll up from pane partials here.

Aggregation notes (src/stream_processor/flb_sp_aggregate_func.c):
* COUNT(key) == COUNT(*) == group record count (:199-205).
* AVG = SUM/COUNT as float (:170-205).
* records missing any GROUP BY key are dropped (flb_sp.c:1368-1372).
* TIMESERIES_FORECAST(x, t) = simple linear regression of x over record
  time, predicted at latest_time + t (:223-308); closed form from
  built-in aggregates here.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from operator import and_
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fbrecord
from ..router import glob_to_regex
from ..sqltext import sql_ident
from ..semantics import (
    FB_BOOL,
    FB_FLOAT,
    FB_INT,
    FB_NULL,
    FB_STRING,
    FBVal,
    fb_compare,
    fb_is_null,
    fb_truthy,
    fb_type_of,
    str_to_num,
)
from .parser import (
    AGG_FUNCS,
    Cmp,
    Contains,
    FuncCall,
    KeyRef,
    Literal,
    Logical,
    Query,
    SelectKey,
    parse_sql,
)

# ---------------------------------------------------------------------------
# bindings
# ---------------------------------------------------------------------------


class DynamicBinding:
    """Operands are tagged-union structs over the body map."""

    def __init__(self, tag_col: str = "tag", ts_col: str = "ts", body_col: str = "body"):
        self.tag_col = tag_col
        self.ts_col = ts_col
        self.body_col = body_col

    # --- operand -> internal value -----------------------------------------
    def value(self, key: KeyRef) -> Column:
        v = F.element_at(F.col(self.body_col), key.name)
        if key.subkeys:
            path = "$"
            for s in key.subkeys:
                path += f"[{s}]" if isinstance(s, int) else f".{s}"
            txt = F.get_json_object(v.getField("s"), path)
            v = _tagged_from_json_text(txt)
        return v

    def func(self, name: str, now_ts=None) -> Column:
        if name == "RECORD_TAG":
            return _tag_str(F.col(self.tag_col))
        if name == "RECORD_TIME":
            return _tag_float(F.col(self.ts_col).cast("double"))
        if name == "NOW":
            base = now_ts if now_ts is not None else F.current_timestamp()
            return _tag_str(F.date_format(base, "yyyy-MM-dd HH:mm:ss"))
        if name == "UNIX_TIMESTAMP":
            base = now_ts if now_ts is not None else F.current_timestamp()
            return _tag_int(base.cast("long"))
        raise ValueError(name)

    def lit(self, v) -> Column:
        if v is None:
            return _tagged(F.lit("null"), None, None, None, None)
        if isinstance(v, bool):
            return _tagged(F.lit("bool"), None, None, None, F.lit(v))
        if isinstance(v, int):
            return _tag_int(F.lit(v).cast("long"))
        if isinstance(v, float):
            return _tag_float(F.lit(v))
        return _tag_str(F.lit(v))

    # --- semantics ----------------------------------------------------------
    def compare(self, left: Column, op: str, right: Column) -> Column:
        return fbrecord.compare_keys(left, right, op)

    def truthy(self, v: Column) -> Column:
        t = v.getField("t")
        return F.coalesce(
            F.when(t == "bool", v.getField("b"))
            .when(t == "int", v.getField("i") > 0)
            .when(t == "float", v.getField("f") > 0.0)
            .when(t == "string", F.lit(True))
            .otherwise(F.lit(False)),
            F.lit(False),
        )

    def contains(self, key: KeyRef) -> Column:
        return fbrecord.present(F.col(self.body_col), key.name)

    def numeric(self, v: Column) -> Column:
        return fbrecord.as_double(v)

    def group_expr(self, v: Column) -> Column:
        # GROUP BY key typing (sp_process_aggregate_data, flb_sp.c:1328-1367
        # with str_conv on by default, flb_config.c:388): numeric strings
        # coerce via string_to_number (19-char cap), booleans become int64
        # 0/1, and int/float group together (flb_sp_groupby.c:36-44 promotes
        # to double on compare — "10", 10 and 10.0 land in one group).
        # Non-coercible strings group by strcmp.
        t = v.getField("t")
        n = F.when(t == "bool", v.getField("b").cast("int").cast("double")).otherwise(
            fbrecord.as_double(v)
        )
        is_num = n.isNotNull()
        return F.struct(
            F.when(is_num, F.lit("num")).otherwise(t).alias("t"),
            n.alias("n"),
            F.when(is_num, F.lit(None).cast("string"))
            .otherwise(v.getField("s"))
            .alias("s"),
        )

    def group_is_int(self, v: Column) -> Column:
        # int-ness for emit: the stored node keeps int64 unless a float
        # member promotes it (flb_sp_groupby.c:36-44) -> output is int iff
        # every group member is int-like (int, bool, or integer string).
        t = v.getField("t")
        s = v.getField("s")
        return (
            (t == "int")
            | (t == "bool")
            | ((t == "string") & str_to_num(s, cap19=True).isNotNull()
               & ~s.contains("."))
        )

    def present(self, key: KeyRef) -> Column:
        return self.value(key).isNotNull()

    def render(self, v: Column) -> Column:
        return fbrecord.as_string(v)


class StaticBinding:
    """Operands are typed columns of a fixed-schema DataFrame."""

    def __init__(self, df: DataFrame, tag_col: str = "tag", ts_col: str = "ts"):
        # read once: DataFrame.schema is a JVM round trip and a JSON
        # re-parse on every access
        self.schema = df.schema
        self.tag_col = tag_col
        self.ts_col = ts_col

    def value(self, key: KeyRef) -> FBVal:
        c = F.col(key.name)
        dtype = self.schema[key.name].dataType
        for s in key.subkeys:
            if isinstance(s, int):
                c = F.element_at(c, s + 1)
                dtype = dtype.elementType
            else:
                if isinstance(dtype, T.StructType):
                    c = c.getField(s)
                    dtype = dtype[s].dataType
                else:  # map
                    c = F.element_at(c, s)
                    dtype = dtype.valueType
        return FBVal(c, fb_type_of(dtype))

    def func(self, name: str, now_ts=None) -> FBVal:
        if name == "RECORD_TAG":
            return FBVal(F.col(self.tag_col), FB_STRING)
        if name == "RECORD_TIME":
            return FBVal(F.col(self.ts_col).cast("double"), FB_FLOAT)
        if name == "NOW":
            base = now_ts if now_ts is not None else F.current_timestamp()
            return FBVal(F.date_format(base, "yyyy-MM-dd HH:mm:ss"), FB_STRING)
        if name == "UNIX_TIMESTAMP":
            base = now_ts if now_ts is not None else F.current_timestamp()
            return FBVal(base.cast("long"), FB_INT)
        raise ValueError(name)

    def lit(self, v) -> FBVal:
        return FBVal.lit(v)

    def compare(self, left: FBVal, op: str, right: FBVal) -> Column:
        if op == "=" and (left.ftype == FB_NULL or right.ftype == FB_NULL):
            other = right if left.ftype == FB_NULL else left
            if other.ftype == FB_NULL:
                return F.lit(True)
            return fb_is_null(other)
        return fb_compare(left, right, op)

    def truthy(self, v: FBVal) -> Column:
        return fb_truthy(v)

    def contains(self, key: KeyRef) -> Column:
        return self.value(key).col.isNotNull()

    def numeric(self, v: FBVal) -> Column:
        if v.ftype == FB_STRING:
            # aggregate/GROUP BY entry goes through object_to_number,
            # which carries the 19-char guard (flb_sp.c:380-383)
            return str_to_num(v.col, cap19=True)
        return v.col.cast("double")

    def group_expr(self, v: FBVal) -> Column:
        return v.col

    def present(self, key: KeyRef) -> Column:
        return self.value(key).col.isNotNull()

    def render(self, v: FBVal) -> Column:
        return v.col


def _tagged(t, i, f, s, b) -> Column:
    return F.struct(
        (t if t is not None else F.lit(None).cast("string")).alias("t"),
        (i if i is not None else F.lit(None).cast("long")).alias("i"),
        (f if f is not None else F.lit(None).cast("double")).alias("f"),
        (s if s is not None else F.lit(None).cast("string")).alias("s"),
        (b if b is not None else F.lit(None).cast("boolean")).alias("b"),
    )


def _tag_int(c: Column) -> Column:
    return _tagged(F.lit("int"), c, None, None, None)


def _tag_float(c: Column) -> Column:
    return _tagged(F.lit("float"), None, c, None, None)


def _tag_str(c: Column) -> Column:
    return _tagged(F.lit("string"), None, None, c, None)


def _tagged_from_json_text(txt: Column) -> Column:
    """Reconstruct a tagged value from get_json_object text output."""
    is_int = txt.rlike(r"^-?\d+$")
    is_float = txt.rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$")
    is_bool = txt.isin("true", "false")
    t = (
        F.when(txt.isNull(), F.lit(None).cast("string"))
        .when(txt == "null", F.lit("null"))
        .when(is_bool, F.lit("bool"))
        .when(is_int, F.lit("int"))
        .when(is_float, F.lit("float"))
        .otherwise(F.lit("string"))
    )
    out = _tagged(
        t,
        # try_cast: is_int admits arbitrarily long digit runs, and an
        # out-of-long-range JSON integer must not ANSI-throw the task
        F.when(is_int, txt.try_cast("long")),
        F.when(is_float, txt.try_cast("double")),
        F.when(~is_bool & ~is_int & ~is_float & (txt != "null"), txt),
        F.when(is_bool, txt == "true"),
    )
    return F.when(txt.isNull(), F.lit(None).cast(fbrecord.VALUE_SCHEMA)).otherwise(out)


# ---------------------------------------------------------------------------
# condition compiler
# ---------------------------------------------------------------------------


def _operand(b, node, now_ts):
    if isinstance(node, Literal):
        return b.lit(node.value)
    if isinstance(node, KeyRef):
        return b.value(node)
    if isinstance(node, FuncCall):
        return b.func(node.name, now_ts)
    raise TypeError(node)


def _cond(b, node, now_ts) -> Column:
    """Compile a condition tree to a non-null boolean Column."""
    if isinstance(node, Logical):
        if node.op == "NOT":
            return ~_cond(b, node.left, now_ts)
        l = _cond(b, node.left, now_ts)
        r = _cond(b, node.right, now_ts)
        return (l & r) if node.op == "AND" else (l | r)
    if isinstance(node, Cmp):
        if isinstance(node.left, Contains) or isinstance(node.right, Contains):
            # @record.contains(k) used as a bare truth term (parser wraps
            # bare operands in '= true')
            cont = node.left if isinstance(node.left, Contains) else node.right
            other = node.right if cont is node.left else node.left
            base = b.contains(cont.key)
            if isinstance(other, Literal) and other.value is True:
                return base
            raise ValueError("@record.contains only composes with = true")
        left = _operand(b, node.left, now_ts)
        right = _operand(b, node.right, now_ts)
        return b.compare(left, node.op, right)
    if isinstance(node, Contains):
        return b.contains(node.key)
    raise TypeError(node)


# ---------------------------------------------------------------------------
# engine
# ---------------------------------------------------------------------------


@dataclass
class SPEngine:
    """Resolves FROM STREAM:name / FROM TAG:'pattern' and runs queries.

    streams — name -> DataFrame (the reference's input instances).
    tag_source — DataFrame searched by tag glob for FROM TAG: queries
    (flb_sp.c:2024-2034 matches tasks against chunk tags at runtime; in
    batch we filter the unified source once).
    """

    streams: dict
    tag_source: Optional[DataFrame] = None
    mode: str = "dynamic"  # 'dynamic' | 'static'
    tag_col: str = "tag"
    ts_col: str = "ts"
    body_col: str = "body"
    now_ts = None  # fixed Column for NOW()/UNIX_TIMESTAMP() determinism
    snapshots: dict = None  # name -> (source df, record_limit, seconds)

    def __post_init__(self):
        if self.snapshots is None:
            self.snapshots = {}

    def run(self, sql: Union[str, Query]) -> DataFrame:
        q = parse_sql(sql) if isinstance(sql, str) else sql
        if q.create_snapshot:
            return self._snapshot_create(q)
        if q.flush_snapshot:
            return self._snapshot_flush(q)
        df = self._resolve_source(q)
        return execute(q, df, mode=self.mode, tag_col=self.tag_col,
                       ts_col=self.ts_col, body_col=self.body_col,
                       now_ts=self.now_ts)

    # -- snapshots (sql.y:122-144; flb_sp_snapshot.c:30-90) ---------------
    #
    # The reference rings raw records per task: LIMIT n caps the record
    # count, WITH(seconds=s) caps the time span; CREATE emits nothing,
    # FLUSH dumps the retained buffer (through its optional WHERE). Batch
    # re-expression: retention is applied at flush time over event time
    # (ts_col) — last-n by ts, or ts within `seconds` of the newest
    # record — instead of arrival time (documented divergence: the batch
    # engine has no arrival clock; windows/snapshots key off event time).

    def _snapshot_create(self, q) -> DataFrame:
        src = self._resolve_source(q)
        seconds = int(q.stream_props.get("seconds", 0))
        self.snapshots[q.create_snapshot] = (src, q.limit, seconds)
        return src.limit(0)  # snapshot emits nothing (cb_snapshot_create)

    def _snapshot_flush(self, q) -> DataFrame:
        if q.flush_snapshot not in self.snapshots:
            raise KeyError(f"unknown snapshot {q.flush_snapshot}")
        df, record_limit, seconds = self.snapshots[q.flush_snapshot]
        if seconds:
            # scalar max(ts) via partial-aggregate + 1-row broadcast: the
            # source stays fully parallel (a global window would funnel
            # the whole FROM source through one task at scale)
            newest = df.agg(F.max(F.col(self.ts_col)).alias("__newest"))
            epoch = _epoch_seconds(
                next((f.dataType for f in df.schema if f.name == self.ts_col), None)
            )
            df = (
                df.crossJoin(F.broadcast(newest))
                .filter(F.expr(
                    f"{epoch.format(sql_ident(self.ts_col))}"
                    f" > {epoch.format('__newest')} - {seconds}"
                ))
                .drop("__newest")
            )
        if record_limit:
            # orderBy+limit compiles to TakeOrderedAndProject: per-partition
            # top-n then a merged top-n — no SinglePartition exchange of
            # the data (vs a global row_number window)
            df = df.orderBy(F.desc(self.ts_col)).limit(record_limit)
        if q.where is not None:
            b = (
                DynamicBinding(self.tag_col, self.ts_col, self.body_col)
                if self.mode == "dynamic"
                else StaticBinding(df, self.tag_col, self.ts_col)
            )
            df = df.filter(_cond(b, q.where, self.now_ts))
        return df

    def create_stream(self, sql: str) -> DataFrame:
        """CREATE STREAM name AS SELECT...: run + register result as a new
        stream (flb_sp_stream.c:35-101). WITH(tag='t') re-tags."""
        q = parse_sql(sql)
        out = self.run(q)
        if q.create_stream:
            tag = q.stream_props.get("tag")
            if tag and self.tag_col in out.columns:
                out = out.withColumn(self.tag_col, F.lit(tag))
            self.streams[q.create_stream] = out
        return out

    def _resolve_source(self, q: Query) -> DataFrame:
        if q.source.kind == "stream":
            if q.source.name not in self.streams:
                raise KeyError(f"unknown stream {q.source.name}")
            return self.streams[q.source.name]
        if self.tag_source is None:
            raise ValueError("FROM TAG: requires a tag_source")
        rx = glob_to_regex(q.source.name)
        return self.tag_source.filter(F.col(self.tag_col).rlike(rx))


def execute(
    q: Query,
    df: DataFrame,
    *,
    mode: str = "dynamic",
    tag_col: str = "tag",
    ts_col: str = "ts",
    body_col: str = "body",
    now_ts=None,
) -> DataFrame:
    if mode == "dynamic":
        b = DynamicBinding(tag_col, ts_col, body_col)
    else:
        b = StaticBinding(df, tag_col, ts_col)

    if q.where is not None:
        df = df.filter(_cond(b, q.where, now_ts))

    if q.has_aggregates:
        out = _execute_aggregate(q, df, b, mode, ts_col)
    else:
        out = _execute_projection(q, df, b, mode, body_col, now_ts)

    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def _execute_projection(q, df, b, mode, body_col, now_ts) -> DataFrame:
    if any(k.star for k in q.keys) and len(q.keys) == 1:
        return df

    if mode == "static":
        cols = []
        for k in q.keys:
            if k.star:
                cols.append(F.col("*"))
            elif k.func:
                cols.append(b.func(k.func, now_ts).col.alias(k.out_name))
            else:
                cols.append(b.value(k.key).col.alias(k.out_name))
        return df.select(*cols)

    # dynamic: rebuild the body map with only the selected & present keys
    # ('missing keys are silently dropped' — flb_sp.c:1799-1821)
    entries = []
    passthrough_star = any(k.star for k in q.keys)
    for k in q.keys:
        if k.star:
            continue
        if k.func:
            v = b.func(k.func, now_ts)
            entries.append(F.struct(F.lit(k.out_name).alias("key"), v.alias("value")))
            continue
        v = b.value(k.key)
        entries.append(
            F.when(
                v.isNotNull(),
                F.struct(F.lit(k.out_name).alias("key"), v.alias("value")),
            )
        )
    arr = F.filter(F.array(*entries), lambda e: e.isNotNull())
    new_body = F.map_from_entries(arr)
    if passthrough_star:
        new_body = F.map_concat(F.col(body_col), new_body)
    keep = [c for c in df.columns if c != body_col]
    return df.select(*keep, new_body.alias(body_col))


# aggregates whose window value rolls up from per-pane partials
_PANE_FUNCS = {"COUNT", "SUM", "MIN", "MAX", "AVG"}


def _seconds_codec(dtype):
    """(to epoch seconds, from epoch seconds) SQL templates for a
    timestamp type, on the clock F.window buckets: the UTC instant of a
    TIMESTAMP, the wall clock of a TIMESTAMP_NTZ. To-seconds floors, so
    pre-epoch times bucket down as in F.window. NTZ goes through
    NTZ - NTZ intervals only: Spark 4.1's timestampdiff, timestampadd and
    date_trunc read an NTZ value in the session time zone, which shifts
    wall-clock times in a DST gap. Measured from year 1 (62135596800 s
    before the epoch) the interval is never negative, so its truncating
    bigint cast floors. None for any other type."""
    if isinstance(dtype, T.TimestampType):
        return "unix_seconds({})", "timestamp_seconds({})"
    if isinstance(dtype, T.TimestampNTZType):
        return (
            "(CAST(CAST({} - TIMESTAMP_NTZ'0001-01-01 00:00:00' AS INTERVAL SECOND)"
            " AS BIGINT) - 62135596800)",
            "TIMESTAMP_NTZ'1970-01-01 00:00:00' + INTERVAL '1' SECOND * ({})",
        )
    return None


def _epoch_seconds(dtype) -> str:
    """SQL template: a record time as DOUBLE epoch seconds, fraction
    kept. A TIMESTAMP_NTZ is read on its wall clock through an NTZ - NTZ
    interval, as in _seconds_codec: a cast to TIMESTAMP would read it in
    the session time zone, where the wall times of a DST gap collapse
    (America/New_York: 02:30 and 03:30 on 2024-03-10 both gave
    1710055800). DECIMAL(18, 6) holds every microsecond of years
    1-9999. Other types cast to TIMESTAMP first."""
    if isinstance(dtype, T.TimestampNTZType):
        return (
            "CAST(CAST({} - TIMESTAMP_NTZ'1970-01-01 00:00:00'"
            " AS DECIMAL(18, 6)) AS DOUBLE)"
        )
    return "CAST(CAST({} AS TIMESTAMP) AS DOUBLE)"


def _agg(k: SelectKey, n: Optional[Column], x: Optional[Column] = None) -> Column:
    """One aggregate over a group's records, named as selected."""
    if k.func == "COUNT":
        # COUNT(key) == COUNT(*) (flb_sp_aggregate_func.c:199-205)
        return F.count(F.lit(1)).alias(k.out_name)
    if k.func == "MIN":
        return F.min(n).alias(k.out_name)
    if k.func == "MAX":
        return F.max(n).alias(k.out_name)
    if k.func == "SUM":
        return F.sum(n).alias(k.out_name)
    if k.func == "AVG":
        # AVG = SUM/record-count as float (flb_sp_aggregate_func.c:170-205)
        return (F.sum(n) / F.count(F.lit(1))).alias(k.out_name)
    # TIMESERIES_FORECAST: simple linear regression of y over record
    # time, predicted at latest_time + offset (flb_sp_aggregate_func.c:
    # 223-308). Use covar_pop/var_pop (Welford-stable) instead of the
    # raw-moment form: x is epoch seconds (~1.7e9) and avg(x*x)-avg(x)^2
    # cancels catastrophically in doubles. Centered prediction
    # avg(y) + b1*((max(x)-avg(x)) + t) avoids the same in b0.
    # x is the record time in epoch seconds (_epoch_seconds)
    b1 = F.try_divide(F.covar_pop(x, n), F.var_pop(x))
    forecast = F.avg(n) + b1 * ((F.max(x) - F.avg(x)) + F.lit(float(k.forecast_offset)))
    return forecast.alias(k.out_name)


def _pane_aggregate(df, win, secs, groups, measures, flags):
    """Windowed aggregate over integer panes of gcd(size, advance) seconds.

    Each record enters the hash table once, under its pane. A window
    [s, s + size) is the union of its panes because s and size are pane
    multiples, so a hopping window rolls the pane partials up: each pane
    row is exploded to the window starts that contain it (multiples of
    the advance in (p - size, p]) and re-aggregated — SUM of counts and
    sums, MIN of mins, MAX of maxes, AVG as rolled-up sum over count.
    Window sizes are whole seconds (SECOND/MINUTE/HOUR units), so panes
    over floored epoch seconds bucket exactly as F.window's microseconds.
    `secs` is the SQL for a record's epoch seconds. The roll-up is built
    from SQL strings, one Py4J call per column: each Column function call
    costs several round trips, and this plan is rebuilt on every run.
    Returns the frame, with the window start in `__ws`."""
    size = win.size_sec
    adv = win.advance_sec if win.kind == "hopping" else size
    keys = [c.alias(name) for name, c in groups.items()]
    flag_aggs = [c.alias(name) for name, c in flags.items()]
    if adv == size:  # tumbling: the pane is the window
        ws = F.expr(f"{secs} - pmod({secs}, {size}L) AS __ws")
        return df.groupBy(ws, *keys).agg(*[_agg(k, n) for k, n in measures], *flag_aggs)
    partial, rollup = [F.expr("count(1) AS __c")], []
    for i, (k, n) in enumerate(measures):
        m = f"__m{i}"
        if k.func == "COUNT":
            total = "sum(__c)"
        elif k.func == "AVG":
            partial.append(F.sum(n).alias(m))
            total = f"sum({m}) / sum(__c)"
        else:
            partial.append(getattr(F, k.func.lower())(n).alias(m))
            total = f"{k.func.lower()}({m})"
        rollup.append(F.expr(f"{total} AS {sql_ident(k.out_name)}"))
    rollup += [F.expr(f"min({sql_ident(name)}) AS {sql_ident(name)}") for name in flags]
    last = f"__p - pmod(__p, {adv}L)"
    first = f"{last} - {(-(-size // adv) - 1) * adv}L"
    starts = f"filter(sequence({first}, {last}, {adv}L), s -> s > __p - {size}L)"
    pane = math.gcd(size, adv)
    return (
        df.groupBy(F.expr(f"{secs} - pmod({secs}, {pane}L) AS __p"), *keys)
        .agg(*partial, *flag_aggs)
        .select(F.expr(f"explode({starts}) AS __ws"), "*")
        .groupBy("__ws", *groups)
        .agg(*rollup)
    )


def _execute_aggregate(q, df, b, mode, ts_col) -> DataFrame:
    # selecting a bare key that is not grouped is an error (flb_sp.c:500-506)
    group_names = {g.name for g in q.groupby}
    for k in q.keys:
        if k.func is None and not k.star and k.key.name not in group_names:
            raise ValueError(
                f"key '{k.key.name}' selected alongside aggregates must be in GROUP BY"
            )

    # drop records missing any group key (flb_sp.c:1368-1372)
    keep = [b.present(g) for g in q.groupby]

    groups, flags = {}, {}
    for g in q.groupby:
        v = b.value(g)
        groups[f"__g_{g.name}"] = b.group_expr(v)
        if mode == "dynamic":
            # emit typing: the stored key stays int64 unless any float
            # member promoted it (flb_sp_groupby.c:36-44); tracked as an
            # all-members-int flag outside the grouping identity
            flags[f"__gi_{g.name}"] = F.min(b.group_is_int(v))

    measures = [
        (k, None if k.func == "COUNT" else b.numeric(b.value(k.key)))
        for k in q.keys
        if k.func in AGG_FUNCS
    ]

    def ts_type():
        schema = b.schema if mode == "static" else df.schema
        return next((f.dataType for f in schema if f.name == ts_col), None)

    codec = None
    if q.window is not None and all(k.func in _PANE_FUNCS for k, _ in measures) \
            and not df.isStreaming:
        codec = _seconds_codec(ts_type())
    if codec is not None:
        keep.append(F.col(ts_col).isNotNull())  # F.window drops null times
    if keep:
        df = df.filter(reduce(and_, keep))

    window_cols = []
    if codec is not None:
        to_s, from_s = codec
        secs = to_s.format(sql_ident(ts_col))
        out = _pane_aggregate(df, q.window, secs, groups, measures, flags)
        window_cols = [
            F.expr(f"{from_s.format('__ws')} AS window_start"),
            F.expr(f"{from_s.format(f'__ws + {q.window.size_sec}L')} AS window_end"),
        ]
    else:
        keys = [c.alias(name) for name, c in groups.items()]
        if q.window is not None:
            size = f"{q.window.size_sec} seconds"
            if q.window.kind == "hopping":
                w = F.window(F.col(ts_col), size, f"{q.window.advance_sec} seconds")
            else:
                w = F.window(F.col(ts_col), size)
            keys.insert(0, w.alias("__w"))
            window_cols = [
                F.col("__w.start").alias("window_start"),
                F.col("__w.end").alias("window_end"),
            ]
        x = None
        if any(k.func == "TIMESERIES_FORECAST" for k, _ in measures):
            x = F.expr(_epoch_seconds(ts_type()).format(sql_ident(ts_col)))
        out = df.groupBy(*keys).agg(
            *[_agg(k, n, x) for k, n in measures],
            *[c.alias(name) for name, c in flags.items()],
        )

    # re-emit group keys under their selected names/aliases
    sel = window_cols
    for k in q.keys:
        if k.func in AGG_FUNCS:
            sel.append(F.col(f"`{k.out_name}`"))
        elif k.func:  # time/record funcs alongside aggregates
            continue
        else:
            g = k.key
            gc = F.col(f"__g_{g.name}")
            if mode == "dynamic":
                # package_results (flb_sp.c:1236-1254) emits the COERCED
                # group value: int64 when every member was int-like (bools
                # and integer strings included), float if any member
                # promoted the node, the raw string otherwise. Rendered
                # into the flat string column the way the reference's JSON
                # serializer would print it.
                n = gc.getField("n")
                is_int = F.col(f"__gi_{g.name}")
                gc = F.when(
                    gc.getField("t") == "num",
                    F.when(is_int, n.cast("long").cast("string")).otherwise(
                        n.cast("string")
                    ),
                ).otherwise(gc.getField("s"))
            sel.append(gc.alias(k.out_name))
    return out.select(*sel)


def execute_stream(
    sql_or_query,
    stream_df: DataFrame,
    *,
    watermark: str = "30 seconds",
    mode: str = "static",
    tag_col: str = "tag",
    ts_col: str = "ts",
    body_col: str = "body",
) -> DataFrame:
    """Run an SP query over a Structured Streaming frame.

    The reference's stream processor is stream-native: windows fire on
    processing-time timers (flb_sp.c:519-527) and hold only the open
    window's accumulators. The Spark mapping is the batch executor's
    WHERE / GROUP BY / aggregate expressions wrapped with an EVENT-TIME
    watermark so the state store evicts closed windows (bounded state,
    late data handled; the documented upgrade over the reference, SURVEY
    §2.5). Windows here are F.window structs, not the batch executor's
    integer panes: append mode evicts state by the watermark on the
    grouping's event-time window column, which only F.window carries;
    both assign the same [start, start + size) windows. Works with
    writeStream outputMode('append') for windowed queries ('update' for
    un-windowed aggregates).

    LIMIT has no streaming equivalent (the reference applies it per
    flush batch) and is rejected; TIMESERIES_FORECAST's covar/var
    aggregates are supported by Spark's streaming aggregation state.

    Caveat: Catalyst pushes the WHERE predicate BELOW the
    EventTimeWatermark node, so only rows that survive the filter
    advance the watermark — heartbeat/flush sentinels must match the
    query's WHERE to close windows.
    """
    from .parser import parse_sql

    q = parse_sql(sql_or_query) if isinstance(sql_or_query, str) else sql_or_query
    if q.limit is not None:
        raise ValueError(
            "LIMIT is a per-flush-batch notion in the reference; "
            "use the batch executor or bound the sink instead"
        )
    if q.has_aggregates:
        stream_df = stream_df.withWatermark(ts_col, watermark)
    return execute(
        q, stream_df, mode=mode, tag_col=tag_col, ts_col=ts_col, body_col=body_col
    )
