"""Lookup-table enrichment: the reference's only join-like operators.

* filter_geoip2 (plugins/filter_geoip2/geoip2.c:45-110): lookup_key (an IP)
  against the MaxMind MMDB; Record triples add city/country/... fields.
* filter_checklist (plugins/filter_checklist/checklist.c): a file of
  values loaded into a hash table; on (exact or partial) match, annotate
  the record with configured k/v pairs.
* the kubernetes/lang-style metadata enrichments: same shape.

Spark-first: every one of these is a **broadcast hash join** against a
small dimension DataFrame — the build side ships to every executor once
(the analogue of the reference's per-process in-memory hash table), the
probe stays a narrow pass over the stream. No shuffle of the big side.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .sqltext import sql_col, sql_map, sql_str


def geoip_enrich(
    df: DataFrame,
    geo: DataFrame,
    lookup_key: str,
    on: str = "ip_prefix",
    fields: Sequence[str] = ("country", "city"),
    prefix_extract: Optional[str] = r"^(\d+)\.",
) -> DataFrame:
    """Broadcast-left-join geo attributes onto the stream.

    prefix_extract — regex pulling the join key out of the lookup field
    (our dict keys on the first octet; a real MMDB port would bucket by
    CIDR prefix the same way).
    """
    key = (
        F.regexp_extract(F.col(lookup_key), prefix_extract, 1)
        if prefix_extract
        else F.col(lookup_key)
    )
    probe = df.withColumn("__geo_key", key)
    dim = geo.select(F.col(on).alias("__geo_key"), *[F.col(f) for f in fields])
    return probe.join(broadcast(dim), "__geo_key", "left").drop("__geo_key")


def ip_to_long(c: Column) -> Column:
    """Dotted-quad IPv4 string -> uint32 as BIGINT (NULL if malformed).

    try_cast, not cast: the session runs ANSI mode, where cast of a
    non-numeric part ('1.2.3.x', 'www.example.co.uk') THROWS instead of
    yielding NULL. Out-of-range octets (>255) also null out rather than
    producing a wrong address."""

    parts = F.split(c, r"\.")

    def octet(i: int) -> Column:
        v = F.try_element_at(parts, F.lit(i)).try_cast("long")
        return F.when((v >= 0) & (v <= 255), v)

    num = (
        octet(1) * 16777216 + octet(2) * 65536 + octet(3) * 256 + octet(4)
    )
    return F.when(F.size(parts) == 4, num)


def cidr_dim_prepare(
    cidr_df: DataFrame,
    fields: Sequence[str],
    cidr_col: str = "cidr",
) -> DataFrame:
    """CIDR table -> per-/8-bucket sorted match arrays for cidr_geoip_enrich.

    Each `a.b.c.d/L` row parses to (net_masked, mask, prefix_len) and is
    assigned to every /8 bucket it covers (prefixes wider than /8 explode
    into their 2^(8-L) buckets — rare in real GeoIP data, bounded at 256).
    Rows within a bucket collect into an array sorted by prefix_len DESC,
    so the probe's first surviving filter element IS the longest match.
    This is dim-side-only work: probe rows are never duplicated and never
    shuffle (the reference walks the MMDB binary-search tree per record,
    geoip2.c:45-110; the sorted-bucket array is that tree flattened per
    /8 subtree and shipped once per executor).
    """
    net_str = F.regexp_extract(F.col(cidr_col), r"^([0-9.]+)/(\d+)$", 1)
    # try_cast: a malformed dim row (no '/len') extracts '' and a plain
    # cast would abort the job under ANSI; null plen drops the row below
    plen = F.regexp_extract(F.col(cidr_col), r"^([0-9.]+)/(\d+)$", 2).try_cast("int")
    net = ip_to_long(net_str)
    # mask = 2^32 - 2^(32-L); doubles are exact up to 2^53
    mask = (F.lit(4294967296) - F.pow(F.lit(2.0), 32 - plen)).cast("long")
    d = cidr_df.select(
        (net.bitwiseAND(mask)).alias("net_masked"),
        mask.alias("mask"),
        plen.alias("prefix_len"),
        net.alias("__net"),
        *[F.col(f) for f in fields],
    )
    first_bucket = F.shiftright(F.col("__net"), 24)
    n_buckets = F.when(
        F.col("prefix_len") < 8,
        F.pow(F.lit(2.0), 8 - F.col("prefix_len")).cast("long"),
    ).otherwise(F.lit(1))
    d = d.withColumn(
        "bucket", F.explode(F.sequence(first_bucket, first_bucket + n_buckets - 1))
    ).drop("__net")
    entry = F.struct(
        F.col("prefix_len"), F.col("net_masked"), F.col("mask"),
        *[F.col(f) for f in fields],
    )
    return d.groupBy("bucket").agg(
        F.sort_array(F.collect_list(entry), asc=False).alias("__cidr_entries")
    )


def cidr_geoip_enrich(
    df: DataFrame,
    cidr_df: DataFrame,
    lookup_key: str,
    fields: Sequence[str] = ("country", "city"),
    cidr_col: str = "cidr",
    prepared: bool = False,
) -> DataFrame:
    """Longest-prefix (CIDR) GeoIP lookup, MMDB-faithful.

    plugins/filter_geoip2/geoip2.c:45-110 probes the MaxMind tree for the
    most-specific network containing the record's IP. Spark shape: ONE
    broadcast hash join on the IP's /8 bucket (no probe-row duplication,
    no keyed shuffle of the stream), then an array filter over that
    bucket's prefix entries — sorted longest-first, so element 1 of the
    survivors is the answer. The ip_num column is materialized before the
    HOF so the lambda body never re-evaluates it per element.
    """
    dim = (
        cidr_df
        if prepared
        else cidr_dim_prepare(cidr_df, fields, cidr_col=cidr_col)
    )
    probe = df.withColumn("__ip_num", ip_to_long(F.col(lookup_key)))
    probe = probe.withColumn("__ip_bucket", F.shiftright(F.col("__ip_num"), 24))
    joined = probe.join(
        broadcast(dim.withColumnRenamed("bucket", "__ip_bucket")),
        "__ip_bucket",
        "left",
    )
    ip = F.col("__ip_num")
    matches = F.filter(
        F.col("__cidr_entries"),
        lambda x: ip.bitwiseAND(x["mask"]) == x["net_masked"],
    )
    best = F.try_element_at(matches, F.lit(1))
    out = joined
    for f in fields:
        out = out.withColumn(f, best[f])
    return out.drop("__ip_num", "__ip_bucket", "__cidr_entries")


def dict_enrich(
    df: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Generic small-dimension broadcast join (lang dict etc.)."""
    return df.join(broadcast(dim), on, how)


def checklist_annotate(
    df: DataFrame,
    values: Sequence[str],
    lookup_key: str,
    records: Sequence[tuple[str, str]] = (("flagged", "true"),),
    mode: str = "exact",
    ignore_case: bool = False,
) -> DataFrame:
    """filter_checklist: annotate rows whose lookup_key matches the list.

    mode 'exact' mirrors the hash lookup; 'partial' matches substrings
    (checklist.h:30-48 exact vs partial); ignore_case lowers both sides
    (checklist.c ignore_case property; runtime vector
    tests/runtime/filter_checklist.c flb_test_ignore_case). The value
    list is embedded as a literal array when small (pure JVM, no join)
    or broadcast-joined when large.
    """
    c = F.col(lookup_key)
    vals = list(values)
    if ignore_case:
        c = F.lower(c)
        vals = [v.lower() for v in vals]
    # the reference's hash table dedups inherently; a duplicated line in
    # the checklist file must not duplicate matching records through the
    # broadcast join
    vals = list(dict.fromkeys(vals))
    if mode == "exact":
        if len(vals) <= 1000:
            hit = c.isin(vals)
        else:
            spark = df.sparkSession
            dim = spark.createDataFrame([(v,) for v in vals], "__ck string")
            marked = dim.withColumn("__hit", F.lit(True))
            df = df.join(
                broadcast(marked), c == F.col("__ck"), "left"
            )
            hit = F.coalesce(F.col("__hit"), F.lit(False))
            out = df
            for k, v in records:
                old = F.col(f"`{k}`") if k in out.columns else F.lit(None)
                out = out.withColumn(k, F.when(hit, F.lit(v)).otherwise(old))
            return out.drop("__hit", "__ck")
    else:
        hit = F.lit(False)
        for v in vals:
            hit = hit | c.contains(v)
    out = df
    for k, v in records:
        # record K V only rewrites MATCHED rows (checklist.c:501-541);
        # an existing key keeps its value elsewhere
        old = F.col(f"`{k}`") if k in out.columns else F.lit(None)
        out = out.withColumn(k, F.when(hit, F.lit(v)).otherwise(old))
    return out


def literal_map_enrich(
    df: DataFrame,
    rows: Sequence[tuple],
    lookup_key: str,
    fields: Sequence[str],
    key_extract: Optional[str] = None,
) -> DataFrame:
    """Tiny-dimension enrichment as a LITERAL map expression — zero
    exchanges.

    The reference holds small lookup tables (GeoIP buckets, checklist
    files, lang dicts) in an in-process hash table probed per record
    (checklist.c flb_hash_table; geoip2.c mmdb handle). A broadcast join
    is the general Spark analogue, but for dictionaries of O(100)
    entries the broadcast exchange + extra query stage dominate the
    probe cost; embedding the table as a literal map keeps the lookup
    inside whole-stage codegen — the closest physical match to the
    reference's per-worker hash probe, and measurably better for N->4N
    scaling (each broadcast adds fixed serial per-job time).

    Each field's map is one ``map(k1, v1, ...)`` SQL literal
    (sqltext.sql_map), and all fields land in one ``withColumns``. The
    same map built from ``F.create_map(F.lit(k), F.lit(v), ...)`` sent
    two Py4J calls per entry, each with PySpark's per-call origin
    bookkeeping: ~3,800 round trips and ~0.35 s of driver time for the
    223-row geo table, on every pass that builds the stage. Keys are
    strings (``str(key)``); values keep the type ``F.lit`` gives them.

    rows — (key, field1, field2, ...) tuples, e.g. geo_dict.collect().
    """
    return df.withColumns(literal_map_columns(rows, lookup_key, fields, key_extract))


def literal_map_columns(
    rows: Sequence[tuple],
    lookup_key: str,
    fields: Sequence[str],
    key_extract: Optional[str] = None,
) -> dict:
    """The lookups of :func:`literal_map_enrich`, one Column per field,
    for a caller that projects several dimensions at once."""
    key = (
        f"regexp_extract({sql_col(lookup_key)}, {sql_str(key_extract)}, 1)"
        if key_extract
        else f"CAST({sql_col(lookup_key)} AS STRING)"
    )
    return {
        fname: F.expr(
            f"element_at({sql_map((str(r[0]), r[i]) for r in rows)}, {key})"
        )
        for i, fname in enumerate(fields, start=1)
    }


# ---------------------------------------------------------------------------
# Environment-metadata filters: filter_aws / filter_ecs / filter_sysinfo.
# Each fetches node/task metadata ONCE at init (IMDS HTTP, ECS agent
# introspection, uname) and annotates every record with the same static
# keys (aws.c:67-124 expose_* / ecs.c:48-90 / sysinfo.c). The Spark
# analogue is exact: collect the metadata once on the driver, stamp it
# as literal columns — stays entirely inside whole-stage codegen.
# ---------------------------------------------------------------------------

# filter_aws config_map key set (plugins/filter_aws/aws.h option names ->
# injected record keys)
AWS_FIELDS = (
    "az", "ec2_instance_id", "ec2_instance_type", "private_ip",
    "vpc_id", "ami_id", "account_id", "hostname",
)
# filter_ecs cluster metadata keys (ecs.c:48-90 expose_ecs_cluster_meta)
ECS_FIELDS = ("aws.ecs.cluster_name", "aws.ecs.ecs_agent_version",
              "aws.ecs.task_arn", "aws.ecs.task_id")


def sysinfo_metadata(
    hostname_key: Optional[str] = "hostname",
    os_version_key: Optional[str] = "os_version",
    kernel_version_key: Optional[str] = "kernel_version",
) -> dict:
    """filter_sysinfo (sysinfo.c:251-266 config keys): real values from
    the driver host — the reference reads the same uname/hostname."""
    import platform

    out = {}
    if hostname_key:
        out[hostname_key] = platform.node()
    if os_version_key:
        out[os_version_key] = platform.version()
    if kernel_version_key:
        out[kernel_version_key] = platform.release()
    return out


def aws_metadata(fetch, fields: Sequence[str] = AWS_FIELDS) -> dict:
    """filter_aws metadata set. `fetch(field) -> str` abstracts the IMDS
    v2 calls (aws.c get_metadata_* group machinery) — no IMDS endpoint
    exists off-EC2 (or in this sandbox), so the transport is injected;
    tests pass a fake. Keys mirror the injected record keys."""
    return {f: fetch(f) for f in fields}


def ecs_metadata(fetch, fields: Sequence[str] = ECS_FIELDS) -> dict:
    """filter_ecs cluster/task metadata (ecs.c expose_ecs_cluster_meta);
    fetch abstracts the ECS agent introspection endpoint."""
    return {f: fetch(f) for f in fields}


def environment_enrich(df: DataFrame, metadata: dict) -> DataFrame:
    """Stamp the (static) metadata dict as literal columns — the batch
    analogue of the per-record kvlist append every one of these filters
    performs. Keys containing dots stay flat column names (backticked on
    read via the record accessor)."""
    for k, v in metadata.items():
        df = df.withColumn(k, F.lit(v))
    return df
