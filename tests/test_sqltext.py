"""SQL-text renderers against the F.lit / F.col calls they replace.

Each rendered literal must give the value AND the type of ``F.lit``
under both settings of ``spark.sql.parser.escapedStringLiterals`` (the
setting that decides whether backslashes escape in SQL string
literals), and ``literal_map_enrich``'s map literal must look up
exactly what a ``F.create_map(F.lit(...))`` map looks up.
"""

import datetime
import decimal
import math

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.enrich import literal_map_enrich
from fluent_bit_spark.sqltext import sql_col, sql_ident, sql_lit, sql_str

HOSTILE_STRINGS = [
    "'", "\\", "\\'", "$1", "%", "_", "\n", "\t", "é", "中", "😀", "",
    "it's", "a\\", "a\\\\", "\\\\\\", "''", "r'x'", "x\\'y\\", "^(\\d+)\\.", "a\rb\x00c",
]
VALUES = HOSTILE_STRINGS + [
    None, True, False, 0, 7, -1, 2**31 - 1, -(2**31), 2**31, -(2**31) - 1,
    2**63 - 1, -(2**63), 50000.0, -0.0, 0.1, 1e-5, 1e300,
    float("inf"), float("-inf"), float("nan"),
    decimal.Decimal("1.50"), decimal.Decimal("-12345678901234567890.5"), datetime.date(2024, 3, 10),
]


@pytest.fixture(params=["false", "true"])
def escaped(spark, request):
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, prev)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return type(a) is type(b) and repr(a) == repr(b)


def test_literals_match_f_lit(spark, escaped):
    one = spark.range(1)
    want = one.select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(VALUES)])
    got = one.select(*[F.expr(sql_lit(v)).alias(f"c{i}") for i, v in enumerate(VALUES)])
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    w, g = want.collect()[0], got.collect()[0]
    bad = [(v, sql_lit(v), w[i], g[i]) for i, v in enumerate(VALUES) if not _same(w[i], g[i])]
    assert not bad


def test_string_text_has_no_backslash():
    # a backslash in the text would mean different things under the two
    # parser settings; quotes and backslashes are spliced in with chr()
    for s in HOSTILE_STRINGS:
        assert "\\" not in sql_str(s)
    assert sql_str("plain") == "'plain'"
    assert sql_str("") == "''"


def test_identifiers_match_f_col(spark, escaped):
    names = ["a.b", "a-b", "a`b", "`", "x y", "é"]
    row = tuple(range(len(names)))
    df = spark.createDataFrame([row], ", ".join(f"{sql_ident(n)} int" for n in names))
    assert df.columns == names
    quoted = ["`" + n.replace("`", "``") + "`" for n in names]
    want = df.select(*[F.col(q) for q in quoted]).collect()[0]
    got = df.select(*[F.expr(sql_ident(n)) for n in names]).collect()[0]
    assert tuple(got) == tuple(want) == row
    # sql_col reads a name as F.col does: unquoted dots navigate structs,
    # backtick-quoted parts are taken whole
    nested = spark.createDataFrame([((1, 2), 3)], "s struct<`a.b`: int, c: int>, `s.c` int")
    for name in ["s.c", "`s.c`", "s.`a.b`", "`s`.`c`"]:
        assert nested.select(F.expr(sql_col(name))).collect() == nested.select(F.col(name)).collect()


def _create_map_reference(df, rows, lookup_key, fields, key_extract=None):
    """The Column-built literal map: F.create_map over F.lit pairs."""
    key = (
        F.regexp_extract(F.col(lookup_key), key_extract, 1)
        if key_extract
        else F.col(lookup_key).cast("string")
    )
    out = df
    for i, fname in enumerate(fields, start=1):
        entries = []
        for r in rows:
            entries += [F.lit(str(r[0])), F.lit(r[i])]
        out = out.withColumn(fname, F.element_at(F.create_map(*entries), key))
    return out


def test_literal_map_enrich_matches_create_map(spark, escaped):
    keys = HOSTILE_STRINGS + ["1", "2", "3", "4", "5", "6"]
    # per-field value types: string (with NULLs), int, bigint, double
    rows = [
        (k, None if i % 5 == 0 else f"v{k}", i - 3, 2**40 + i, 50000.0 + i / 4)
        for i, k in enumerate(keys)
    ]
    fields = ["s", "n", "big", "x"]
    probes = keys + ["missing", None]
    df = spark.createDataFrame([(i, k) for i, k in enumerate(probes)], "id int, k string")
    got = literal_map_enrich(df, rows, "k", fields)
    want = _create_map_reference(df, rows, "k", fields)
    assert got.schema == want.schema
    assert got.orderBy("id").collect() == want.orderBy("id").collect()
    hit = {r["k"]: r for r in got.collect() if r["k"] is not None}
    assert hit["\\'"]["big"] == 2**40 + 2 and hit["missing"]["s"] is None

    # key_extract path (the geo lookup's first-octet regex)
    hosts = spark.createDataFrame([("1.2.3.4",), ("6.0.0.1",), ("x",)], "host string")
    geo = [(str(i), f"c{i}", f"city'{i}\\") for i in range(1, 7)]
    got = literal_map_enrich(hosts, geo, "host", ["country", "city"], key_extract=r"^(\d+)\.")
    want = _create_map_reference(hosts, geo, "host", ["country", "city"], key_extract=r"^(\d+)\.")
    assert got.schema == want.schema
    assert got.orderBy("host").collect() == want.orderBy("host").collect()
    assert got.filter("host = '6.0.0.1'").collect()[0]["city"] == "city'6\\"
