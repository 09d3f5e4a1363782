"""Parser golden tests.

Vectors from /root/reference/tests/internal/parser_regex.c:158-230,
parser_logfmt.c:154-300, and conf/parsers.conf patterns applied to
canonical sample lines."""

import datetime as dt

from pyspark.sql import functions as F

from fluent_bit_spark.parsers import (
    APACHE,
    APACHE_ERROR,
    SYSLOG_RFC5424,
    JsonParser,
    LogfmtParser,
    LtsvParser,
    RegexParser,
    TypeCast,
    decode_field_as_json,
    onig_to_python,
    strip_names,
)

APACHE_LINE = (
    '192.168.1.10 - alice [28/Feb/2024:10:20:30 +0000] '
    '"GET /index.html HTTP/1.1" 200 5120 "http://ref.example/" "curl/8.0"'
)
APACHE_NOREF = '10.0.0.2 - - [01/Mar/2024:00:00:00 +0000] "POST /api HTTP/1.1" 500 123'


def _parse(spark, parser, lines, **kw):
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    return parser.apply(df, "line", **kw)


def test_strip_names_indices():
    stripped, idx = strip_names(r"^(?<a>\d+) (x) (?<b>[^ ]*)$")
    assert stripped == r"^(\d+) (x) ([^ ]*)$"
    assert idx == {"a": 1, "b": 3}


def test_strip_names_charclass_paren():
    stripped, idx = strip_names(r"(?<k>[()]+)(?:nc)")
    assert idx == {"k": 1}
    assert stripped == r"([()]+)(?:nc)"


def test_onig_to_python():
    assert onig_to_python(r"(?<name>\d+)") == r"(?P<name>\d+)"
    assert onig_to_python(r"/^x$/") == "^x$"


def _check_apache(row):
    assert row["host"] == "192.168.1.10"
    assert row["user"] == "alice"
    assert row["method"] == "GET"
    assert row["path"] == "/index.html"
    assert row["code"] == "200"
    assert row["size"] == "5120"
    assert row["referer"] == "http://ref.example/"
    assert row["agent"] == "curl/8.0"
    assert row["__parsed_ts"] == dt.datetime(2024, 2, 28, 10, 20, 30)
    assert "time" not in row.asDict()  # time_key consumed (time_keep off)


def test_apache_jvm(spark):
    row = _parse(spark, APACHE, [APACHE_LINE]).first()
    _check_apache(row)


def test_apache_pandas(spark):
    """skip_empty_values=False is the one setting that runs the pandas
    extraction path; on a line without empty captures it extracts the
    same keys as the JVM path."""
    import dataclasses

    p = dataclasses.replace(APACHE, skip_empty_values=False)
    row = _parse(spark, p, [APACHE_LINE]).first()
    _check_apache(row)


def test_apache_missing_groups_both_engines(spark):
    """Non-participating optional groups are NULL on both paths; an
    empty capture is NULL on the default (JVM, skip_empty) path and ''
    with skip_empty_values=False (pandas path)."""
    import dataclasses

    empty_ref = APACHE_NOREF + ' "" "curl/8.0"'
    for skip in (True, False):
        p = dataclasses.replace(APACHE, skip_empty_values=skip)
        rows = _parse(spark, p, [APACHE_NOREF, empty_ref]).collect()
        noref, empty = sorted(rows, key=lambda r: r["agent"] is not None)
        assert noref["referer"] is None and noref["agent"] is None, skip
        assert noref["code"] == "500" and noref["size"] == "123", skip
        assert noref["__parsed_ts"] == dt.datetime(2024, 3, 1), skip
        assert empty["referer"] == (None if skip else ""), skip
        assert empty["agent"] == "curl/8.0", skip


def test_config_skip_empty_values_off(spark):
    """A [PARSER] loaded from config with Skip_Empty_Values Off keeps the
    reference's distinction: a non-participating optional group is no
    key (NULL), an empty capture is the value ''."""
    from fluent_bit_spark.config import Section, parser_from_section

    p = parser_from_section(Section("PARSER", [
        ("name", "opt"),
        ("format", "regex"),
        ("regex", r"^a=(?<a>\d+)(?: b=(?<b>\d*))?$"),
        ("skip_empty_values", "Off"),
    ]))
    assert p.skip_empty_values is False
    got = sorted(
        (r["line"], r["a"], r["b"])
        for r in _parse(spark, p, ["a=1", "a=1 b=", "a=1 b=2"]).collect()
    )
    assert got == [("a=1", "1", None), ("a=1 b=", "1", ""), ("a=1 b=2", "1", "2")]


def test_apache_non_matching_line(spark):
    row = _parse(spark, APACHE, ["garbage with no structure"]).first()
    assert row["host"] is None and row["code"] is None


def test_apache_error_no_timefmt(spark):
    line = "[Mon Feb 26 10:00:00 2024] [error] [pid 1234] [client 1.2.3.4] oops"
    row = _parse(spark, APACHE_ERROR, [line]).first()
    assert row["level"] == "error"
    assert row["pid"] == "1234"
    assert row["client"] == "1.2.3.4"
    assert row["message"] == "oops"
    assert row["__parsed_ts"] is None  # no Time_Format -> timestamp unset


def test_typecast_regex(spark):
    # tests/internal/parser_regex.c:158-199 shape: 'text 100 1.23 true'
    p = RegexParser(
        "types",
        r"^(?<text>[^ ]+) (?<int>[^ ]+) (?<double>[^ ]+) (?<bool>[^ ]+)$",
        types=(TypeCast("int", "integer"), TypeCast("double", "float"), TypeCast("bool", "boolean")),
    )
    row = _parse(spark, p, ["hello 100 1.23 true"]).first()
    assert row["text"] == "hello"
    assert row["int"] == 100
    assert abs(row["double"] - 1.23) < 1e-9
    assert row["bool"] is True


def test_typecast_total_matches_c_library(spark):
    """flb_typecast.c conversion semantics on malformed input: strtol
    leading parse, atof garbage->0.0, strncasecmp PREFIX bools, strtoumax
    hex with optional 0x — all total (no ANSI CAST throw on bad rows)."""
    p = RegexParser(
        "edges",
        r"^(?<i>[^ ]+) (?<f>[^ ]+) (?<b>[^ ]+) (?<h>[^ ]+)$",
        types=(
            TypeCast("i", "int"),
            TypeCast("f", "float"),
            TypeCast("b", "bool"),
            TypeCast("h", "hex"),
        ),
    )
    lines = [
        "12abc 3.5e2 TRUEish 0xFF",   # leading parses + prefix bool + 0x hex
        "abc junk yes zz",            # all conversion failures (atof->0.0)
        "-4 . falsey DEAD",           # bare '.' is not a float -> 0.0
        # zero-padded 17-digit hex (otel-style fixed-width id): leading
        # zeros must not trip the 16-significant-digit conv() bound
        "7 2.5 FALSE 00000000000000FF0",
    ]
    rows = _parse(spark, p, lines).collect()
    got = {r["line"]: (r["i"], r["f"], r["b"], r["h"]) for r in rows}
    assert got == {
        lines[0]: (12, 350.0, True, 255),
        lines[1]: (None, 0.0, None, None),
        lines[2]: (-4, 0.0, False, 57005),
        lines[3]: (7, 2.5, False, 4080),
    }


def test_syslog_rfc5424(spark):
    line = "<34>1 2024-02-28T10:20:30.123+0000 host1 app 1234 MSGID - hello world"
    row = _parse(spark, SYSLOG_RFC5424, [line]).first()
    assert row["pri"] == "34"
    assert row["host"] == "host1"
    assert row["message"] == "hello world"
    assert row["time"] == "2024-02-28T10:20:30.123+0000"  # Time_Keep On
    assert row["__parsed_ts"] == dt.datetime(2024, 2, 28, 10, 20, 30, 123000)


def test_logfmt_basic(spark):
    # parser_logfmt.c:157-161
    lf = LogfmtParser("logfmt")
    df = spark.createDataFrame(
        [('str="text" int=100 double=1.23 bool=true',)], "line string"
    )
    row = lf.apply(df, "line").first()
    assert row["kv"] == {"str": "text", "int": "100", "double": "1.23", "bool": "true"}


def test_logfmt_bare_and_escapes(spark):
    lf = LogfmtParser("logfmt")
    df = spark.createDataFrame(
        [('bare k2= q="a \\"b\\" c" plain=x',)], "line string"
    )
    row = lf.apply(df, "line").first()
    assert row["kv"] == {"bare": "", "k2": "", "q": 'a "b" c', "plain": "x"}


def test_logfmt_no_bare_keys(spark):
    lf = LogfmtParser("logfmt", no_bare_keys=True)
    df = spark.createDataFrame([("bare plain=x",)], "line string")
    row = lf.apply(df, "line").first()
    assert row["kv"] == {"plain": "x"}


def test_ltsv(spark):
    lt = LtsvParser("ltsv")
    df = spark.createDataFrame([("host:1.2.3.4\tstatus:200\tpath:/x",)], "line string")
    row = lt.apply(df, "line").first()
    assert row["kv"] == {"host": "1.2.3.4", "status": "200", "path": "/x"}


def test_json_parser_schema_and_docker_decode(spark):
    jp = JsonParser("docker", time_fmt="%Y-%m-%dT%H:%M:%S.%L", time_keep=True)
    df = spark.createDataFrame(
        [('{"log":"{\\"inner\\":42}","stream":"stdout","time":"2024-01-02T03:04:05.123"}',)],
        "line string",
    )
    out = jp.apply_schema(df, "line", "log string, stream string, time string")
    row = out.first()
    assert row["stream"] == "stdout"
    assert row["time"] == "2024-01-02T03:04:05.123"
    assert row["__parsed_ts"] == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    # Decode_Field_As json log (src/flb_parser_decoder.c:423-470)
    out2 = decode_field_as_json(out, "log", "inner long")
    assert out2.first()["log"]["inner"] == 42


def test_decoder_chain_docker_shape(spark):
    """Decode_Field_As escaped_utf8 log do_next + Decode_Field_As json log
    (the docker parsers.conf chain)."""
    from fluent_bit_spark.parsers import DecoderRule, apply_decoder_chain

    line = '{"msg": "caf\\xc3\\xa9", "n": "1"}'
    df = spark.createDataFrame([(line,)], "log string")
    out = apply_decoder_chain(
        df,
        [
            DecoderRule("as", "escaped_utf8", "log", action="do_next"),
            DecoderRule("as", "json", "log"),
        ],
    )
    row = out.collect()[0]
    assert row["log_map"]["msg"] == "café"
    assert row["log_map"]["n"] == "1"


def test_decoder_mysql_quoted_and_try_next(spark):
    from fluent_bit_spark.parsers import DecoderRule, apply_decoder_chain

    df = spark.createDataFrame(
        [("'it''s quoted'",), ("not quoted",)], "v string"
    )
    out = apply_decoder_chain(df, [DecoderRule("as", "mysql_quoted", "v")])
    vals = [r["v"] for r in out.orderBy("v").collect()]
    assert "it's quoted" in vals and "not quoted" in vals

    # try_next: json fails on a non-json value, falls through to escaped
    df2 = spark.createDataFrame([("a\\nb",)], "v string")
    out2 = apply_decoder_chain(
        df2,
        [
            DecoderRule("as", "json", "v", action="try_next"),
            DecoderRule("as", "escaped", "v"),
        ],
    )
    assert out2.collect()[0]["v"] == "a\nb"


def test_decoder_field_mode_keeps_original(spark):
    from fluent_bit_spark.parsers import DecoderRule, apply_decoder_chain

    df = spark.createDataFrame([("x\\ty",)], "v string")
    out = apply_decoder_chain(df, [DecoderRule("field", "escaped", "v")])
    row = out.collect()[0]
    assert row["v"] == "x\\ty" and row["v_decoded"] == "x\ty"


def test_apply_parser_filter_first_match_wins(spark):
    """filter_parser tries the Parser chain in order; the first match
    owns the record (filter_parser.c cb_parser loop)."""
    from fluent_bit_spark.parsers import RegexParser, apply_parser_filter

    p1 = RegexParser(name="p1", regex=r"^A (?<a>\w+)$", time_fmt=None)
    p2 = RegexParser(name="p2", regex=r"^. (?<b>\w+)$", time_fmt=None)
    df = spark.createDataFrame(
        [("t", "A one", "x"), ("t", "B two", "y"), ("t", "nope!", "z")],
        "tag string, payload string, extra string",
    )
    out = apply_parser_filter(
        df, "payload", [p1, p2], reserve_data=False, infra_cols=("tag", "extra")
    )
    rows = {r["extra"]: r for r in out.collect()}
    # p1 matched: a set, b null (p2 not consulted though it also matches)
    assert rows["x"]["a"] == "one" and rows["x"]["b"] is None
    # p2 matched: b set
    assert rows["y"]["a"] is None and rows["y"]["b"] == "two"
    # no parser matched: record untouched
    assert rows["z"]["payload"] == "nope!" and rows["z"]["a"] is None
    # matched rows drop the source key by default
    assert rows["x"]["payload"] is None


def test_parser_filter_reserve_data_shared_column_name(spark):
    """Reserve_Data keeps an original field even when its name collides
    with ANOTHER parser's capture group: a row matched by parser B must
    not null out the 'level' column that only parser A captures."""
    from fluent_bit_spark.parsers import RegexParser, apply_parser_filter

    a = RegexParser("a", r"^A lvlmsg=(?<level>\w+)$", time_fmt=None)
    b = RegexParser("b", r"^B msg=(?<msg>\w+)$", time_fmt=None)
    df = spark.createDataFrame(
        [("t", "B msg=hi", "orig-level"), ("t", "A lvlmsg=warn", "orig-level"),
         ("t", "no match", "orig-level")],
        "tag string, payload string, level string",
    )
    out = apply_parser_filter(
        df, "payload", [a, b], reserve_data=True, preserve_key=True
    )
    got = {r["payload"]: r for r in out.collect()}
    assert got["B msg=hi"]["level"] == "orig-level"      # B matched, keeps original
    assert got["B msg=hi"]["msg"] == "hi"
    assert got["A lvlmsg=warn"]["level"] == "warn"       # A matched, parsed wins
    assert got["no match"]["level"] == "orig-level"

    # without Reserve_Data the non-parsed original field nulls on match
    out2 = apply_parser_filter(
        df, "payload", [a, b], reserve_data=False, preserve_key=True
    )
    got2 = {r["payload"]: r for r in out2.collect()}
    assert got2["B msg=hi"]["level"] is None
    assert got2["no match"]["level"] == "orig-level"


def test_parser_filter_match_gate(spark):
    """[FILTER] Match gating: rows with non-matching tags pass through
    untouched even when their payload would parse."""
    from fluent_bit_spark.parsers import RegexParser, apply_parser_filter
    from pyspark.sql import functions as F

    p = RegexParser("kv", r"k=(?<k>\w+)", time_fmt=None)
    df = spark.createDataFrame(
        [("app.a", "k=x", "keep"), ("db.b", "k=y", "keep")],
        "tag string, payload string, extra string",
    )
    out = apply_parser_filter(
        df, "payload", [p], reserve_data=False, preserve_key=False,
        gate=F.col("tag").startswith("app."),
    )
    got = {r["tag"]: r for r in out.collect()}
    assert got["app.a"]["k"] == "x" and got["app.a"]["extra"] is None
    assert got["db.b"]["k"] is None
    assert got["db.b"]["extra"] == "keep" and got["db.b"]["payload"] == "k=y"


def test_typecast_property_vs_c_model(spark):
    """Randomized property test: strtol_long/strtoul_long/atof_double/
    fb_bool/strtoul_hex agree with a pure-python model of the C calls
    flb_typecast.c makes, on 400 adversarial strings in ONE Spark job."""
    import random
    import re as _re

    from fluent_bit_spark.parsers import (
        atof_double,
        fb_bool,
        strtol_long,
        strtoul_hex,
        strtoul_long,
    )

    def strtol_model(s):
        m = _re.match(r"[ \t\n\r\f]*([+-]?[0-9]+)", s)
        if not m:
            return None
        v = int(m.group(1))
        return v if -(2**63) <= v < 2**63 else None  # overflow -> null

    def strtoul_model(s):
        m = _re.match(r"[ \t\n\r\f]*\+?([0-9]+)", s)
        if not m:
            return None
        v = int(m.group(1))
        return v if v < 2**63 else None

    def atof_model(s):
        m = _re.match(
            r"[ \t\n\r\f]*([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)", s
        )
        return float(m.group(1)) if m else 0.0

    def bool_model(s):
        low = s.lower()
        if low.startswith("true"):
            return True
        if low.startswith("false"):
            return False
        return None

    def hex_model(s):
        m = _re.match(r"[ \t\n\r\f]*\+?(?:0[xX])?([0-9a-fA-F]+)", s)
        if not m:
            return None
        v = int(m.group(1), 16)
        return v if v < 2**63 else None

    rng = random.Random(7)
    atoms = ["1", "9", "0", "42", "+", "-", ".", " ", "\t", "e", "E",
             "x", "abc", "tRuE", "False", "0x", "ff", "DEAD", "1234567",
             "9" * 18, "", "px", "\n"]
    cases = ["".join(rng.choice(atoms) for _ in range(rng.randint(0, 6)))
             for _ in range(400)]
    # bound exponents so float overflow->inf never enters (the model and
    # try_cast agree on finite values; atof inf handling is out of scope)
    cases = [c for c in cases if not _re.search(r"[eE][+-]?[0-9]{4,}", c)]

    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, s string")
    got = {
        r["i"]: (r["l"], r["u"], r["f"], r["b"], r["h"])
        for r in df.select(
            "i",
            strtol_long(F.col("s")).alias("l"),
            strtoul_long(F.col("s")).alias("u"),
            atof_double(F.col("s")).alias("f"),
            fb_bool(F.col("s")).alias("b"),
            strtoul_hex(F.col("s")).alias("h"),
        ).collect()
    }
    bad = []
    for i, c in enumerate(cases):
        want = (strtol_model(c), strtoul_model(c), atof_model(c),
                bool_model(c), hex_model(c))
        if got[i] != want:
            bad.append((repr(c), got[i], want))
    assert not bad, bad[:5]


def test_json_dup_keys_last_wins(spark):
    """tests/internal/pack.c:337 json_dup_keys (fixtures
    data/pack/dup_keys_in/out.json): duplicate keys resolve to the LAST
    occurrence, including inside nested maps."""
    from fluent_bit_spark.parsers import JsonParser, parse_json_to_map

    raw = (
        '{"date": 872835240, "map": {"sub1": false, "sub2": "aaa", '
        '"sub3": "bbb", "sub1": null, "sub1": true}, "key1": 12345, '
        '"key2": 444, "date": 1059113640, "key1": 333}'
    )
    df = spark.createDataFrame([(raw,)], "log string")
    out = JsonParser("json").apply_schema(
        df,
        "log",
        "date bigint, map struct<sub1:boolean, sub2:string, sub3:string>, "
        "key1 bigint, key2 bigint",
    )
    row = out.first()
    assert row["date"] == 1059113640
    assert row["key1"] == 333
    assert row["key2"] == 444
    assert row["map"]["sub1"] is True
    assert row["map"]["sub2"] == "aaa"
    assert row["map"]["sub3"] == "bbb"
    # dynamic-map path: same last-wins resolution
    m = df.select(parse_json_to_map(F.col("log")).alias("m")).first()["m"]
    assert m["date"] == "1059113640"
    assert m["key1"] == "333"
