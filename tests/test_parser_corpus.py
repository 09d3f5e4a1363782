"""Golden tests for the full conf/parsers.conf corpus (18 parsers),
one representative line each, checking key extractions and time parsing
(reference vectors modeled on tests/internal/parser_regex.c and the
rubular examples cited inside conf/parsers.conf)."""

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.parsers import PARSERS

H64 = "aeeccc7a9f00f6e4e066aeff0434cf80621215071f1b20a51e8340aa7c35eac6"

CASES = [
    (
        "apache",
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://ref/" "Mozilla/4.08"',
        {"host": "127.0.0.1", "user": "frank", "method": "GET",
         "path": "/apache_pb.gif", "code": "200", "size": "2326",
         "referer": "http://ref/", "agent": "Mozilla/4.08"},
        "2000-10-10 20:55:36",
    ),
    (
        "apache2",
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326',
        {"host": "127.0.0.1", "method": "GET", "code": "200", "size": "2326"},
        "2000-10-10 20:55:36",
    ),
    (
        "apache_error",
        "[Mon Oct 10 13:55:36.243245 2000] [core:error] [pid 35708] [client 72.15.99.187] File does not exist",
        {"level": "core:error", "pid": "35708", "client": "72.15.99.187",
         "message": "File does not exist"},
        None,
    ),
    (
        "nginx",
        '127.0.0.1 example.com alice [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 512 "-" "curl/8"',
        {"remote": "127.0.0.1", "host": "example.com", "user": "alice",
         "method": "GET", "code": "200", "agent": "curl/8"},
        "2000-10-10 20:55:36",
    ),
    (
        "k8s-nginx-ingress",
        '10.0.0.1 - bob [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.1" 200 100 "ref" "agent" 10 0.1 [up] 1.2.3.4:80 100 0.1 200 abc123',
        {"host": "10.0.0.1", "user": "bob", "code": "200",
         "proxy_upstream_name": "up", "upstream_addr": "1.2.3.4:80",
         "upstream_status": "200", "reg_id": "abc123"},
        "2000-10-10 20:55:36",
    ),
    (
        "docker-daemon",
        'time="2024-01-02T03:04:05.123" level=info msg="hello world"',
        {"time": "2024-01-02T03:04:05.123", "level": "info", "msg": "hello world"},
        "2024-01-02 03:04:05.123",
    ),
    (
        "syslog-rfc5424",
        "<34>1 2003-10-11T22:14:15.003Z mymachine su 123 ID47 - failed for lonvick",
        {"pri": "34", "host": "mymachine", "ident": "su", "pid": "123",
         "msgid": "ID47", "extradata": "-", "message": "failed for lonvick"},
        "2003-10-11 22:14:15.003",
    ),
    (
        "syslog-rfc3164",
        "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
        {"pri": "34", "host": "mymachine", "ident": "su", "pid": "230",
         "message": "'su root' failed"},
        "2024-10-11 22:14:15",  # year-less -> assume_year 2024
    ),
    (
        "syslog-rfc3164-local",
        "<13>Feb  5 17:32:18 myprogram[123]: hello there",
        {"pri": "13", "ident": "myprogram", "pid": "123", "message": "hello there"},
        "2024-02-05 17:32:18",
    ),
    (
        "mongodb",
        "2024-01-02T03:04:05.006 I NETWORK [conn1] end connection 12ms",
        {"severity": "I", "component": "NETWORK", "context": "conn1",
         "ms": "12"},
        "2024-01-02 03:04:05.006",
    ),
    (
        "envoy",
        '[2024-01-02T03:04:05.000Z] "GET /path HTTP/1.1" 200 - 10 20 5 4 "-" "curl/8" "req-1" "example.com:80" "10.0.0.9:80"',
        {"method": "GET", "protocol": "HTTP/1.1", "code": "200",
         "bytes_received": "10", "bytes_sent": "20", "duration": "5",
         "user_agent": "curl/8", "authority": "example.com:80",
         "upstream_host": "10.0.0.9:80"},
        "2024-01-02 03:04:05",
    ),
    (
        "istio-envoy-proxy",
        '[2024-01-02T03:04:05.000Z] "GET /p HTTP/2" 200 - via_upstream - "-" 10 20 5 4 "-" "curl/8" "rid" "auth:80" "10.0.0.9:80" outbound|80|v1 10.1.1.1:443 10.2.2.2:8080 10.3.3.3:555 sni.example route9',
        {"method": "GET", "protocol": "HTTP/2", "response_code": "200",
         "upstream_cluster": "outbound|80|v1",
         "requested_server_name": "sni.example", "route_name": "route9"},
        "2024-01-02 03:04:05",
    ),
    (
        "cri",
        "2024-01-02T03:04:05.123456789Z stdout F actual log message",
        {"stream": "stdout", "logtag": "F", "message": "actual log message"},
        "2024-01-02 03:04:05.123",
    ),
    (
        "kube-custom",
        f"kube.apache-logs_default_apache-{H64}.log",
        {"tag": "kube", "pod_name": "apache-logs", "namespace_name": "default",
         "container_name": "apache", "docker_id": H64},
        None,
    ),
]


@pytest.mark.parametrize("engine", ["jvm", "pandas"])
@pytest.mark.parametrize("name,line,want,want_ts", CASES, ids=[c[0] for c in CASES])
def test_parser_corpus_golden(spark, name, line, want, want_ts, engine):
    """Both regex extraction paths must extract byte-identical values per
    line — the north rule's per-row invariant, over the full parser
    corpus. 'jvm' is the default codegen path; 'pandas' is the pandas
    UDF path, which RegexParser.apply takes for skip_empty_values=False
    (no corpus line has an empty capture, so the values agree)."""
    import dataclasses

    p = dataclasses.replace(PARSERS[name], skip_empty_values=engine == "jvm")
    df = spark.createDataFrame([(line,)], "line string")
    row = p.apply(df, "line", ts_col="__ts").collect()[0]
    for k, v in want.items():
        assert row[k] == v, f"{name}[{engine}].{k}: {row[k]!r} != {v!r}"
    if want_ts is not None:
        assert row["__ts"] is not None, f"{name}[{engine}]: time not parsed"
        got = row["__ts"].strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        assert got == want_ts, f"{name}[{engine}]: ts {got} != {want_ts}"


def test_parser_corpus_complete(spark):
    # every [PARSER] stanza of conf/parsers.conf:1-200 is registered
    assert len(PARSERS) == 18


def test_json_and_docker_parsers(spark):
    from fluent_bit_spark.parsers import DOCKER, JSON

    df = spark.createDataFrame(
        [('{"log": "hi\\n", "stream": "stdout", "time": "2024-01-02T03:04:05.123"}',)],
        "line string",
    )
    out = DOCKER.apply_schema(df, "line", "log string, stream string, time string")
    row = out.collect()[0]
    assert row["log"] == "hi\n" and row["stream"] == "stdout"

    df2 = spark.createDataFrame(
        [('{"key": "v", "time": "10/Oct/2000:13:55:36 -0700"}',)], "line string"
    )
    row2 = JSON.apply_schema(df2, "line", "key string, time string").collect()[0]
    assert row2["key"] == "v"
