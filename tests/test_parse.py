"""Golden tests for parsing operators (mirrors the reference's
per-operator unit-test strategy, e.g.
core/unittest/processor/ProcessorParseRegexNativeUnittest.cpp:655-664)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse import (
    parse_delimiter,
    parse_grok,
    parse_json,
    parse_keyvalue,
    parse_regex,
    parse_timestamp,
    split_log_string,
)
from loongcollector_spark.sources.transcripts import load_transcripts, transcripts_sql

NGINX_REGEX = (
    r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) (\S+)" (\d+) (\d+) '
    r'"([^"]*)" "([^"]*)" logNo=(\d+)'
)
NGINX_KEYS = [
    "ip",
    "time_local",
    "method",
    "path",
    "protocol",
    "status",
    "body_bytes",
    "referer",
    "agent",
    "log_no",
]


@pytest.fixture(scope="module")
def tx(spark, sf_dir):
    return load_transcripts(spark, sf_dir).cache()


def test_regex_native_vs_duckdb_oracle(spark, sf_dir, tx):
    """Every NGINX key on every row equals DuckDB's regexp_extract;
    unmatched rows carry NULL in every key."""
    out = parse_regex(tx, "text", NGINX_REGEX, NGINX_KEYS)
    cols = ["conv_id", "turn_idx", *NGINX_KEYS]
    got = sorted((tuple(r) for r in out.select(*cols).collect()), key=repr)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    anchored = f"^{NGINX_REGEX}$"
    names = "[" + ", ".join(f"'{k}'" for k in NGINX_KEYS) + "]"
    fields = ", ".join(f"CASE WHEN m THEN g.{k} END" for k in NGINX_KEYS)
    want = sorted(
        con.execute(
            f"""
        WITH transcripts AS ({transcripts_sql('events')}),
        parsed AS (
          SELECT conv_id, turn_idx,
                 regexp_matches(text, '{anchored}') AS m,
                 regexp_extract(text, '{anchored}', {names}) AS g
          FROM transcripts
        )
        SELECT conv_id, turn_idx, {fields} FROM parsed
        """
        ).fetchall(),
        key=repr,
    )
    assert any(r[2] is not None for r in got)
    assert any(r[2] is None for r in got)
    assert got == want


def test_regex_discard_unmatched(tx):
    n_nginx = tx.filter(F.col("text").rlike("^\\d+\\.")).count()
    out = parse_regex(
        tx, "text", NGINX_REGEX, NGINX_KEYS, discard_unmatched=True, keep_source=False
    )
    assert out.count() == n_nginx
    assert "text" not in out.columns


def test_regex_whole_line_fast_path(tx):
    out = parse_regex(tx, "text", "(.*)", ["content"])
    row = out.select("text", "content").first()
    assert row.text == row.content


def test_grok_kv_dialect(tx):
    out = parse_grok(
        tx.filter(F.col("text").startswith("level=")),
        "text",
        [
            "level=%{LOGLEVEL:level} svc=%{NOTSPACE:svc} code=%{INT:code:int} "
            "dur=%{INT:dur:int}ms logNo=%{INT:log_no:int}"
        ],
    )
    rows = out.select("level", "svc", "code", "dur", "log_no", "turn_idx").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.level in ("INFO", "WARN", "ERROR")
        assert r.svc.startswith("svc-")
        assert isinstance(r.code, int)
        assert r.log_no == r.turn_idx


def test_grok_first_match_wins(tx):
    sub = tx.limit(50)
    out = parse_grok(
        sub,
        "text",
        ["%{GREEDYDATA:all1}", "%{GREEDYDATA:all2}"],
    )
    rows = out.collect()
    assert all(r.all1 is not None and r.all2 is None for r in rows)


def test_json_flatten(spark, tx):
    jdf = tx.filter(F.col("text").startswith("{"))
    out = parse_json(jdf, "text", expand_array=True)
    row = out.select("parsed", "turn_idx").first()
    p = row.parsed
    assert p["level"] in ("INFO", "WARN", "ERROR")
    assert p["ctx_k"].isdigit()
    assert "ctx_arr[0]" in p and "ctx_arr[1]" in p
    assert int(p["logNo"]) == row.turn_idx


def test_json_flatten_depth_and_connector(spark):
    df = spark.createDataFrame(
        [('{"a":{"b":{"c":1}},"d":[5,6],"e":true}',)], ["text"]
    )
    out = parse_json(df, "text", expand_depth=2, expand_connector=".").first().parsed
    assert out["a.b"] == '{"c":1}'
    assert out["d"] == "[5,6]"
    assert out["e"] == "true"
    out2 = parse_json(df, "text", expand_array=True).first().parsed
    assert out2["a_b_c"] == "1"
    assert out2["d[0]"] == "5"


def test_json_unparseable_is_null(spark):
    df = spark.createDataFrame([("not json",), ('{"k":1}',)], ["text"])
    rows = parse_json(df, "text").select("parsed").collect()
    assert sum(1 for r in rows if r.parsed is None) == 1


def test_delimiter_and_kv(spark):
    df = spark.createDataFrame([("a|b|c",), ("x|y|z",)], ["line"])
    out = parse_delimiter(df, "line", "|", ["f1", "f2", "f3"])
    assert sorted((r.f1, r.f2, r.f3) for r in out.collect()) == [
        ("a", "b", "c"),
        ("x", "y", "z"),
    ]
    df2 = spark.createDataFrame([("k1=v1 k2=v2",)], ["line"])
    row = parse_keyvalue(df2, "line").first()
    assert row.kv == {"k1": "v1", "k2": "v2"}


@pytest.mark.parametrize(
    "policy", [{"keep_source": False}, {"discard_unmatched": True}]
)
def test_delimiter_quoted_agrees_with_unquoted(spark, policy):
    """Without quote characters in the data, quoted mode parses every
    row the way the unquoted path does: extra fields dropped, an empty
    field is '', a short or empty row unmatched."""
    lines = ["a,b", "a,b,c", "a,b,c,d", "a", "a,", "", None]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "i int, line string")

    def rows(quote):
        out = parse_delimiter(df, "line", ",", ["k1", "k2"], quote=quote, **policy)
        return sorted(tuple(r) for r in out.collect())

    assert rows('"') == rows(None)


def test_split_log_string(spark):
    df = spark.createDataFrame([("l1\nl2\nl3", "c1")], ["text", "conv_id"])
    out = split_log_string(df, "text")
    assert [r.text for r in out.collect()] == ["l1", "l2", "l3"]
    assert all(r.conv_id == "c1" for r in out.collect())


def test_parse_timestamp(spark):
    df = spark.createDataFrame([("2024-03-05 10:00:00",)], ["t"])
    row = parse_timestamp(df, "t", "yyyy-MM-dd HH:mm:ss", dest_key="parsed_ts").first()
    assert row.parsed_ts.year == 2024 and row.parsed_ts.month == 3
    df2 = spark.createDataFrame([("1704067200",)], ["t"])
    row2 = parse_timestamp(df2, "t", "", dest_key="pts", epoch_unit="seconds").first()
    assert row2.pts.year == 2024


# full default key set of the reference's grok pattern library
# (plugins/processor/grok/processor_grok_default_patterns.go — the
# standard public Logstash grok-patterns names)
_REF_GROK_KEYS = [
    "BASE10NUM", "BASE16FLOAT", "BASE16NUM", "CISCOMAC",
    "COMBINEDAPACHELOG", "COMMONAPACHELOG", "COMMONMAC", "DATA", "DATE",
    "DATESTAMP", "DATESTAMP_EVENTLOG", "DATESTAMP_OTHER",
    "DATESTAMP_RFC2822", "DATESTAMP_RFC822", "DATE_EU", "DATE_US", "DAY",
    "EMAILADDRESS", "EMAILLOCALPART", "GREEDYDATA", "HOST", "HOSTNAME",
    "HOSTPORT", "HOUR", "HTTPD20_ERRORLOG", "HTTPD24_ERRORLOG",
    "HTTPDATE", "HTTPDERROR_DATE", "HTTPDUSER", "HTTPD_ERRORLOG", "INT",
    "IP", "IPORHOST", "IPV4", "IPV6", "ISO8601_SECOND",
    "ISO8601_TIMEZONE", "LOGLEVEL", "MAC", "MINUTE", "MONTH", "MONTHDAY",
    "MONTHNUM", "MONTHNUM2", "NONNEGINT", "NOTSPACE", "NUMBER", "PATH",
    "POSINT", "PROG", "QS", "QUOTEDSTRING", "SECOND", "SPACE",
    "SYSLOGBASE", "SYSLOGFACILITY", "SYSLOGHOST", "SYSLOGPROG",
    "SYSLOGTIMESTAMP", "TIME", "TIMESTAMP_ISO8601", "TTY", "TZ",
    "UNIXPATH", "URI", "URIHOST", "URIPARAM", "URIPATH", "URIPATHPARAM",
    "URIPROTO", "URN", "USER", "USERNAME", "UUID", "WINDOWSMAC",
    "WINPATH", "WORD", "YEAR",
]


def test_grok_default_pattern_parity():
    """Every default pattern name the reference ships must exist and
    compile (a user pasting any stock %{NAME} expression must not hit
    GrokError)."""
    from loongcollector_spark.functions.grok import DEFAULT_PATTERNS, compile_grok

    missing = [k for k in _REF_GROK_KEYS if k not in DEFAULT_PATTERNS]
    assert missing == []
    for k in _REF_GROK_KEYS:
        pat, _ = compile_grok("%{" + k + ":v}")
        assert pat is not None


def test_grok_new_patterns_match_samples():
    from loongcollector_spark.functions.grok import compile_grok

    samples = {
        "IPV6": "2001:db8::8a2e:370:7334",
        "HOSTPORT": "example.com:8080",
        "URI": "https://user:pw@example.com:443/a/b?x=1",
        "URN": "urn:ietf:rfc:2648",
        "DATESTAMP_RFC822": "Mon Jan 15 2024 12:30:45 PST",
        "DATESTAMP_RFC2822": "Mon, 15 Jan 2024 12:30:45 +0100",
        "DATESTAMP_EVENTLOG": "20240115123045",
        "TTY": "/dev/pts/3",
        "BASE16FLOAT": "0x1f.8",
        "DAY": "Wednesday",
    }
    for name, sample in samples.items():
        pat, _ = compile_grok("^%{" + name + ":v}$")
        assert pat.match(sample), f"{name} failed on {sample!r}"


def test_grok_httpd_errorlog_alternation(spark):
    """HTTPD_ERRORLOG's two branches share alias names; duplicate
    groups are renamed at compile time and coalesced at extraction."""
    from loongcollector_spark.operators.parse import parse_grok

    rows = [
        (1, "[Mon Jan 15 12:30:45 2024] [error] [client 1.2.3.4] oh no"),
        (2, "[Mon Jan 15 12:30:45 2024] [core:warn] [pid 77] boom happened"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = parse_grok(df, "text", ["%{HTTPD_ERRORLOG}"])
    got = {r.id: (r.loglevel, r.message) for r in out.collect()}
    assert got[1] == ("error", "oh no")
    assert got[2] == ("warn", "boom happened")


def test_go_layout_translation():
    from loongcollector_spark.functions.gotime import go_layout_to_spark

    cases = {
        "2006-01-02 15:04:05": "yyyy-MM-dd HH:mm:ss",
        "02/Jan/2006:15:04:05 -0700": "dd/MMM/yyyy:HH:mm:ss xx",
        "2006-01-02T15:04:05Z07:00": "yyyy-MM-dd'T'HH:mm:ssXXX",
        "Mon Jan 2 15:04:05 2006": "EEE MMM d HH:mm:ss yyyy",
        "06/01/02 03:04:05 PM": "yy/MM/dd hh:mm:ss a",
        "15:04:05.000": "HH:mm:ss.SSS",
        "seconds": "seconds",
    }
    for go, spark_fmt in cases.items():
        assert go_layout_to_spark(go) == spark_fmt, go


def test_parse_gotime_roundtrip(spark):
    from loongcollector_spark.operators.parse import parse_gotime

    df = spark.createDataFrame([("2024-03-05 10:30:00",)], ["t"])
    # Beijing (UTC+8) source -> UTC dest, reformat (gotime.go location ints)
    out = parse_gotime(
        df, "t", "2006-01-02 15:04:05", "out", "02/Jan/2006 15:04",
        source_location=8, dest_location=0,
    ).first()
    assert out.out == "05/Mar/2024 02:30"
    # epoch passthrough both directions
    df2 = spark.createDataFrame([("1704067200",)], ["t"])
    out2 = parse_gotime(df2, "t", "seconds", "o", "2006-01-02").first()
    assert out2.o == "2024-01-01"
    out3 = parse_gotime(df2, "t", "seconds", "o", "milliseconds").first()
    assert out3.o == "1704067200000"
