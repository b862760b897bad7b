"""processor_otel_trace parity: OTLP/JSON payload → one row per span
with the reference's exact key set and renderings
(otlp_trace_parser.go:140-244)."""

import json

import pytest

from loongcollector_spark.operators.otel import OTEL_SPAN_COLUMNS, parse_otel_trace

PAYLOAD = {
    "resourceSpans": [
        {
            "resource": {
                "attributes": [
                    {"key": "host.name", "value": {"stringValue": "h1"}},
                    {"key": "service.name", "value": {"stringValue": "svc-a"}},
                ]
            },
            "scopeSpans": [
                {
                    "scope": {"name": "lib", "version": "1.2"},
                    "spans": [
                        {
                            "traceId": "0102030405060708090a0b0c0d0e0f10",
                            "spanId": "0102030405060708",
                            "parentSpanId": "",
                            "name": "GET /x",
                            "kind": 2,
                            "startTimeUnixNano": "1704067200000000000",
                            "endTimeUnixNano": "1704067200500000000",
                            "attributes": [
                                {"key": "http.status", "value": {"intValue": "200"}}
                            ],
                            "status": {"code": 1, "message": ""},
                            "events": [],
                            "links": [],
                        },
                        {
                            "traceId": "0102030405060708090a0b0c0d0e0f10",
                            "spanId": "1112131415161718",
                            "parentSpanId": "0102030405060708",
                            "name": "db.query",
                            "kind": "SPAN_KIND_CLIENT",
                            "startTimeUnixNano": "1704067200100000000",
                            "endTimeUnixNano": "1704067200200000000",
                            "status": {"code": 2, "message": "boom"},
                        },
                    ],
                }
            ],
        }
    ]
}


def test_otel_trace_span_expansion(spark):
    df = spark.createDataFrame([(7, json.dumps(PAYLOAD))], ["id", "payload"])
    out = parse_otel_trace(df, "payload")
    assert set(OTEL_SPAN_COLUMNS) <= set(out.columns)
    rows = {r["spanID"]: r for r in out.collect()}
    assert set(rows) == {"0102030405060708", "1112131415161718"}
    a = rows["0102030405060708"]
    assert (a["host"], a["service"]) == ("h1", "svc-a")
    assert (a["otlp.name"], a["otlp.version"]) == ("lib", "1.2")
    assert a["kind"] == "server" and a["statusCode"] == "OK"
    assert a["start"] == "1704067200000000" and a["duration"] == "500000"
    assert json.loads(a["attribute"]) == {"http.status": "200"}
    assert a["id"] == 7  # carried-through input column
    b = rows["1112131415161718"]
    assert b["kind"] == "client"  # string enum form
    assert b["statusCode"] == "ERROR" and b["statusMessage"] == "boom"
    assert b["parentSpanID"] == "0102030405060708"
    assert b["logs"] == "[]" and b["links"] == "[]"


def test_otel_trace_unparseable_drops(spark):
    df = spark.createDataFrame([(1, "not-otlp-json"), (2, "{}")], ["id", "payload"])
    assert parse_otel_trace(df, "payload").count() == 0


def test_otel_unknown_format_raises(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "payload"])
    with pytest.raises(ValueError, match="unknown otel trace format"):
        parse_otel_trace(df, "payload", format="xml")


def _encode_kv(field, key, value_field, value):
    """Test-side OTLP KeyValue encoder at attribute-list *field*
    (numbers from the public opentelemetry-proto common.proto) —
    independent of the decoder's table-driven walk."""
    from loongcollector_spark.functions import protowire as w

    if value_field == "string":
        av = w.write_string_field(1, value)
    elif value_field == "int":
        av = w.write_varint_field(3, value)
    elif value_field == "double":
        import struct

        av = w.write_tag(4, 1) + struct.pack("<d", value)
    else:
        raise AssertionError(value_field)
    return w.write_len_delimited(
        field, w.write_string_field(1, key) + w.write_len_delimited(2, av)
    )


def _encode_golden_traces_payload():
    """Wire-encode the exact content of queries.wire._OTEL_GOLDEN_PAYLOAD
    (TracesData: trace.proto field numbers)."""
    import struct

    from loongcollector_spark.functions import protowire as w

    def fixed64(field, val):
        return w.write_tag(field, 1) + struct.pack("<Q", val)

    def span(trace_id, span_id, parent, name, kind, start, end, attrs,
             status_code, status_msg):
        body = w.write_len_delimited(1, bytes.fromhex(trace_id))
        body += w.write_len_delimited(2, bytes.fromhex(span_id))
        if parent:
            body += w.write_len_delimited(4, bytes.fromhex(parent))
        body += w.write_string_field(5, name)
        body += w.write_varint_field(6, kind)
        body += fixed64(7, start) + fixed64(8, end)
        body += b"".join(attrs)
        status = w.write_varint_field(3, status_code)
        if status_msg:
            status = w.write_string_field(2, status_msg) + status
        body += w.write_len_delimited(15, status)
        return w.write_len_delimited(2, body)  # ScopeSpans.spans = 2

    res = w.write_len_delimited(
        1,
        _encode_kv(1, "service.name", "string", "svc")
        + _encode_kv(1, "env", "string", "prod"),
    )  # ResourceSpans.resource = 1
    scope = w.write_len_delimited(
        1, w.write_string_field(1, "lib") + w.write_string_field(2, "2")
    )  # ScopeSpans.scope = 1
    spans = span(
        "0af7651916cd43dd8448eb211c80319c", "b7ad6b7169203331", "",
        "GET /api", 2, 1704067200000000000, 1704067200250000000,
        [_encode_kv(9, "http.status", "int", 200)], 1, "",
    ) + span(
        "0af7651916cd43dd8448eb211c80319c", "00f067aa0ba902b7",
        "b7ad6b7169203331", "db", 3, 1704067200050000000,
        1704067200100000000, [], 2, "timeout",
    )
    scope_spans = w.write_len_delimited(2, scope + spans)
    resource_spans = w.write_len_delimited(1, res + scope_spans)
    return resource_spans


def test_otel_protobuf_matches_json_golden(spark):
    """format='protobuf' on the wire-encoded golden payload produces
    rows byte-identical to the JSON golden (VERDICT r2 item 5). The
    OTLP 'int' attribute in the protobuf payload exercises the
    intValue branch; 'kind'/'status' arrive as numeric enums."""
    from loongcollector_spark.queries.wire import _OTEL_GOLDEN_PAYLOAD

    wire = _encode_golden_traces_payload()
    cols = [
        "service", "resource", "traceID", "spanID", "parentSpanID",
        "kind", "name", "start", "duration", "attribute", "statusCode",
        "statusMessage",
    ]
    pb_df = spark.createDataFrame([(1, bytearray(wire))], "rid int, payload binary")
    pb_rows = sorted(
        tuple(r[c] for c in cols)
        for r in parse_otel_trace(pb_df, "payload", format="protobuf").collect()
    )
    js_df = spark.createDataFrame([(1, _OTEL_GOLDEN_PAYLOAD)], ["rid", "payload"])
    js_rows = sorted(
        tuple(r[c] for c in cols)
        for r in parse_otel_trace(js_df, "payload", format="json").collect()
    )
    assert pb_rows == js_rows
    assert len(pb_rows) == 2


def test_otel_protobuf_metrics_roundtrip(spark):
    """MetricsData wire decode: gauge datapoint with attributes +
    fixed64 timestamp + sfixed64 asInt, through the shared converter."""
    import struct

    from loongcollector_spark.functions import protowire as w
    from loongcollector_spark.operators.otel import parse_otel_metric

    dp = (
        w.write_tag(3, 1) + struct.pack("<Q", 2_000_000_000)  # timeUnixNano
        + w.write_tag(6, 1) + struct.pack("<q", 7)            # asInt
        + _encode_kv(7, "pod", "string", "p1")
    )
    gauge = w.write_len_delimited(1, dp)                      # Gauge.dataPoints
    metric = w.write_string_field(1, "cpu_load") + w.write_len_delimited(5, gauge)
    sm = w.write_len_delimited(2, metric)                     # ScopeMetrics.metrics
    rm = w.write_len_delimited(2, sm)                         # ResourceMetrics.scopeMetrics
    payload = w.write_len_delimited(1, rm)                    # MetricsData.resourceMetrics

    df = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    rows = parse_otel_metric(df, "payload", format="protobuf").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["__name__"] == "cpu_load"
    assert r["__value__"] == 7.0
    assert r["__time_nano__"] == 2_000_000_000
    assert "pod#$#p1" in r["__labels__"]


def test_otel_links_events_reference_shape(spark):
    payload = {
        "resourceSpans": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "s"}},
                {"key": "env", "value": {"stringValue": "prod"}},
            ]},
            "scopeSpans": [{"scope": {"name": "l", "version": "1"}, "spans": [{
                "traceId": "t1", "spanId": "s1", "name": "op", "kind": 1,
                "startTimeUnixNano": "1000000",
                "links": [{"traceId": "aa", "spanId": "cc",
                           "attributes": [{"key": "k", "value": {"stringValue": "v"}}]}],
                "events": [{"timeUnixNano": "2000000", "name": "ev",
                            "attributes": [{"key": "zeta", "value": {"stringValue": "z"}},
                                            {"key": "alpha", "value": {"stringValue": "a"}},
                                            {"value": {"stringValue": "orphan"}}]}],
                "status": {},
            }]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    r = parse_otel_trace(df, "payload").first()
    # links/events use the reference's field names and shapes
    assert json.loads(r["links"]) == [
        {"attribute": {"k": "v"}, "spanID": "cc", "traceID": "aa"}
    ]
    ev = json.loads(r["logs"])[0]
    assert ev["name"] == "ev" and ev["time"] == 2000000
    # sorted keys; attribute entries without a key are dropped, not fatal
    assert list(ev["attribute"]) == ["alpha", "zeta"]
    # promoted service key removed from resource JSON
    assert json.loads(r["resource"]) == {"env": "prod"}
    assert r["service"] == "s"
    # end==0 substituted with 'now': duration is a positive number
    assert int(r["duration"]) > 0 and r["end"] is not None


def test_otel_metric_gauge_sum(spark):
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "service.name", "value": {"stringValue": "svc"}}]},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "cpu.load", "gauge": {"dataPoints": [
                    {"attributes": [{"key": "core", "value": {"stringValue": "0"}}],
                     "timeUnixNano": "1704067200000000000", "asDouble": 0.75}]}},
                {"name": "req.count", "sum": {
                    "aggregationTemporality": 2, "isMonotonic": True,
                    "dataPoints": [{"timeUnixNano": "1704067200000000000",
                                    "asInt": "42"}]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    rows = {r["__name__"]: r for r in parse_otel_metric(df, "payload").collect()}
    g = rows["cpu_load"]  # '.' sanitized to '_' (formatMetricName)
    assert g["__value__"] == 0.75
    assert g["__labels__"] == "core#$#0|service.name#$#svc"
    assert g["__time_nano__"] == 1704067200000000000
    s = rows["req_count"]
    assert s["__value__"] == 42.0
    assert "otlp.metric.ismonotonic#$#true" in s["__labels__"]
    assert "otlp.metric.aggregation.temporality#$#Cumulative" in s["__labels__"]


def test_otel_metric_histogram_buckets(spark):
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": []},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "lat", "histogram": {
                    "aggregationTemporality": 1,
                    "dataPoints": [{
                        "timeUnixNano": "5",
                        "sum": 10.0, "min": 0.5, "max": 4.0, "count": "7",
                        "explicitBounds": [1.0, 2.0],  # whole-number bounds
                        "bucketCounts": ["3", "2", "2"],
                    }]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    out = parse_otel_metric(df, "payload").collect()
    by_name = {}
    for r in out:
        by_name.setdefault(r["__name__"], []).append(r)
    assert {r["__value__"] for r in by_name["lat_sum"]} == {10.0}
    assert {r["__value__"] for r in by_name["lat_count"]} == {7.0}
    # CUMULATIVE buckets with le labels incl +Inf
    buckets = {
        next(kv.split("#$#")[1] for kv in r["__labels__"].split("|")
             if kv.startswith("le#$#")): r["__value__"]
        for r in by_name["lat_bucket"]
    }
    # whole-number bounds render without a decimal point (Go strconv)
    assert buckets == {"1": 3.0, "2": 5.0, "+Inf": 7.0}
    assert all("otlp.metric.histogram.type#$#Histogram" in r["__labels__"]
               for r in by_name["lat_bucket"])


def test_otel_metric_summary_quantiles(spark):
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": []},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "rt", "summary": {"dataPoints": [{
                    "timeUnixNano": "9", "sum": 20.0, "count": "4",
                    "quantileValues": [{"quantile": 0.5, "value": 4.0},
                                        {"quantile": 0.99, "value": 9.0}],
                }]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    out = parse_otel_metric(df, "payload").collect()
    names = sorted(r["__name__"] for r in out)
    assert names == ["rt", "rt", "rt_count", "rt_sum"]
    q = {next(kv.split("#$#")[1] for kv in r["__labels__"].split("|")
              if kv.startswith("quantile#$#")): r["__value__"]
         for r in out if r["__name__"] == "rt"}
    assert q == {"0.5": 4.0, "0.99": 9.0}


def test_otel_metric_nonscalar_attr_and_fractional_bound(spark):
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "args", "value": {"arrayValue": {"values": []}}},
                {"key": "svc", "value": {"stringValue": "s"}}]},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "h", "histogram": {"aggregationTemporality": 2,
                    "dataPoints": [{"timeUnixNano": "1",
                        "count": "3", "explicitBounds": [0.25],
                        "bucketCounts": ["1", "2"]}]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    rows = parse_otel_metric(df, "payload").collect()
    # non-scalar attr renders as an empty value, never a bare key
    for r in rows:
        for kv in r["__labels__"].split("|"):
            assert "#$#" in kv, r["__labels__"]
    les = {next(kv.split("#$#")[1] for kv in r["__labels__"].split("|")
               if kv.startswith("le#$#")): r["__value__"]
           for r in rows if r["__name__"] == "h_bucket"}
    assert les == {"0.25": 1.0, "+Inf": 3.0}  # fractional bound verbatim


def test_default_processor_ignores_params(spark):
    from loongcollector_spark.pipeline import Pipeline

    df = spark.createDataFrame([(1,)], ["x"])
    out = Pipeline({"processors": [{"type": "default", "source_key": "x"}]}).run(df)
    assert out.collect() == df.collect()


def test_otel_metric_exponential_histogram(spark):
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": []},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "eh", "exponentialHistogram": {
                    "aggregationTemporality": 2,
                    "dataPoints": [{
                        "timeUnixNano": "3", "sum": 9.0, "count": "5",
                        "scale": 0, "zeroCount": "1",
                        "positive": {"offset": 1, "bucketCounts": ["2", "1"]},
                        "negative": {"offset": 0, "bucketCounts": ["1"]},
                    }]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    rows = parse_otel_metric(df, "payload").collect()
    les = {next(kv.split("#$#")[1] for kv in r["__labels__"].split("|")
               if kv.startswith("le#$#")): r["__value__"]
           for r in rows if r["__name__"] == "eh_bucket"}
    # scale=0 -> base=2; positive offset 1: (2,4]=2, (4,8]=1;
    # negative offset 0: [-2,-1)=1; bookkeeping rows carry offsets/zero
    assert les == {
        "(2,4]": 2.0, "(4,8]": 1.0, "[-2,-1)": 1.0,
        "positive.offset": 1.0, "negative.offset": 0.0, "zero.count": 1.0,
    }
    assert {r["__value__"] for r in rows if r["__name__"] == "eh_count"} == {5.0}
    assert all("otlp.metric.histogram.type#$#ExponentialHistogram" in r["__labels__"]
               for r in rows if r["__name__"] == "eh_bucket")


def test_otel_metric_exemplars(spark):
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": []},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "lat", "sum": {"aggregationTemporality": 2,
                    "isMonotonic": True, "dataPoints": [{
                        "timeUnixNano": "2000000000", "asDouble": 5.0,
                        "exemplars": [{
                            "timeUnixNano": "1500000000", "asDouble": 4.5,
                            "traceId": "abc", "spanId": "def",
                            "filteredAttributes": [
                                {"key": "pod", "value": {"stringValue": "p1"}}],
                        }],
                    }]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    rows = {r["__name__"]: r for r in parse_otel_metric(df, "payload").collect()}
    ex = rows["lat_exemplars"]
    assert ex["__value__"] == 4.5
    # reference quirk: exemplar rows carry SECONDS in __time_nano__
    assert ex["__time_nano__"] == 1
    for want in ("traceId#$#abc", "spanId#$#def", "pod#$#p1"):
        assert want in ex["__labels__"]
    assert rows["lat"]["__value__"] == 5.0  # data point row unaffected


def test_otel_duplicate_attr_keys_no_session_config_dependence(spark):
    """Repeated attribute keys must not DUPLICATE_MAP_KEY-crash when
    spark.sql.mapKeyDedupPolicy is the vanilla EXCEPTION default — the
    dedup now happens in-expression (ADVICE r2). Last-sorted entry
    wins, same as the previous LAST_WIN session behavior."""
    payload = {
        "resourceSpans": [{
            "resource": {"attributes": []},
            "scopeSpans": [{"scope": {"name": "l", "version": "1"}, "spans": [{
                "traceId": "aa", "spanId": "bb", "name": "s", "kind": 1,
                "startTimeUnixNano": "1000", "endTimeUnixNano": "2000",
                "attributes": [
                    {"key": "k", "value": {"stringValue": "first"}},
                    {"key": "k", "value": {"stringValue": "second"}},
                    {"key": "z", "value": {"stringValue": "zz"}},
                ],
                "status": {"code": 1, "message": ""},
            }]}],
        }]
    }
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    try:
        df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
        row = parse_otel_trace(df, "payload").first()
        assert json.loads(row["attribute"]) == {"k": "second", "z": "zz"}
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)


def test_otel_whole_number_double_renderings(spark):
    """strconv-'g' parity (ADVICE r2): whole-number doubleValue
    attributes render '2' (not '2.0'); whole-number summary quantiles
    render '0'/'1' (not '0.0'/'1.0'); fractional values keep their
    decimal form."""
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": [
                {"key": "shards", "value": {"doubleValue": 2.0}},
                {"key": "ratio", "value": {"doubleValue": 2.5}},
            ]},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "lat", "summary": {"dataPoints": [{
                    "timeUnixNano": "1000", "sum": 9.0, "count": "3",
                    "quantileValues": [
                        {"quantile": 0.0, "value": 1.0},
                        {"quantile": 0.5, "value": 2.0},
                        {"quantile": 1.0, "value": 3.0},
                    ],
                }]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"])
    rows = parse_otel_metric(df, "payload").collect()
    quantile_labels = sorted(
        r["__labels__"] for r in rows if r["__name__"] == "lat"
    )
    assert quantile_labels == sorted([
        "quantile#$#0|ratio#$#2.5|shards#$#2",
        "quantile#$#0.5|ratio#$#2.5|shards#$#2",
        "quantile#$#1|ratio#$#2.5|shards#$#2",
    ])


def test_otel_exemplar_rows_precede_metric_row(spark):
    """GaugeToLogs/SumToLogs append exemplar logs BEFORE the metric
    log (otlpDataToSLSProto.go:127-135) — row order within one
    payload's expansion preserves that (ADVICE r2)."""
    from loongcollector_spark.operators.otel import parse_otel_metric

    payload = {
        "resourceMetrics": [{
            "resource": {"attributes": []},
            "scopeMetrics": [{"scope": {"name": "m", "version": "1"}, "metrics": [
                {"name": "g", "gauge": {"dataPoints": [{
                    "timeUnixNano": "2000000000", "asDouble": 5.0,
                    "exemplars": [{"timeUnixNano": "1500000000",
                                   "asDouble": 4.5}],
                }]}},
            ]}],
        }]
    }
    df = spark.createDataFrame([(json.dumps(payload),)], ["payload"]).coalesce(1)
    names = [r["__name__"] for r in parse_otel_metric(df, "payload").collect()]
    assert names == ["g_exemplars", "g"]


def test_otel_protobuf_histogram_packed_and_zigzag(spark):
    """Wire decode of the packed-numeric paths (explicitBounds packed
    doubles, bucketCounts packed fixed64) and the sint32 zigzag scale
    of exponential histograms, compared against the identical payload
    in JSON form."""
    import struct

    from loongcollector_spark.functions import protowire as w
    from loongcollector_spark.operators.otel import parse_otel_metric

    # HistogramDataPoint: time=3 fixed64, count=4 fixed64, sum=5 double,
    # bucketCounts=6 packed fixed64, explicitBounds=7 packed double
    hdp = (
        w.write_tag(3, 1) + struct.pack("<Q", 1_000_000_000)
        + w.write_tag(4, 1) + struct.pack("<Q", 6)
        + w.write_tag(5, 1) + struct.pack("<d", 12.5)
        + w.write_len_delimited(6, struct.pack("<QQQ", 1, 2, 3))
        + w.write_len_delimited(7, struct.pack("<dd", 0.5, 2.0))
    )
    histogram = w.write_len_delimited(1, hdp) + w.write_varint_field(2, 2)
    m1 = w.write_string_field(1, "lat") + w.write_len_delimited(9, histogram)
    # ExponentialHistogramDataPoint: scale=6 sint32 (zigzag: -1 -> 1),
    # zeroCount=7 fixed64, positive Buckets{offset=1 sint32, counts=2
    # packed varint}
    edp = (
        w.write_tag(3, 1) + struct.pack("<Q", 1_000_000_000)
        + w.write_tag(4, 1) + struct.pack("<Q", 3)
        + w.write_tag(6, 0) + w.write_varint(1)      # zigzag(-1) = 1
        + w.write_tag(7, 1) + struct.pack("<Q", 1)
        + w.write_len_delimited(8, w.write_tag(1, 0) + w.write_varint(2)  # offset sint32: zigzag(1)=2
                                + w.write_len_delimited(2, w.write_varint(2) + w.write_varint(0)))
    )
    exp = w.write_len_delimited(1, edp) + w.write_varint_field(2, 1)
    m2 = w.write_string_field(1, "sz") + w.write_len_delimited(10, exp)
    sm = w.write_len_delimited(2, m1) + w.write_len_delimited(2, m2)
    payload = w.write_len_delimited(1, w.write_len_delimited(2, sm))

    json_payload = {
        "resourceMetrics": [{
            "scopeMetrics": [{"metrics": [
                {"name": "lat", "histogram": {"aggregationTemporality": 2,
                    "dataPoints": [{"timeUnixNano": "1000000000",
                        "count": "6", "sum": 12.5,
                        "bucketCounts": ["1", "2", "3"],
                        "explicitBounds": [0.5, 2.0]}]}},
                {"name": "sz", "exponentialHistogram": {
                    "aggregationTemporality": 1,
                    "dataPoints": [{"timeUnixNano": "1000000000",
                        "count": "3", "scale": -1, "zeroCount": "1",
                        "positive": {"offset": 1,
                                     "bucketCounts": ["2", "0"]}}]}},
            ]}],
        }]
    }
    pb_df = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    js_df = spark.createDataFrame([(json.dumps(json_payload),)], ["payload"])
    key = lambda r: (r["__name__"], r["__labels__"], r["__time_nano__"], r["__value__"])  # noqa: E731
    pb = sorted(key(r) for r in parse_otel_metric(pb_df, "payload", format="protobuf").collect())
    js = sorted(key(r) for r in parse_otel_metric(js_df, "payload", format="json").collect())
    assert pb == js
    assert len(pb) >= 8  # _sum/_count + 3 buckets + exp rows


def test_otel_protojson_aliases_json(spark):
    """format='protojson' IS the camelCase OTLP/JSON encoding — same
    rows as format='json'."""
    df = spark.createDataFrame([(1, json.dumps(PAYLOAD))], ["id", "payload"])
    a = sorted(map(str, parse_otel_trace(df, "payload", format="json").collect()))
    b = sorted(map(str, parse_otel_trace(df, "payload", format="protojson").collect()))
    assert a == b


# ------------------------------------------------------------ OTLP logs


def _encode_logs_payload(records):
    """Serialize a LogsData wire payload with protowire: records =
    [(time_ns, sevnum, sevtext, body_str, attrs{k:v}, trace16, span8)]."""
    from loongcollector_spark.functions import protowire as w

    recs = b""
    for t, num, text, body, attrs, tid, sid in records:
        body_any = w.write_string_field(1, body)
        attr_bytes = b""
        for k, v in attrs.items():
            attr_bytes += w.write_len_delimited(
                6,
                w.write_string_field(1, k)
                + w.write_len_delimited(2, w.write_string_field(1, v)),
            )
        rec = (
            w.write_fixed64_field(1, t)
            + w.write_varint_field(2, num)
            + w.write_string_field(3, text)
            + w.write_len_delimited(5, body_any)
            + attr_bytes
            + w.write_len_delimited(9, tid)
            + w.write_len_delimited(10, sid)
        )
        recs += w.write_len_delimited(2, rec)
    scope_logs = w.write_len_delimited(
        1, w.write_string_field(1, "lc-test-scope")
    ) + recs
    kv = w.write_string_field(1, "service.name") + w.write_len_delimited(
        2, w.write_string_field(1, "svc-a")
    )
    resource_logs = w.write_len_delimited(
        1, w.write_len_delimited(1, kv)
    ) + w.write_len_delimited(2, scope_logs)
    return w.write_len_delimited(1, resource_logs)


def test_parse_otel_log_protobuf_roundtrip(spark):
    from loongcollector_spark.operators.otel import parse_otel_log

    payload = _encode_logs_payload(
        [
            (
                1704067200_000_000_000,
                9,
                "INFO",
                "hello log",
                {"k1": "v1", "k2": "v2"},
                b"\x01" * 16,
                b"\x02" * 8,
            ),
            (
                1704067201_000_000_000,
                17,
                "ERROR",
                "boom",
                {},
                b"\x03" * 16,
                b"\x04" * 8,
            ),
        ]
    )
    df = spark.createDataFrame([("r1", bytearray(payload))], "id string, payload binary")
    out = parse_otel_log(df, "payload", format="protobuf").orderBy("time_us")
    rows = out.collect()
    assert len(rows) == 2
    r0, r1 = rows
    assert r0.service == "svc-a"
    assert r0["otlp.name"] == "lc-test-scope"
    assert r0.time_us == 1704067200_000_000
    assert (r0.severityNumber, r0.severityText) == ("9", "INFO")
    assert r0.body == "hello log"
    import json as _json

    assert _json.loads(r0.attribute) == {"k1": "v1", "k2": "v2"}
    assert r0.traceID == "01" * 16 and r0.spanID == "02" * 8
    assert r1.body == "boom" and r1.severityText == "ERROR"
    assert r1.attribute == "{}"
    # carried-through input column, duplicated per record
    assert {r.id for r in rows} == {"r1"}


def test_parse_otel_log_json_and_protobuf_agree(spark):
    from loongcollector_spark.functions.otlp_wire import decode_logs
    from loongcollector_spark.operators.otel import parse_otel_log

    payload = _encode_logs_payload(
        [(1704067202_500_000_000, 13, "WARN", "w", {"a": "b"},
          b"\x05" * 16, b"\x06" * 8)]
    )
    json_text = decode_logs(payload)
    dfp = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    dfj = spark.createDataFrame([(json_text,)], "payload string")
    rp = parse_otel_log(dfp, "payload", format="protobuf").collect()
    rj = parse_otel_log(dfj, "payload", format="json").collect()
    assert [tuple(r) for r in rp] == [tuple(r) for r in rj]
    assert rp[0].time_us == 1704067202_500_000


def test_otlp_wrong_wire_type_numeric_rejects_payload():
    """A known numeric field carrying the wrong wire type must reject
    the whole payload (decode → None), not silently fabricate a value
    — e.g. timeUnixNano (fixed64) arriving length-delimited as ASCII
    digits must NOT decode to 12."""
    from loongcollector_spark.functions import protowire as w
    from loongcollector_spark.functions.otlp_wire import decode_logs

    def ld(field: int, payload: bytes) -> bytes:
        return w.write_varint((field << 3) | 2) + w.write_varint(len(payload)) + payload

    # LogRecord with timeUnixNano (field 1, fixed64) as wt=2 b"12"
    bad_record = ld(1, b"12")
    bad = ld(1, ld(2, ld(2, bad_record)))  # resourceLogs>scopeLogs>logRecords
    assert decode_logs(bad) is None

    # the same record with the canonical fixed64 encoding decodes
    good_record = w.write_varint((1 << 3) | 1) + (12).to_bytes(8, "little")
    good = ld(1, ld(2, ld(2, good_record)))
    out = decode_logs(good)
    assert out is not None and '"timeUnixNano": "12"' in out


def test_parse_otel_log_garbage_yields_zero_rows(spark):
    from loongcollector_spark.operators.otel import parse_otel_log

    df = spark.createDataFrame(
        [(bytearray(b"\xff\xff\x07garbage"),), (None,)], "payload binary"
    )
    assert parse_otel_log(df, "payload", format="protobuf").count() == 0
