"""Sink wire formats, each driven encode → decode over real rows and
value-checked against DuckDB computing the same aggregates straight
off the parquet, so a single mis-encoded varint or field tag breaks
the match: the OTLP trace golden, the SLS protobuf LogGroup, OTLP
spans, Prometheus remote-write (prompb protobuf + snappy block
framing), Loki push JSON and Elasticsearch ``_bulk`` NDJSON. The last
three read the deterministic 1-in-8 conversation bucket: the codecs
are pure Python and losslessness is volume-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, MD5_SQL
from ..sources.transcripts import load_transcripts
from .common import _ROUTE_CASE, _TX, _routed
from .registry import query


_OTEL_GOLDEN_PAYLOAD = (
    '{"resourceSpans":[{"resource":{"attributes":['
    '{"key":"service.name","value":{"stringValue":"svc"}},'
    '{"key":"env","value":{"stringValue":"prod"}}]},'
    '"scopeSpans":[{"scope":{"name":"lib","version":"2"},"spans":['
    '{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b7169203331",'
    '"parentSpanId":"","name":"GET /api","kind":2,'
    '"startTimeUnixNano":"1704067200000000000",'
    '"endTimeUnixNano":"1704067200250000000",'
    '"attributes":[{"key":"http.status","value":{"intValue":"200"}}],'
    '"status":{"code":1,"message":""}},'
    '{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"00f067aa0ba902b7",'
    '"parentSpanId":"b7ad6b7169203331","name":"db","kind":3,'
    '"startTimeUnixNano":"1704067200050000000",'
    '"endTimeUnixNano":"1704067200100000000",'
    '"status":{"code":2,"message":"timeout"}}]}]}]}'
)


@query(oracle="""
    SELECT * FROM (VALUES
      (1::BIGINT, 'svc', '{"env":"prod"}',
       '0af7651916cd43dd8448eb211c80319c', 'b7ad6b7169203331', '',
       'server', 'GET /api', '1704067200000000', '250000',
       '{"http.status":"200"}', 'OK', ''),
      (1::BIGINT, 'svc', '{"env":"prod"}',
       '0af7651916cd43dd8448eb211c80319c', '00f067aa0ba902b7',
       'b7ad6b7169203331', 'client', 'db', '1704067200050000', '50000',
       '{}', 'ERROR', 'timeout')
    ) AS t(rid, service, resource, "traceID", "spanID", "parentSpanID",
           kind, name, start, duration, attribute, "statusCode",
           "statusMessage")
""")
def q_otel_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_trace golden oracle (the reference's unittest
    style: fixed payload → hand-derived expected rows from
    otlp_trace_parser.go semantics). The payload is a literal, so both
    engines agree on the input byte-for-byte."""
    from ..operators.otel import parse_otel_trace

    df = spark.createDataFrame([(1, _OTEL_GOLDEN_PAYLOAD)], ["rid", "payload"])
    out = parse_otel_trace(df, "payload")
    return out.select(
        "rid", "service", "resource", "traceID", "spanID", "parentSpanID",
        "kind", "name", "start", "duration", "attribute", "statusCode",
        "statusMessage",
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT {_ROUTE_CASE} AS sink,
           count(*) AS n_rows,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_text_chars,
           -- mirror encode_log's uint32 clamp (sources/sls_pb.py): a
           -- pre-1970 or post-2106 ts floors to 0 / 2^32-1 on the wire
           CAST(sum(greatest(CAST(0 AS BIGINT),
                             least(CAST(floor(epoch(ts)) AS BIGINT),
                                   CAST(4294967295 AS BIGINT))))
                AS BIGINT) AS sum_time_sec,
           count(DISTINCT conv_id) AS n_convs
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1
""")
def q_sls_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLS protobuf LogGroup wire round-trip over real routed rows
    (flusher_sls wire format, pkg/protocol/proto/sls_logs.proto:8-33):
    parse→route the transcripts, serialize each per-sink batch of rows
    to LogGroup wire bytes (sources/sls_pb.py), DECODE the bytes back,
    and aggregate the decoded contents per sink. Counts, summed text
    chars, summed epoch seconds and distinct-conversation counts must
    equal what DuckDB computes directly from the parquet — i.e. the
    encode→decode is lossless end to end.

    Bounded to a deterministic 1-in-8 conversation bucket (md5 kernel,
    same predicate on both engines): the pure-Python wire codec costs
    ~50 µs/row, and losslessness is volume-independent — full-volume
    serializer cost belongs to the flusher bench, not the oracle
    gate."""
    from ..sources.sls_pb import decode_loggroup, serialize_sls_loggroups

    routed = (
        _routed(spark, sf_dir)
        .filter(md5_long(F.col("conv_id")) % 8 == 0)
        .select("sink", "conv_id", "turn_idx", "role", "text", "ts")
        # the wire codec is pure-Python: spread it across all cores
        # (the narrow parse→route chain is otherwise one task here)
        .repartition(spark.sparkContext.defaultParallelism, "conv_id")
    )
    groups = serialize_sls_loggroups(
        routed,
        time_key="ts",
        topic_key="sink",
        category="transcripts",
        max_log_count=256,
    )

    def decode(batches):
        import pandas as pd

        cols = ["sink", "time_sec", "conv_id", "turn_idx", "role", "text"]
        for pdf in batches:
            rows = []
            for blob in pdf["value"]:
                lg = decode_loggroup(bytes(blob))
                topic = lg.get("topic", "")
                for log in lg["logs"]:
                    c = dict(log["contents"])
                    rows.append(
                        (
                            topic,
                            log["time"],
                            c.get("conv_id", ""),
                            int(c["turn_idx"]),
                            c.get("role", ""),
                            c.get("text", ""),
                        )
                    )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    decoded = groups.mapInPandas(
        decode,
        schema=(
            "sink string, time_sec long, conv_id string, turn_idx long, "
            "role string, text string"
        ),
    )
    return decoded.groupBy("sink").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("text")).alias("sum_text_chars"),
        F.sum("time_sec").alias("sum_time_sec"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT role AS service, tool AS span_name,
           count(*) AS n_spans,
           count(DISTINCT conv_id) AS n_traces,
           CAST(sum((turn_idx + 1) * 1000) AS BIGINT) AS sum_duration_us,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_start_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_start_us
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1, 2
""")
def q_otlp_wire_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP protobuf wire decode over real data: every transcript turn
    is encoded as a serialized ``TracesData`` payload (public
    opentelemetry-proto field numbers, protowire writer) — resource
    attr service.name=role, span name=tool, ids from md5(conv_id[,
    turn_idx]), start=ts in UnixNano, duration (turn_idx+1) ms — then
    decoded through the FULL production path
    (functions/otlp_wire.py wire walk → OTLP/JSON →
    operators/otel.py parse_otel_trace) and aggregated per
    (service, span name). Span counts, distinct hex trace ids and
    exact microsecond duration/start stats must match DuckDB computing
    them straight from the source columns.

    Bounded to a deterministic 1-in-8 conversation bucket (md5
    kernel, same predicate on both engines) — see
    :func:`q_sls_wire_roundtrip` for the rationale."""
    from ..functions import protowire as w
    from ..operators.otel import parse_otel_trace

    tx = load_transcripts(spark, sf_dir).filter(
        md5_long(F.col("conv_id")) % 8 == 0
    ).repartition(  # pure-Python encode: spread across all cores
        spark.sparkContext.defaultParallelism, "conv_id"
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias(
            "start_ns"
        ),
    )

    def encode(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = []
            for row in pdf.itertuples(index=False):
                trace_id = hashlib.md5(row.conv_id.encode()).digest()[:16]
                span_id = hashlib.md5(
                    f"{row.conv_id}#{row.turn_idx}".encode()
                ).digest()[:8]
                start = int(row.start_ns)
                end = start + (int(row.turn_idx) + 1) * 1_000_000
                span = (
                    w.write_len_delimited(1, trace_id)
                    + w.write_len_delimited(2, span_id)
                    + w.write_string_field(5, str(row.tool))
                    + w.write_varint_field(6, 2)  # kind: SERVER
                    + w.write_fixed64_field(7, start)
                    + w.write_fixed64_field(8, end)
                )
                kv = w.write_string_field(
                    1, "service.name"
                ) + w.write_len_delimited(
                    2, w.write_string_field(1, str(row.role))
                )
                resource = w.write_len_delimited(1, kv)
                scope = w.write_string_field(1, "loongcollector-spark")
                scope_spans = w.write_len_delimited(
                    1, scope
                ) + w.write_len_delimited(2, span)
                resource_spans = w.write_len_delimited(
                    1, resource
                ) + w.write_len_delimited(2, scope_spans)
                payloads.append(w.write_len_delimited(1, resource_spans))
            if payloads:
                yield pd.DataFrame({"payload": payloads})

    enc = tx.mapInPandas(encode, schema="payload binary")
    out = parse_otel_trace(enc, "payload", format="protobuf")
    return out.groupBy("service", F.col("name").alias("span_name")).agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("traceID").alias("n_traces"),
        F.sum(F.col("duration").cast("long")).alias("sum_duration_us"),
        F.min(F.col("start").cast("long")).alias("min_start_us"),
        F.max(F.col("start").cast("long")).alias("max_start_us"),
    )


def _wire_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:

    return (
        load_transcripts(spark, sf_dir)
        .filter(md5_long(F.col("conv_id")) % 8 == 0)
        .repartition(spark.sparkContext.defaultParallelism, "conv_id")
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT role, tool, count(*) AS n_samples,
           CAST(sum(length(coalesce(text, ''))) AS DOUBLE) AS sum_chars,
           CAST(sum(epoch_ms(ts)) AS BIGINT) AS sum_ts_ms
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY role, tool
""")
def q_prom_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote-write wire round-trip (flusher_prometheus,
    plugins/flusher/prometheus: snappy(prompb.WriteRequest) bodies).
    Every bucketed turn becomes one single-sample TimeSeries
    (metric turn_chars, labels role/tool, value=len(text), ts in ms);
    the blobs decode back through the full wire walk (sources/
    prom_wire.py, incl. the snappy block decoder) and the decoded
    samples aggregate per (role, tool) — counts and exact sums must
    match DuckDB over the parquet."""
    from ..sources.prom_wire import decode_write_request, serialize_remote_write

    rows = _wire_bucket(spark, sf_dir).select(
        "role",
        "tool",
        F.length(F.coalesce("text", F.lit(""))).cast("double").alias("chars"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    blobs = serialize_remote_write(
        rows,
        metric_name="turn_chars",
        value_key="chars",
        time_ms_key="ts_ms",
        label_keys=["role", "tool"],
        max_series=256,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for blob in pdf["value"]:
                for s in decode_write_request(bytes(blob)):
                    val, ts_ms = s["samples"][0]
                    recs.append(
                        (s["labels"]["role"], s["labels"]["tool"], val, ts_ms)
                    )
            if recs:
                yield pd.DataFrame(
                    recs, columns=["role", "tool", "value", "ts_ms"]
                )

    decoded = blobs.mapInPandas(
        decode, schema="role string, tool string, value double, ts_ms long"
    )
    return decoded.groupBy("role", "tool").agg(
        F.count("*").alias("n_samples"),
        F.sum("value").alias("sum_chars"),
        F.sum("ts_ms").alias("sum_ts_ms"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT {_ROUTE_CASE} AS sink, role, count(*) AS n_lines,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_text_chars,
           CAST(min(epoch_ns(ts)) AS BIGINT) AS min_ts_ns,
           CAST(max(epoch_ns(ts)) AS BIGINT) AS max_ts_ns
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1, 2
""")
def q_loki_push_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loki push-API round-trip (flusher_loki,
    plugins/flusher/loki/flusher_loki.go:53-164): routed rows become
    push payloads with labelsets {job, sink, role} and ns-precision
    values; payloads decode back (sources/loki_push.py) and aggregate
    per (sink, role)."""
    from ..sources.loki_push import decode_loki_push, serialize_loki_push

    routed = (
        _routed(spark, sf_dir)
        .filter(md5_long(F.col("conv_id")) % 8 == 0)
        .select(
            "sink",
            "role",
            "text",
            (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "sink")
    )
    payloads = serialize_loki_push(
        routed,
        line_key="text",
        time_ns_key="ts_ns",
        label_keys=["sink", "role"],
        static_labels={"job": "loongcollector"},
        max_entries=512,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for payload in pdf["value"]:
                for labels, ts_ns, line in decode_loki_push(payload):
                    recs.append(
                        (labels["sink"], labels["role"], ts_ns, len(line))
                    )
            if recs:
                yield pd.DataFrame(
                    recs, columns=["sink", "role", "ts_ns", "chars"]
                )

    decoded = payloads.mapInPandas(
        decode, schema="sink string, role string, ts_ns long, chars long"
    )
    return decoded.groupBy("sink", "role").agg(
        F.count("*").alias("n_lines"),
        F.sum("chars").alias("sum_text_chars"),
        F.min("ts_ns").alias("min_ts_ns"),
        F.max("ts_ns").alias("max_ts_ns"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT concat('lc-', role) AS es_index, count(*) AS n_docs,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_text_chars,
           count(DISTINCT conv_id) AS n_convs,
           CAST(sum(turn_idx) AS BIGINT) AS sum_turn_idx
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1
""")
def q_es_bulk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch _bulk round-trip (flusher_elasticsearch,
    plugins/flusher/elasticsearch/flusher_elasticsearch.go:188-218):
    dynamic ``lc-%{role}`` index names (fmtstr.FormatIndex convention),
    JVM-rendered docs, NDJSON bodies decoded back and aggregated per
    index."""
    from ..sources.es_bulk import decode_es_bulk, serialize_es_bulk

    rows = _wire_bucket(spark, sf_dir).select("role", "conv_id", "turn_idx", "text")
    bodies = serialize_es_bulk(
        rows, index_format="lc-%{role}", doc_keys=["conv_id", "turn_idx", "text"],
        max_docs=512,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for body in pdf["value"]:
                for idx, doc in decode_es_bulk(body):
                    recs.append(
                        (
                            idx,
                            doc["conv_id"],
                            int(doc["turn_idx"]),
                            len(doc.get("text") or ""),
                        )
                    )
            if recs:
                yield pd.DataFrame(
                    recs, columns=["es_index", "conv_id", "turn_idx", "chars"]
                )

    decoded = bodies.mapInPandas(
        decode,
        schema="es_index string, conv_id string, turn_idx long, chars long",
    )
    return decoded.groupBy("es_index").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("sum_text_chars"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.sum("turn_idx").alias("sum_turn_idx"),
    )
