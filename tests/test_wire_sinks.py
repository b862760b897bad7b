"""Wire-format serializer tests: Prometheus remote-write (prompb +
snappy block format), Loki push JSON, Elasticsearch _bulk NDJSON
(plugins/flusher/{prometheus,loki,elasticsearch} sink formats)."""

import json
import struct

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.sources.es_bulk import decode_es_bulk, serialize_es_bulk
from loongcollector_spark.sources.loki_push import (
    decode_loki_push,
    encode_loki_push,
    serialize_loki_push,
)
from loongcollector_spark.sources.prom_wire import (
    decode_write_request,
    encode_timeseries,
    encode_write_request,
    serialize_remote_write,
    snappy_compress,
    snappy_decompress,
)

# ------------------------------------------------------------------ snappy


def test_snappy_roundtrip_sizes():
    for n in (0, 1, 59, 60, 61, 255, 256, 65535, 65536, 200_000):
        data = bytes((i * 7 + n) % 256 for i in range(n))
        assert snappy_decompress(snappy_compress(data)) == data


def test_snappy_decoder_handles_copies():
    # hand-build a stream a real compressor could emit:
    # literal "abcd" (tag (4-1)<<2) + 1-byte-offset copy (len 8, off 4)
    # → overlapping copy semantics give "abcdabcdabcd"
    payload = bytes([12, (4 - 1) << 2]) + b"abcd" + bytes([((8 - 4) << 2) | 1, 4])
    assert snappy_decompress(payload) == b"abcdabcdabcd"
    # 2-byte-offset copy: literal "xy" + copy len 4 off 2 → "xyxyxy"
    payload2 = (
        bytes([6, (2 - 1) << 2]) + b"xy"
        + bytes([((4 - 1) << 2) | 2]) + struct.pack("<H", 2)
    )
    assert snappy_decompress(payload2) == b"xyxyxy"


def test_snappy_cross_validates_against_pyarrow():
    # pyarrow bundles the reference C++ snappy: our decoder must accept
    # real copy-bearing streams, and a real decoder must accept our
    # literal-only streams.
    import pyarrow as pa

    data = (b"abcdefgh" * 1000) + bytes(range(256)) * 10 + b"lazy dog " * 97
    real = pa.compress(data, codec="snappy", asbytes=True)
    assert len(real) < len(data) // 4  # it really compressed (has copies)
    assert snappy_decompress(real) == data
    mine = snappy_compress(data)
    assert (
        pa.decompress(mine, decompressed_size=len(data), codec="snappy", asbytes=True)
        == data
    )


def test_snappy_rejects_bad_offset_and_length():
    with pytest.raises(ValueError):
        snappy_decompress(bytes([4]) + b"\x00a" + bytes([(0 << 2) | 1 | (0 << 5), 9]))
    with pytest.raises(ValueError):
        snappy_decompress(bytes([9]) + b"\x00a")  # declared 9, produces 1


# ------------------------------------------------------------------ prompb


def test_prompb_roundtrip_and_label_sorting():
    ts1 = encode_timeseries(
        [("job", "lc"), ("__name__", "up")], [(1.0, 1700000000000)]
    )
    ts2 = encode_timeseries(
        [("__name__", "turn_chars"), ("role", "tool")],
        [(42.5, -1), (7.0, 1700000000001)],
    )
    buf = snappy_compress(encode_write_request([ts1, ts2]))
    series = decode_write_request(buf)
    assert len(series) == 2
    assert series[0]["labels"] == {"__name__": "up", "job": "lc"}
    # wire order proves sorting: __name__ < job
    assert list(series[0]["labels"]) == ["__name__", "job"]
    assert series[0]["samples"] == [(1.0, 1700000000000)]
    # int64 negative timestamp survives the varint two's complement
    assert series[1]["samples"][0] == (42.5, -1)


def test_serialize_remote_write_dataframe(spark):
    df = spark.createDataFrame(
        [("assistant", "code", 11, 1700000000000),
         ("tool", "search", 7, 1700000000500),
         ("tool", "search", 5, 1700000001000)],
        ["role", "tool", "chars", "ts_ms"],
    )
    blobs = serialize_remote_write(
        df.repartition(1),
        metric_name="turn_chars",
        value_key="chars",
        time_ms_key="ts_ms",
        label_keys=["role", "tool"],
        max_series=2,
    ).collect()
    assert len(blobs) == 2  # 3 series, rotation at 2
    decoded = [s for b in blobs for s in decode_write_request(bytes(b.value))]
    assert len(decoded) == 3
    got = sorted(
        (d["labels"]["role"], d["labels"]["tool"], d["samples"][0])
        for d in decoded
    )
    assert got == [
        ("assistant", "code", (11.0, 1700000000000)),
        ("tool", "search", (5.0, 1700000001000)),
        ("tool", "search", (7.0, 1700000000500)),
    ]
    assert all(d["labels"]["__name__"] == "turn_chars" for d in decoded)


# -------------------------------------------------------------------- loki


def test_loki_encode_decode():
    payload = encode_loki_push(
        [({"job": "lc", "sink": "s1"}, [(2, "b"), (1, "a")])]
    )
    doc = json.loads(payload)
    # entries sorted by timestamp within the stream
    assert doc["streams"][0]["values"] == [["1", "a"], ["2", "b"]]
    rows = decode_loki_push(payload)
    assert rows == [({"job": "lc", "sink": "s1"}, 1, "a"),
                    ({"job": "lc", "sink": "s1"}, 2, "b")]


def test_serialize_loki_push_groups_by_labelset(spark):
    df = spark.createDataFrame(
        [("s1", "l1", 10), ("s2", "l2", 20), ("s1", "l3", 30)],
        ["sink", "line", "ts_ns"],
    )
    payloads = serialize_loki_push(
        df.repartition(1),
        line_key="line",
        time_ns_key="ts_ns",
        label_keys=["sink"],
        static_labels={"job": "loongcollector"},
    ).collect()
    assert len(payloads) == 1
    rows = decode_loki_push(payloads[0].value)
    assert sorted((r[0]["sink"], r[1], r[2]) for r in rows) == [
        ("s1", 10, "l1"), ("s1", 30, "l3"), ("s2", 20, "l2"),
    ]
    assert all(r[0]["job"] == "loongcollector" for r in rows)
    streams = json.loads(payloads[0].value)["streams"]
    assert len(streams) == 2  # one per labelset, not per row


def test_serialize_loki_push_rotation(spark):
    df = spark.createDataFrame(
        [("s", f"l{i}", i) for i in range(5)], ["sink", "line", "ts_ns"]
    )
    payloads = serialize_loki_push(
        df.repartition(1),
        line_key="line",
        time_ns_key="ts_ns",
        label_keys=["sink"],
        max_entries=2,
    ).collect()
    assert len(payloads) == 3
    total = sum(len(decode_loki_push(p.value)) for p in payloads)
    assert total == 5


# ----------------------------------------------------------------- es bulk


def test_es_bulk_roundtrip_and_dynamic_index(spark):
    df = spark.createDataFrame(
        [("assistant", "c1", 0, 'say "hi"'), ("tool", "c1", 1, "ok\nnext")],
        ["role", "conv_id", "turn_idx", "text"],
    )
    bodies = serialize_es_bulk(
        df.repartition(1),
        index_format="lc-%{role}",
        doc_keys=["conv_id", "turn_idx", "text"],
    ).collect()
    docs = [d for b in bodies for d in decode_es_bulk(b.value)]
    assert sorted(d[0] for d in docs) == ["lc-assistant", "lc-tool"]
    by_idx = dict(docs)
    # JSON round-trips quotes and newlines in doc values
    assert by_idx["lc-assistant"]["text"] == 'say "hi"'
    assert by_idx["lc-tool"]["text"] == "ok\nnext"
    assert by_idx["lc-tool"]["turn_idx"] == 1


def test_es_bulk_rotation_and_errors(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(5)], ["i", "t"])
    bodies = serialize_es_bulk(
        df.repartition(1), index_format="fixed", max_docs=2
    ).collect()
    assert len(bodies) == 3
    assert sum(len(decode_es_bulk(b.value)) for b in bodies) == 5
    assert all(b.value.endswith("\n") for b in bodies)
    with pytest.raises(ValueError):
        decode_es_bulk('{"index": {"_index": "x"}}\n')
    with pytest.raises(ValueError):
        decode_es_bulk('{"delete": {}}\n{}\n')


def test_es_bulk_index_render_is_jvm_side(spark):
    df = spark.createDataFrame([("a", 1)], ["role", "v"])
    out = serialize_es_bulk(df, index_format="lc-%{role}")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one Python stage (the body assembly); index render + to_json
    # stay in codegen
    assert plan.count("ArrowEvalPython") == 0
    assert "concat(lc-, cast(role" in plan.replace("#", " ").lower() or "concat" in plan.lower()


# ------------------------------------------------- clickhouse RowBinary


def test_clickhouse_rowbinary_roundtrip(spark):
    from loongcollector_spark.sources.clickhouse_rb import (
        decode_clickhouse_rowbinary,
        serialize_clickhouse_rowbinary,
    )

    rows = [
        ("c1", 0, "hello", "2024-01-01 00:00:00"),
        ("c1", 1, "wörld ünïcode é", "2024-01-01 00:00:01"),
        ("c2", 0, "", "2024-01-01 00:00:02"),  # empty doc field survives
        ("c2", 1, "x" * 300, "2024-01-01 00:00:03"),  # >127-byte varint len
    ]
    df = (
        spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, t string")
        .withColumn("ts", F.to_timestamp("t"))
        .drop("t")
    )
    payloads = [
        bytes(r.value)
        for r in serialize_clickhouse_rowbinary(
            df.coalesce(1), max_rows=3
        ).collect()
    ]
    assert len(payloads) == 2  # 4 rows rotate at 3
    decoded = [t for p in payloads for t in decode_clickhouse_rowbinary(p)]
    assert len(decoded) == 4
    import json as _json

    docs = sorted(_json.loads(d)["text"] for ts, d in decoded)
    assert docs == sorted([r[2] for r in rows])
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    assert sorted(ts for ts, _ in decoded) == [base, base + 1, base + 2, base + 3]


def test_clickhouse_rowbinary_null_ts_folds_to_zero(spark):
    # null ts must serialize as 0 (loki_push/prom_wire convention),
    # not crash the executor with int(NaN).
    from loongcollector_spark.sources.clickhouse_rb import (
        decode_clickhouse_rowbinary,
        serialize_clickhouse_rowbinary,
    )

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("b", None)], "text string, t string"
    ).select(F.col("text"), F.to_timestamp("t").alias("ts"))
    decoded = [
        t
        for r in serialize_clickhouse_rowbinary(df.coalesce(1)).collect()
        for t in decode_clickhouse_rowbinary(bytes(r.value))
    ]
    assert sorted(ts for ts, _ in decoded) == [0, 1704067200]
    assert sorted(d for _, d in decoded) == sorted(
        ['{"text":"a"}', '{"text":"b"}']
    )


def test_clickhouse_rowbinary_decoder_rejects_truncation(spark):
    import pytest as _pytest

    from loongcollector_spark.sources.clickhouse_rb import (
        decode_clickhouse_rowbinary,
        serialize_clickhouse_rowbinary,
    )

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00")], "text string, t string"
    ).select(F.col("text"), F.to_timestamp("t").alias("ts"))
    payload = bytes(serialize_clickhouse_rowbinary(df).collect()[0].value)
    with _pytest.raises(ValueError):
        decode_clickhouse_rowbinary(payload[:-1])
    with _pytest.raises(ValueError):
        decode_clickhouse_rowbinary(payload + b"\x01")


def test_clickhouse_buffer_ddl_matches_reference_shape():
    from loongcollector_spark.sources.clickhouse_rb import buffer_table_ddl

    null_sql, buf_sql = buffer_table_ddl("default", "logs", cluster="c1")
    assert null_sql == (
        "CREATE TABLE IF NOT EXISTS `default`.`ilogtail_logs` on cluster 'c1' "
        "(`_timestamp` Int64,`_log` String) ENGINE = Null"
    )
    assert buf_sql.startswith(
        "CREATE TABLE IF NOT EXISTS `default`.`ilogtail_logs_buffer` on "
        "cluster 'c1' AS `default`.`ilogtail_logs` ENGINE = Buffer(default, "
        "ilogtail_logs, 4, 10, 100, 10000, 1000000, 10000000, 100000000)"
    )


# ------------------------------------- staging: Spark renders each value


def test_serializers_render_integers_and_nulls_like_spark(spark):
    """A long column with a NULL in the same Arrow batch reaches pandas
    as float64; the serializers read Spark's rendering instead, so an
    integer is '3' (not '3.0') and a NULL is '' (not 'nan')."""
    from loongcollector_spark.sources.sls_pb import (
        decode_loggroup,
        serialize_sls_loggroups,
    )

    mixed = spark.createDataFrame([("x", 3), ("y", None)], "s string, n long")
    groups = serialize_sls_loggroups(mixed.coalesce(1)).collect()
    contents = [
        dict(lg["contents"])
        for g in groups
        for lg in decode_loggroup(bytes(g.value))["logs"]
    ]
    assert contents == [{"s": "x", "n": "3"}, {"s": "y", "n": ""}]

    numeric = spark.createDataFrame([(1, 0.5)], "a long, b double")
    (group,) = serialize_sls_loggroups(numeric.coalesce(1)).collect()
    (log,) = decode_loggroup(bytes(group.value))["logs"]
    assert dict(log["contents"]) == {"a": "1", "b": "0.5"}

    with_ts = mixed.withColumn("ts", F.lit(5).cast("long"))
    blobs = serialize_remote_write(
        with_ts.coalesce(1),
        metric_name="m",
        value_key="ts",
        time_ms_key="ts",
        label_keys=["n"],
    ).collect()
    labels = [
        s["labels"]["n"] for b in blobs for s in decode_write_request(bytes(b.value))
    ]
    assert labels == ["3", ""]

    payloads = serialize_loki_push(
        with_ts.coalesce(1), line_key="s", time_ns_key="ts", label_keys=["n"]
    ).collect()
    entries = [e for p in payloads for e in decode_loki_push(p.value)]
    assert sorted((lbl["n"], line) for lbl, _, line in entries) == [
        ("", "y"), ("3", "x"),
    ]


def test_serialize_remote_write_null_time_and_value_fold_to_zero(spark):
    """A NULL time is 0 and a NULL value 0.0, rendered JVM-side; an
    int(NaN) in the Python worker would abort the job."""
    df = spark.createDataFrame(
        [("a", 2.5, 1700000000000), ("b", None, None)],
        "role string, v double, ts_ms long",
    )
    blobs = serialize_remote_write(
        df.coalesce(1),
        metric_name="m",
        value_key="v",
        time_ms_key="ts_ms",
        label_keys=["role"],
    ).collect()
    got = sorted(
        (s["labels"]["role"], s["samples"][0])
        for b in blobs
        for s in decode_write_request(bytes(b.value))
    )
    assert got == [("a", (2.5, 1700000000000)), ("b", (0.0, 0))]


_EDGE_ROWS = [
    ("s1", None, 3, "2024-01-01 00:00:01"),
    ("s1", "", None, None),
    ("s2", "héllo 世界", 7, "2024-01-01 00:00:02"),
    ("s2", "line\n", None, "2024-01-01 00:00:03"),
]


def _json_text_n(doc: str) -> tuple[str, str]:
    # to_json leaves NULL fields out
    d = json.loads(doc)
    return d.get("text", ""), str(d["n"]) if "n" in d else ""


_TEXT_N = {
    "sls": lambda r: (r.contents["text"], r.contents["n"]),
    "loki": lambda r: _json_text_n(r.line),
    "es": lambda r: _json_text_n(r.doc),
    "clickhouse": lambda r: _json_text_n(r.log),
}


@pytest.mark.parametrize("fmt", ["sls", "loki", "es", "clickhouse", "prom"])
def test_wire_formats_decode_edge_rows(spark, tmp_path, fmt):
    """Every wire format (the flusher table's four wire entries, and
    Prometheus) decodes NULL, '', multibyte text and a trailing '\\n'
    back to the staged values: text NULL → '', integer n → '3'."""
    from loongcollector_spark.sources.sinks import FLUSHERS

    routed = spark.createDataFrame(
        _EDGE_ROWS, "sink string, text string, n long, t string"
    ).select("sink", "text", "n", F.to_timestamp("t").alias("ts"))
    if fmt == "prom":
        blobs = serialize_remote_write(
            routed.withColumn("ms", F.unix_millis("ts")),
            metric_name="m",
            value_key="n",
            time_ms_key="ms",
            label_keys=["text", "n"],
        ).collect()
        got = [
            (s["labels"]["text"], s["labels"]["n"])
            for b in blobs
            for s in decode_write_request(bytes(b.value))
        ]
    else:
        path = str(tmp_path / fmt)
        FLUSHERS[fmt].write(routed, path, "job")
        decoded = FLUSHERS[fmt].decode(spark.read.parquet(path)).collect()
        got = [_TEXT_N[fmt](r) for r in decoded]
    assert sorted(got) == [("", ""), ("", "3"), ("héllo 世界", "7"), ("line\n", "")]
