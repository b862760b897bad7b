"""Tests for the second wave of operators: anchor, split-by-regex,
multiline merge, metric unpivot, AES encrypt, sinks/serializers."""

import json

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.enrich import encrypt_fields, log_to_metric
from loongcollector_spark.operators.parse import (
    merge_multiline,
    parse_anchor,
    split_log_regex,
)
from loongcollector_spark.sources import sinks


def test_parse_anchor(spark):
    df = spark.createDataFrame(
        [("time=[12:00] level=INFO msg=[hello world] end",)], ["text"]
    )
    out = parse_anchor(
        df,
        "text",
        [
            {"start": "time=[", "stop": "]", "field": "time"},
            {"start": "msg=[", "stop": "]", "field": "msg"},
            {"start": "level=", "stop": " ", "field": "level"},
        ],
    ).first()
    assert out.time == "12:00"
    assert out.msg == "hello world"
    assert out.level == "INFO"


def test_split_log_regex(spark):
    blob = "ERR first\n  detail a\n  detail b\nERR second\n  detail c"
    df = spark.createDataFrame([(blob, "c1")], ["text", "conv_id"])
    out = split_log_regex(df, "text", r"^ERR ")
    rows = sorted(r.text for r in out.collect())
    assert rows == ["ERR first\n  detail a\n  detail b", "ERR second\n  detail c"]
    assert all(r.conv_id == "c1" for r in out.collect())


def test_split_log_regex_leading_continuation(spark):
    df = spark.createDataFrame([("orphan\nERR x\n  y",)], ["text"])
    rows = sorted(
        r.text for r in split_log_regex(df, "text", r"^ERR ").collect()
    )
    assert rows == ["ERR x\n  y", "orphan"]


def test_split_log_regex_agrees_with_hof_twin(spark):
    from hof_reference import split_log_regex_hof

    blobs = [
        ("b0", "ERR a\n x\nERR b"),
        ("b1", "lead\nmore lead\nERR only\ntail"),
        ("b2", "no match at all\nstill none"),
        ("b3", "ERR solo"),
        ("b4", ""),
    ]
    df = spark.createDataFrame(blobs, ["bid", "text"])
    fast = sorted(
        (r.bid, r.text)
        for r in split_log_regex(df, "text", r"^ERR ").collect()
    )
    slow = sorted(
        (r.bid, r.text)
        for r in split_log_regex_hof(df, "text", r"^ERR ").collect()
    )
    assert fast == slow


def test_split_log_regex_plan_has_no_interpreted_fold(spark):
    df = spark.createDataFrame([("ERR a\n x",)], ["text"])
    plan = split_log_regex(df, "text", r"^ERR ")._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" not in plan  # the HOF fold is gone (codegen shape)
    assert "posexplode" in plan or "Generate" in plan


def test_merge_multiline(spark):
    rows = [
        ("c1", 0, "ERR one"),
        ("c1", 1, "  cont"),
        ("c1", 2, "ERR two"),
        ("c2", 0, "ERR solo"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = merge_multiline(df, "text", r"^ERR ", ["conv_id"], "turn_idx")
    got = sorted((r.conv_id, r.turn_idx, r.text) for r in out.collect())
    assert got == [
        ("c1", 0, "ERR one\n  cont"),
        ("c1", 2, "ERR two"),
        ("c2", 0, "ERR solo"),
    ]


def test_merge_multiline_continue_mode(spark):
    rows = [
        ("c1", 0, "first"),
        ("c1", 1, "  cont a"),
        ("c1", 2, "  cont b"),
        ("c1", 3, "second"),
        ("c1", 4, "  cont c"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = merge_multiline(
        df, "text", continue_pattern=r"^\s+", group_cols=["conv_id"],
        order_col="turn_idx",
    )
    got = sorted((r.turn_idx, r.text) for r in out.collect())
    assert got == [(0, "first\n  cont a\n  cont b"), (3, "second\n  cont c")]


def test_merge_multiline_end_mode(spark):
    rows = [
        ("c1", 0, "a"),
        ("c1", 1, "b END"),
        ("c1", 2, "c"),
        ("c1", 3, "d END"),
        ("c1", 4, "e"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = merge_multiline(
        df, "text", end_pattern=r"END$", group_cols=["conv_id"],
        order_col="turn_idx",
    )
    got = sorted((r.turn_idx, r.text) for r in out.collect())
    assert got == [(0, "a\nb END"), (2, "c\nd END"), (4, "e")]


def test_merge_multiline_requires_one_mode(spark):
    df = spark.createDataFrame([("c", 0, "x")], ["conv_id", "turn_idx", "text"])
    with pytest.raises(ValueError):
        merge_multiline(df, "text", group_cols=["conv_id"], order_col="turn_idx")
    with pytest.raises(ValueError):
        merge_multiline(
            df, "text", start_pattern="a", continue_pattern="b",
            group_cols=["conv_id"], order_col="turn_idx",
        )


def test_log_to_metric(spark):
    df = spark.createDataFrame(
        [(1700000000, "api", "us", 12.5, 3.0)],
        ["t", "svc", "region", "latency", "errors"],
    )
    out = log_to_metric(df, "t", ["svc", "region"], ["latency", "errors"])
    rows = sorted((r.metric_name, r.metric_value) for r in out.collect())
    assert rows == [("errors", 3.0), ("latency", 12.5)]
    r = out.first()
    assert r["__labels__"] == "region#$#us|svc#$#api"
    assert r["__time__"] == 1700000000


def test_encrypt_fields_roundtrip(spark):
    # GCM mode (authenticated option; CBC reference default is covered
    # in test_enrich_filter)
    key = "00112233445566778899aabbccddeeff"
    df = spark.createDataFrame([("secret-value",)], ["payload"])
    enc = encrypt_fields(df, ["payload"], key, mode="GCM", iv_hex=None)
    ct = enc.first().payload
    assert ct != "secret-value" and len(ct) > 32
    dec = enc.withColumn(
        "plain",
        F.aes_decrypt(
            F.unhex(F.col("payload")), F.unhex(F.lit(key)), F.lit("GCM")
        ).cast("string"),
    )
    assert dec.first().plain == "secret-value"


def test_json_lines_sink_and_blackhole(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    p = str(tmp_path / "golden")
    sinks.write_json_lines(df, p)
    vals = sorted(json.loads(r.value)["v"] for r in spark.read.text(p).collect())
    assert vals == ["a", "b"]
    ser = sinks.serialize_json(df).collect()
    assert sorted(json.loads(r.value)["id"] for r in ser) == [1, 2]
    sinks.write_blackhole(df)  # must simply execute


def test_dynamic_topic_fanout(spark, tmp_path):
    df = spark.createDataFrame(
        [("logs", "a", 1), ("logs", "b", 2), ("metrics", "c", 3)],
        ["kind", "v", "n"],
    )
    base = str(tmp_path / "topics")
    sinks.write_dynamic_topics(df, base, "etl_%{kind}_v1", hash_keys=["v"], n_partitions=4)
    import os

    dirs = sorted(d for d in os.listdir(base) if d.startswith("__topic="))
    assert dirs == ["__topic=etl_logs_v1", "__topic=etl_metrics_v1"]
    back = spark.read.parquet(base)
    assert back.filter(F.col("__topic") == "etl_logs_v1").count() == 2


def test_iceberg_gate(spark):
    # no Iceberg runtime in this sandbox: gate must report False and
    # write_table must fall back to parquet paths without raising
    assert sinks.iceberg_available(spark) is False


def test_read_text_logs_source(spark, tmp_path):
    from loongcollector_spark.sources.sinks import read_text_logs

    d = tmp_path / "logs" / "app"
    d.mkdir(parents=True)
    (d / "a.log").write_text("line1\nline2\n")
    (d / "b.log").write_text("only\n")
    df = read_text_logs(spark, str(tmp_path / "logs"), line_number_col="line_no")
    rows = [
        (r.content, r["__tag__:__path__"].rsplit("/", 1)[-1], r.line_no)
        for r in df.collect()
    ]
    assert sorted(rows) == [
        ("line1", "a.log", 1),
        ("line2", "a.log", 2),
        ("only", "b.log", 1),
    ]
    # wholetext: one row per file, ready for merge_multiline/split
    whole = read_text_logs(spark, str(tmp_path / "logs"), wholetext=True)
    assert whole.count() == 2
    assert {r.content.count("\n") for r in whole.collect()} == {1, 2}


def test_sls_loggroup_roundtrip(spark):
    """LogGroup wire serializer golden: encode via the DataFrame
    serializer, hand-decode the wire bytes field by field
    (sls_logs.proto:8-33) and check every Log/Content/Tag survives
    with content ORDER preserved (LogEvent.h:120-124)."""
    from datetime import datetime

    from loongcollector_spark.sources.sls_pb import (
        decode_loggroup,
        serialize_sls_loggroups,
    )

    rows = [
        (datetime(2024, 1, 1, 0, 0, 5), "assistant", "hello", "s1"),
        (datetime(2024, 1, 1, 0, 0, 6), "user", None, "s1"),
        (datetime(2024, 1, 1, 0, 0, 7), "tool", "t", "s2"),
    ]
    df = spark.createDataFrame(rows, ["ts", "role", "text", "sink"]).coalesce(1)
    out = serialize_sls_loggroups(
        df,
        time_key="ts",
        topic_key="sink",
        category="logstore-a",
        source="10.0.0.1",
        log_tags={"__pack_id__": "p-1"},
    ).collect()
    by_topic = {r.topic: r for r in out}
    assert set(by_topic) == {"s1", "s2"}
    g1 = decode_loggroup(bytes(by_topic["s1"].value))
    assert g1["category"] == "logstore-a"
    assert g1["topic"] == "s1"
    assert g1["source"] == "10.0.0.1"
    assert g1["log_tags"] == [("__pack_id__", "p-1")]
    assert len(g1["logs"]) == 2 == by_topic["s1"].n_logs
    first, second = g1["logs"]
    assert first["time"] == int(datetime(2024, 1, 1, 0, 0, 5).timestamp())
    # content order = column order; NULL renders ''
    assert first["contents"] == [("role", "assistant"), ("text", "hello")]
    assert second["contents"] == [("role", "user"), ("text", "")]
    g2 = decode_loggroup(bytes(by_topic["s2"].value))
    assert [lg["contents"] for lg in g2["logs"]] == [[("role", "tool"), ("text", "t")]]


def test_sls_loggroup_known_bytes():
    """Pin the exact wire bytes of a minimal LogGroup against the
    protobuf encoding spec, computed by hand: field 1 (Logs, wt 2),
    Log{Time=1 varint; Contents=2}. Independent of the decoder."""
    from loongcollector_spark.sources.sls_pb import encode_log, encode_loggroup

    log = encode_log(5, [("k", "v")])
    # Log: tag(1,0)=0x08 time=5 | tag(2,2)=0x12 len=6
    #   Content: tag(1,2)=0x0a len=1 'k' | tag(2,2)=0x12 len=1 'v'
    assert log == bytes.fromhex("0805") + bytes.fromhex("1206") + \
        bytes.fromhex("0a016b") + bytes.fromhex("120176")
    assert len(log) == 10
    group = encode_loggroup([log], topic="t")
    # LogGroup: tag(1,2)=0x0a len=10 <log> | tag(3,2)=0x1a len=1 't'
    assert group == bytes.fromhex("0a0a") + log + bytes.fromhex("1a0174")


def test_sls_loggroup_rotation(spark):
    """max_log_count caps logs per group (aggregator_base MaxLogCount
    rotation)."""
    from loongcollector_spark.sources.sls_pb import serialize_sls_loggroups

    df = spark.range(0, 10).selectExpr("cast(id as string) AS msg").coalesce(1)
    out = serialize_sls_loggroups(df, max_log_count=4).collect()
    assert sorted(r.n_logs for r in out) == [2, 4, 4]


def test_fanout_write_sls_wire_layout(spark, tmp_path):
    """The flusher table's sls write fans routed rows out as per-sink
    LogGroup wire blobs in one pass, into one unpartitioned payload
    table; read-back decodes every row with the sink as topic. The
    write spreads rows over every task, so one sink may span several
    LogGroups. (The LogGroup category field is pinned by
    test_sls_loggroup_roundtrip.)"""
    from loongcollector_spark.sources.sinks import FLUSHERS
    from loongcollector_spark.sources.sls_pb import decode_loggroup

    df = spark.createDataFrame(
        [("hello", "s1"), ("there", "s1"), ("bye", "s2")], ["text", "sink"]
    ).coalesce(1)
    base = str(tmp_path / "sls")
    FLUSHERS["sls"].write(df, base, "job")
    back = spark.read.parquet(base)
    groups = [decode_loggroup(bytes(r.value)) for r in back.collect()]
    by_topic: dict = {}
    for g in groups:
        by_topic.setdefault(g["topic"], []).extend(
            c for lg in g["logs"] for c in lg["contents"]
        )
    assert set(by_topic) == {"s1", "s2"}
    assert sorted(by_topic["s1"]) == [("text", "hello"), ("text", "there")]
    assert by_topic["s2"] == [("text", "bye")]


def test_spl_processor_in_pipeline_spec(spark):
    """processor_spl analog: a config-driven SPL script over the
    in-flight frame (ProcessorSPL.h:26-48), compiled by spl.py."""
    from loongcollector_spark.pipeline import Pipeline

    spec = {
        "processors": [
            {"type": "add_fields", "fields": {"env": "prod"}},
            {
                "type": "spl",
                "script": "* | where role <> 'alien' "
                          "| extend role_uc = upper(role) "
                          "| project role_uc, env",
            },
        ]
    }
    df = spark.createDataFrame([("user",), ("alien",)], ["role"])
    out = Pipeline(spec).run(df).collect()
    assert [(r.role_uc, r.env) for r in out] == [("USER", "prod")]
