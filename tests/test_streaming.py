"""Structured Streaming pipeline tests: the same spec drives batch and
streaming; streaming results must equal the batch run (the reference's
single processor interface shared by both planes)."""

import time

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.sources.transcripts import load_transcripts
from loongcollector_spark.streaming.stream import (
    read_transcript_stream,
    stateful_conv_counter,
    stream_pipeline_to_sinks,
    windowed_sink_counts,
)

SPEC = {
    "processors": [],
    "router": {
        "source_key": "role",
        "rules": [
            {"regex": "assistant", "sink": "sink_assistant"},
            {"regex": "user|system", "sink": "sink_human"},
        ],
        "default_sink": "sink_other",
    },
}


@pytest.fixture()
def tx_path(spark, sf_dir, tmp_path):
    p = str(tmp_path / "tx_in")
    # several files so the stream sees multiple micro-batches
    load_transcripts(spark, sf_dir).repartition(8).write.parquet(p)
    return p


def test_stream_equals_batch(spark, tx_path, tmp_path):
    pipe = Pipeline(SPEC)
    stream = read_transcript_stream(spark, tx_path, max_files_per_trigger=2)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = stream_pipeline_to_sinks(stream, pipe, out, ck)
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out)
        .groupBy("sink")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    batch = (
        pipe.run(spark.read.parquet(tx_path))
        .groupBy("sink")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    assert {(r.sink, r.cnt) for r in got} == {(r.sink, r.cnt) for r in batch}
    # exactly-once on restart: rerunning with same checkpoint adds nothing
    q2 = stream_pipeline_to_sinks(
        read_transcript_stream(spark, tx_path, max_files_per_trigger=2),
        pipe, out, ck,
    )
    q2.awaitTermination(120)
    total = spark.read.parquet(out).count()
    assert total == sum(r.cnt for r in batch)


def test_windowed_counts(spark, tx_path, tmp_path):
    pipe = Pipeline(SPEC)
    stream = read_transcript_stream(spark, tx_path)
    agg = windowed_sink_counts(stream, pipe, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_counts").collect()
    # watermark closes all but the trailing windows; totals must not
    # exceed the batch equivalent and window bounds must be 1h apart
    assert len(rows) > 0
    for r in rows:
        assert (r.end - r.start).total_seconds() == 3600
        assert r.cnt > 0


def test_stateful_rate_limit_token_bucket(spark, tmp_path):
    """Token bucket: burst of 3, refill 1 token/sec; events 0.1s apart
    → first 3 pass, then ~1 per second."""
    from datetime import datetime, timedelta

    from loongcollector_spark.streaming.stream import stateful_rate_limit

    base = datetime(2024, 1, 1)
    rows = [("k", i, base + timedelta(milliseconds=100 * i)) for i in range(50)]
    src = str(tmp_path / "rl_in")
    spark.createDataFrame(rows, ["key", "i", "ts"]).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("key string, i long, ts timestamp")
        .parquet(src)
    )
    limited = stateful_rate_limit(stream, ["key"], rate_per_sec=1.0, burst=3)
    q = (
        limited.writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rl_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r.i for r in spark.sql("select * from rl_out").collect())
    # 50 events over 4.9s: 3 burst + ~4-5 refills
    assert kept[:3] == [0, 1, 2]
    assert 6 <= len(kept) <= 9
    # refilled tokens arrive ~1/sec -> kept indices spaced ~10 apart
    # (first refill gap is 8: 0.2 tokens carried over from the burst)
    gaps = [b - a for a, b in zip(kept[2:], kept[3:])]
    assert all(g >= 8 for g in gaps)
    assert all(g == 10 for g in gaps[1:])


def test_stateful_rate_limit_null_ts_first_event_refills(spark, tmp_path):
    """A key whose first event has a NULL ts must still refill: the
    NULL counts as epoch 0, so later events see elapsed time."""
    from datetime import datetime, timedelta

    from loongcollector_spark.streaming.stream import stateful_rate_limit

    base = datetime(2024, 1, 1)
    rows = [("k", 0, None)] + [
        ("k", i, base + timedelta(seconds=2 * i)) for i in range(1, 6)
    ]
    src = str(tmp_path / "rl_null_in")
    spark.createDataFrame(
        rows, "key string, i long, ts timestamp"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("key string, i long, ts timestamp").parquet(src)
    limited = stateful_rate_limit(stream, ["key"], rate_per_sec=1.0, burst=1)
    q = (
        limited.writeStream.format("memory")
        .queryName("rl_null_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rl_null_ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.i for r in spark.sql("select * from rl_null_out").collect())
    # burst 1 spends on the NULL-ts event; each event 2 s later finds
    # a refilled token
    assert kept == [0, 1, 2, 3, 4, 5]


def test_stateful_conv_counter(spark, tx_path, tmp_path):
    stream = read_transcript_stream(spark, tx_path)
    counted = stateful_conv_counter(stream)
    q = (
        counted.writeStream.format("memory")
        .queryName("conv_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    # a processing-time timeout makes Spark run a no-data batch after
    # every batch, so this availableNow query never terminates and
    # processAllAvailable never returns. availableNow runs every data
    # batch first; the first batch with no input marks the drain.
    try:
        deadline = time.monotonic() + 120
        while (q.lastProgress or {}).get("numInputRows", -1) != 0:
            assert time.monotonic() < deadline, "stream did not drain"
            q.awaitTermination(0.2)  # raises if the query failed
    finally:
        q.stop()
    rows = spark.sql(
        "select conv_id, max(n_turns) as n from conv_counts group by conv_id"
    ).collect()
    want = {
        r.conv_id: r.n
        for r in spark.read.parquet(tx_path)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r.conv_id: r.n for r in rows}
    assert got == want


def test_flagship_spec_stream_equals_batch_rowlevel(spark, tx_path, tmp_path):
    """The FULL flagship pipeline spec (regex parse + broadcast
    dict_map enrich + tag + router fan-out) produces row-identical
    sink outputs under batch and streaming execution — the reference's
    shared processor interface property (pkg/pipeline/processor.go:
    31-39), checked at (conv_id, turn_idx, sink, text, role_class)
    granularity, not just counts."""
    from loongcollector_spark.queries import NGINX_KEYS, NGINX_REGEX, ROLE_DIM

    spec = {
        "processors": [
            {"type": "parse_regex", "source_key": "text",
             "regex": NGINX_REGEX, "keys": NGINX_KEYS},
            {"type": "dict_map", "dim": "role_dim", "source_key": "role",
             "dest_key": "role_class", "handle_missing": True,
             "missing": "Unknown"},
            {"type": "add_tags", "tags": {"pipeline": "equiv-test"}},
        ],
        "router": {
            "source_key": "role",
            "rules": [
                {"regex": "assistant", "sink": "sink_assistant"},
                {"regex": "tool", "sink": "sink_tool"},
                {"regex": "user|system", "sink": "sink_human"},
            ],
            "default_sink": "sink_default",
        },
    }
    dims = {
        "role_dim": spark.createDataFrame(ROLE_DIM, ["role", "role_class", "priority"])
    }
    pipe = Pipeline(spec, dims)

    out = str(tmp_path / "stream_out")
    q = stream_pipeline_to_sinks(
        read_transcript_stream(spark, tx_path, max_files_per_trigger=3),
        pipe,
        out,
        str(tmp_path / "ck2"),
    )
    q.awaitTermination(120)

    cols = ["conv_id", "turn_idx", "sink", "text", "role_class", "status"]
    streamed = {tuple(r) for r in spark.read.parquet(out).select(*cols).collect()}
    batch = {
        tuple(r)
        for r in pipe.run(spark.read.parquet(tx_path)).select(*cols).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_session_window_counts_stream_and_batch_agree(spark, tmp_path):
    """Native session_window streaming sessionize matches the batch
    sessionize session count per key (same 30-min gap semantics)."""
    from datetime import datetime, timedelta

    from loongcollector_spark.operators.aggregate import sessionize
    from loongcollector_spark.streaming.stream import session_window_counts

    base = datetime(2024, 1, 1)
    rows = []
    for conv, bursts in (("c1", [0, 1, 2, 120, 121]), ("c2", [0, 200])):
        for m in bursts:
            rows.append((conv, base + timedelta(minutes=m)))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    p = str(tmp_path / "in")
    df.repartition(2).write.parquet(p)

    schema = spark.read.parquet(p).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(p)
    )
    agg = session_window_counts(stream, ["conv_id"], gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.conv_id, r.n_events)
        for r in spark.sql("SELECT * FROM sess").collect()
    )
    # batch twin: number of distinct sessions per conv
    b = sessionize(df, ["conv_id"], gap_seconds=1800)
    batch_sessions = {
        (r.conv_id, r.n)
        for r in b.groupBy("conv_id", "session_id")
        .count()
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert batch_sessions == {("c1", 2), ("c2", 2)}
    assert got == [("c1", 2), ("c1", 3), ("c2", 1), ("c2", 1)]


def test_stream_dedup_exact_matches_batch_dedup(spark, tmp_path):
    """Streaming watermarked dedup over a duplicated input keeps one
    row per distinct normalized text (all rows inside the horizon),
    matching the batch dedup's distinct set."""
    from datetime import datetime

    from loongcollector_spark.streaming.stream import stream_dedup_exact

    rows = [
        ("a text", datetime(2024, 1, 1, 0, 0, i % 10)) for i in range(5)
    ] + [
        ("b text", datetime(2024, 1, 1, 0, 1, 0)),
        ("A  TEXT ", datetime(2024, 1, 1, 0, 2, 0)),  # normalizes to 'a text'
        ("c", datetime(2024, 1, 1, 0, 3, 0)),
    ]
    src = str(tmp_path / "dd_in")
    spark.createDataFrame(rows, "text string, ts timestamp").repartition(
        3
    ).write.parquet(src)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    out_path = str(tmp_path / "dd_out")
    q = (
        stream_dedup_exact(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.text.strip().lower().replace("  ", " ")
        for r in spark.read.parquet(out_path).collect()
    )
    assert got == ["a text", "b text", "c"]


def test_stream_dedup_exact_accepts_ntz_event_time(spark, tmp_path):
    """Parquet transcript ts reads as TIMESTAMP_NTZ in Spark 4; the
    watermark must ride the internal cast, not reject the source
    (regression: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    from datetime import datetime

    from loongcollector_spark.streaming.stream import stream_dedup_exact

    rows = [("x", datetime(2024, 1, 1)), ("x", datetime(2024, 1, 1))]
    src = str(tmp_path / "ntz_in")
    spark.createDataFrame(rows, "text string, ts timestamp_ntz").write.parquet(src)
    stream = read_transcript_stream(spark, src)
    out = str(tmp_path / "ntz_out")
    q = (
        stream_dedup_exact(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ntz_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 1
    assert back.columns == ["text", "ts"]


def test_stream_sketch_rollup_equals_batch_cms(spark, tx_path, tmp_path):
    """Per-batch CMS partitions summed == one batch CMS over the whole
    input (the merge law end-to-end through foreachBatch), and the
    merged rollup feeds cms_estimate unchanged."""
    from loongcollector_spark.operators.sketch import cms_build, cms_estimate
    from loongcollector_spark.streaming.stream import (
        read_sketch_rollup,
        stream_sketch_rollup,
    )

    stream = read_transcript_stream(spark, tx_path, max_files_per_trigger=2)
    out = str(tmp_path / "sketch")
    q = stream_sketch_rollup(
        stream,
        "role",
        out,
        str(tmp_path / "ckpt"),
        width=64,
        depth=3,
    )
    q.awaitTermination(120)

    merged = read_sketch_rollup(spark, out)
    whole = cms_build(
        spark.read.parquet(tx_path), "role", width=64, depth=3,
        hash_mode="xxhash64",
    )
    assert sorted(map(tuple, merged.select("depth", "bucket", "cnt").collect())) == \
        sorted(map(tuple, whole.collect()))

    probes = spark.createDataFrame([("assistant",), ("tool",)], "role string")
    est = {
        r.item: r.est
        for r in cms_estimate(
            merged, probes, "role", width=64, depth=3, hash_mode="xxhash64"
        ).collect()
    }
    exact = {
        r.role: r.cnt
        for r in spark.read.parquet(tx_path)
        .groupBy("role")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert est["assistant"] >= exact["assistant"]
    assert est["tool"] >= exact["tool"]


def test_stream_loop_alert_parity_and_state_carry(spark, sf_dir, tmp_path):
    """(a) One ordered input consumed by the stream yields exactly the
    batch agent_loops max_run per conversation (the retrospective
    twin); (b) a run SPLIT across two micro-batches is still counted
    whole — the three-long state carries the open run across
    triggers."""
    import os

    from loongcollector_spark.operators.trajectory import agent_loops
    from loongcollector_spark.streaming.stream import (
        read_transcript_stream,
        stream_loop_alert,
    )

    # (a) parity over the sf fixture, single trigger = single batch
    src = str(tmp_path / "ordered")
    tx = load_transcripts(spark, sf_dir)
    tx.orderBy("conv_id", "turn_idx").coalesce(1).write.parquet(src)
    q = (
        stream_loop_alert(read_transcript_stream(spark, src, max_files_per_trigger=64))
        .writeStream.format("memory")
        .queryName("loop_alerts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_loop"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.conv_id: (r.max_run, r.looped)
        for r in spark.sql(
            "select conv_id, max(max_run) as max_run, max(looped) as looped "
            "from loop_alerts group by conv_id"
        ).collect()
    }
    want = {
        r.conv_id: (r.max_run, r.looped)
        for r in agent_loops(tx).select("conv_id", "max_run", "looped").collect()
    }
    assert got == want

    # (b) cross-batch state: a 4-step run split 2+2 over two files
    rows1 = [("cx", 0, "a", "retry 1", "t"), ("cx", 1, "a", "retry 2", "t")]
    rows2 = [("cx", 2, "a", "retry 3", "t"), ("cx", 3, "a", "retry 4", "t")]
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    src2 = str(tmp_path / "split")
    spark.createDataFrame(rows1, schema).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).coalesce(1).write.parquet(src2)
    first = {f for f in os.listdir(src2) if f.endswith(".parquet")}
    spark.createDataFrame(rows2, schema).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:01"))
    ).coalesce(1).write.mode("append").parquet(src2)
    second = {
        f for f in os.listdir(src2) if f.endswith(".parquet")
    } - first
    # force deterministic WRITE-ORDER processing for
    # maxFilesPerTrigger=1 (the file source orders by modification
    # time): stamp the rows1 file older than the rows2 file — part
    # file NAMES are random uuids, so sorting them would not do it
    for i, f in enumerate(sorted(first) + sorted(second)):
        os.utime(os.path.join(src2, f), (1700000000 + i, 1700000000 + i))
    q2 = (
        stream_loop_alert(read_transcript_stream(spark, src2, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("loop_split")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_split"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    row = spark.sql(
        "select max(max_run) as m, max(ooo_regressions) as o from loop_split"
    ).collect()[0]
    assert row.m == 4  # the open run survived the batch boundary
    assert row.o == 0  # ordered arrival -> no regression flagged


def test_write_batches_replayed_batch_id_keeps_one_copy(spark, tx_path, tmp_path):
    """The streaming plane's one foreachBatch writer: a batch id
    written twice (the same input under a fresh checkpoint, so the id
    restarts at 0, as a replay after a failed commit does) replaces
    its first output — one copy, not two."""
    from loongcollector_spark.streaming.stream import _write_batches

    out = str(tmp_path / "out")
    for ck in ("ck_a", "ck_b"):
        q = _write_batches(
            read_transcript_stream(spark, tx_path, max_files_per_trigger=64),
            lambda batch_df: batch_df.select("conv_id", "turn_idx"),
            out,
            str(tmp_path / ck),
        )
        q.awaitTermination(120)
        q.stop()
    back = spark.read.parquet(out)
    assert [r["__batch_id"] for r in back.select("__batch_id").distinct().collect()] == [0]
    assert back.count() == spark.read.parquet(tx_path).count()
