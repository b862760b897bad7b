"""Unit tests for LM sequence packing (operators/packing.py) and its
block-decomposed prefix sum."""

import pytest
from pyspark.sql import functions as F

from pyspark.sql import Window as W

from loongcollector_spark.operators.packing import (
    EOS_TOKEN,
    _global_offsets,
    monotone_block_id,
    pack_sequences,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_basic_chunking(spark):
    # 3 docs x 4 tokens each (3 words + <eos>) = 12 tokens; L=5 -> 5,5,2
    df = _mk(spark, [(i, "a b c") for i in range(3)])
    out = pack_sequences(df, seq_len=5).orderBy("seq_id").collect()
    assert [(r.seq_id, r.n_tokens) for r in out] == [(0, 5), (1, 5), (2, 2)]
    # seq 0 = doc0 fully + doc1's first token -> spans 2 docs
    assert out[0].n_docs == 2 and out[0].first_doc == 0
    assert out[2].n_docs == 1 and out[2].first_doc == 2


def test_pack_parallelism_invariant(spark):
    df = _mk(
        spark,
        [(i, f"tok{i} " * (1 + i % 7)) for i in range(200)],
    )
    a = sorted(map(tuple, pack_sequences(df, seq_len=64, parts=2).collect()))
    b = sorted(map(tuple, pack_sequences(df, seq_len=64, parts=32).collect()))
    assert a == b


def test_pack_single_sequence_when_short(spark):
    df = _mk(spark, [(1, "hello world")])
    out = pack_sequences(df, seq_len=512).collect()
    assert len(out) == 1
    assert out[0].n_tokens == 3  # hello, world, <eos>


def test_pack_empty_and_null_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "doc_id long, text string"
    )
    out = pack_sequences(df, seq_len=10).collect()
    # empty/null docs contribute exactly their EOS token
    assert out[0].n_tokens == 4  # <eos>, <eos>, x, <eos>
    assert out[0].n_docs == 3


def test_pack_fingerprint_tracks_token_order(spark):
    df1 = _mk(spark, [(1, "a b"), (2, "c d")])
    df2 = _mk(spark, [(1, "c d"), (2, "a b")])
    fp1 = pack_sequences(df1, seq_len=100).collect()[0].fp
    fp2 = pack_sequences(df2, seq_len=100).collect()[0].fp
    assert fp1 != fp2  # corpus order is part of the contract


def test_pack_rejects_bad_seq_len(spark):
    df = _mk(spark, [(1, "a")])
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(df, seq_len=0)


def test_pack_token_conservation(spark):
    """Every token lands in exactly one sequence: sum over sequences ==
    sum of per-doc token counts."""
    df = _mk(spark, [(i, f"alpha beta {i} !" ) for i in range(50)])
    total_doc = (
        df.select(
            F.sum(
                F.size(
                    F.regexp_extract_all(
                        "text", F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0
                    )
                )
                + 1
            )
        ).first()[0]
    )
    total_seq = (
        pack_sequences(df, seq_len=7).select(F.sum("n_tokens")).first()[0]
    )
    assert total_seq == total_doc
    assert EOS_TOKEN == "<eos>"


def test_pack_plan_shape(spark, sf_dir_med):
    """Scale pin: the single-partition exchange exists ONLY for the
    N_partitions-row prefix table, and token fragments shuffle once —
    on seq_id (the assembly groupBy)."""
    docs = spark.read.parquet(f"{sf_dir_med}/documents.parquet")
    plan = (
        pack_sequences(docs, seq_len=512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(seq_id" in plan


# --------------------------------------------- deterministic block ids


def test_block_ids_consistent_across_plan_subtrees(spark):
    """Regression: the spark_partition_id()-over-repartitionByRange
    block scheme corrupted prefix sums whenever the blocked frame fed
    two plan subtrees (Spark's range sampler is seeded by RDD id, so
    each execution of the exchange drew different boundaries). The
    offsets here read the block id twice — the per-block window and
    the per-block totals — over a broadcast join, the shape of the
    original repro; they must equal a single-window prefix sum exactly,
    run after run."""
    e = F.col("id")
    base = spark.range(0, 50_000, 1, 16).select(
        e.alias("doc_id"), ((e * 37) % 1000).alias("n")
    )
    bump = spark.range(0, 1000).select(
        F.col("id").alias("n"), (F.col("id") % 3).alias("bump")
    )
    df = base.join(F.broadcast(bump), "n").select(
        "doc_id", (F.col("n") + F.col("bump")).alias("n")
    )
    want = df.select(
        "doc_id",
        F.coalesce(
            F.sum("n").over(
                W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("g_start"),
    )
    for trial in (1, 2):  # the old bug was also nondeterministic
        got = _global_offsets(df, "n", "doc_id", 16).select("doc_id", "g_start")
        assert got.count() == 50_000, f"trial {trial}"
        assert got.exceptAll(want).count() == 0, f"trial {trial}"


def test_monotone_block_id_contract(spark):
    """monotone_block_id: non-decreasing in the order column, ties
    share a block, NULLs land in block 0, and >1 block is actually
    produced on a spread-out column."""
    df = spark.range(0, 10_000, 1, 8).select(
        (F.col("id") % 500).alias("v")  # heavy ties
    ).unionByName(
        spark.range(0, 1).select(F.lit(None).cast("long").alias("v"))
    )
    out = df.withColumn("b", monotone_block_id(df, "v", 8)).collect()
    by_v = {}
    for r in out:
        if r["v"] is None:
            assert r["b"] == 0
            continue
        by_v.setdefault(r["v"], set()).add(r["b"])
    assert all(len(s) == 1 for s in by_v.values())  # ties share a block
    ordered = [next(iter(by_v[v])) for v in sorted(by_v)]
    assert ordered == sorted(ordered)  # monotone
    assert len(set(ordered)) > 1  # actually parallel
