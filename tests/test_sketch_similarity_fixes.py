"""Round-5 session-5 sketch/similarity/join review fixes: canonical
tie-breaking in the brute-force ANN baseline, LSH configuration
guards, HLL empty-input estimate, NULL-safe sampler keys, sampler
domain separation, and numeric-axis as-of tolerance."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.sketch import (
    hll_distinct,
    score_sample,
    split_assign,
    uniform_sample,
)


def test_brute_force_topk_ties_canonical_across_partitions(spark):
    """>k+1 identical embeddings: the returned top-k must be the
    smallest neighbor ids (the documented canonical tie-break),
    independent of Arrow batch/partition boundaries."""
    from loongcollector_spark.operators.similarity import brute_force_topk

    from similarity_reference import sql_brute_force_topk

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).repartition(8)
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    out = brute_force_topk(vecs, qs, k=5).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [0, 1, 2, 3, 4]
    # and agrees with the test-local pure-SQL reference
    sql = sql_brute_force_topk(vecs, qs, k=5).orderBy("rank").collect()
    assert [r.neighbor_id for r in sql] == [0, 1, 2, 3, 4]


def test_minhash_bands_must_divide_num_perm(spark, sf_dir):
    from loongcollector_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="must divide"):
        minhash_dedup_pairs(docs, num_perm=8, bands=16)


def test_lsh_ann_tables_must_divide_planes(spark, sf_dir):
    from loongcollector_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="must divide"):
        lsh_ann_topk(emb, emb.limit(1), n_planes=4, n_tables=8)


def test_hll_empty_and_all_null_estimate_zero(spark):
    for rows in ([], [(None,)]):
        df = spark.createDataFrame(rows, "x string")
        for mode in ("md5", "xxhash64"):
            r = hll_distinct(df, "x", hash_mode=mode).collect()[0]
            assert r.n_est == 0.0 and r.n_registers_used == 0, (rows, mode)


def test_sampler_null_ids_deterministic_and_mode_consistent(spark):
    df = spark.createDataFrame(
        [(None, "a"), (1, "b"), (2, "c"), (3, "d")], "doc_id bigint, t string"
    )
    # both hash modes agree on WHICH split a NULL-id row lands in
    splits = {"train": 0.5, "test": 0.5}
    by_mode = {}
    for mode in ("md5", "xxhash64"):
        got = {
            r.t: r.split
            for r in split_assign(df, splits, hash_mode=mode).collect()
        }
        by_mode[mode] = got["a"]
        assert set(got.values()) <= {"train", "test"}
    # NULL id hashes the same '' key in both modes → same bucket class
    # is not guaranteed numerically equal across kernels, but each mode
    # is deterministic; uniform_sample must not ALWAYS pick NULL first
    sampled = {
        tuple(
            r.t
            for r in uniform_sample(
                df, 2, salt=s, hash_mode="md5"
            ).collect()
        )
        for s in ("s1", "s2", "s3", "s4", "s5", "s6")
    }
    assert len(sampled) > 1  # selection varies with salt even with a NULL id


@pytest.mark.parametrize("name", ["split_assign", "score_sample"])
def test_sampler_oracles_hash_null_ids_as_empty(spark, sf_dir, tmp_path, name):
    """The registry oracles follow the samplers' NULL contract: a NULL
    doc_id hashes as '' (sketch._sample_key), so DuckDB's md5 of it
    must coalesce too — a bare md5(NULL) put the row in 'val' and
    dropped it from the score sample."""
    import duckdb
    from oracle_check import assert_matches_oracle

    src = f"{sf_dir}/documents.parquet"
    # 20 fixture rows + one NULL-id row with n_chars = 6 (score 6/7)
    with duckdb.connect() as con:
        con.execute(
            f"""COPY (
                  (SELECT * FROM '{src}' ORDER BY doc_id LIMIT 20)
                  UNION ALL
                  (SELECT NULL::BIGINT, text, lang, source, 6::BIGINT
                   FROM '{src}' ORDER BY doc_id LIMIT 1)
                ) TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"""
        )
    got = assert_matches_oracle(spark, str(tmp_path), name)
    assert any(r.doc_id is None for r in got)  # the NULL-id row is sampled


def test_score_sample_split_assign_defaults_decorrelated(spark):
    """Composing the samplers with DEFAULT salts must not annihilate
    whole splits: with uniform score 0.5 every split keeps a nonzero
    share (under a shared salt the kept set would be exactly the low
    hash buckets = entire splits)."""
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), F.lit(0.5).alias("score")
    )
    assigned = split_assign(
        df, {"a": 0.25, "b": 0.25, "c": 0.25, "d": 0.25}
    )
    kept = score_sample(assigned, "score")
    per = {r.split: r.n for r in kept.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(per) == {"a", "b", "c", "d"}
    for name, n in per.items():
        assert 300 < n < 700, (name, n)  # ~500 each, not 0 or 1000


def test_asof_tolerance_on_numeric_axis(spark):
    from loongcollector_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 1_000_000), (1, 9_000_000)], "user_id long, ts_us long"
    )
    right = spark.createDataFrame(
        [(1, 500_000, "x")], "user_id long, ts_us long, v string"
    )
    out = {
        r.ts_us: r.v_right
        for r in asof_join(
            left, right, on="ts_us", tolerance_us=1_000_000
        ).collect()
    }
    # 1.0s row is 0.5s after the right row → within tolerance;
    # 9.0s row is 8.5s after → voided
    assert out == {1_000_000: "x", 9_000_000: None}
