"""The NumPy batch kernel of brute-force top-k must agree exactly with
the test-local SQL reference (same neighbors, same ranks), and the ANN
ladder is recall-checked against it."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import similarity

from similarity_reference import sql_brute_force_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_numpy_and_sql_impls_agree(spark, emb):
    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    a = similarity.brute_force_topk(emb, queries, k=5)
    b = sql_brute_force_topk(emb, queries, k=5)
    ra = sorted((r.query_id, r.rank, r.neighbor_id) for r in a.collect())
    rb = sorted((r.query_id, r.rank, r.neighbor_id) for r in b.collect())
    assert ra == rb
    assert len(ra) == 20


def test_ivf_ann_recall(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=5)
    ivf = similarity.ivf_ann_topk(emb, queries, k=5, n_cells=8, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # ranks well-formed
    by_q = {}
    for r in ivf.collect():
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_numpy_impl_many_partitions(spark, emb):
    # per-batch top-k union must still contain the global top-k when
    # the corpus is split across many small partitions
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    spread = emb.repartition(16)
    a = similarity.brute_force_topk(spread, queries, k=7)
    b = sql_brute_force_topk(emb, queries, k=7)
    assert sorted(map(tuple, a.select("query_id", "rank", "neighbor_id").collect())) == \
        sorted(map(tuple, b.select("query_id", "rank", "neighbor_id").collect()))


def test_query_collect_guard_raises_on_oversized_query_side(
    spark, emb, monkeypatch
):
    """Both driver-side query collects (brute-force AND IVF) share the
    same hard cap — an oversized query side raises instead of OOMing
    the driver (VERDICT r2 item 3)."""
    monkeypatch.setattr(similarity, "_MAX_DRIVER_QUERIES", 3)
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="brute_force_topk query side exceeds"):
        similarity.brute_force_topk(emb, queries, k=2).collect()
    with pytest.raises(ValueError, match="ivf_ann_topk query side exceeds"):
        similarity.ivf_ann_topk(emb, queries, k=2, n_cells=4, n_probe=2).collect()


def test_empty_query_side_returns_empty(spark, emb):
    empty = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert similarity.brute_force_topk(emb, empty, k=3).count() == 0
    assert similarity.ivf_ann_topk(emb, empty, k=3, n_cells=4).count() == 0


# ---------------------------------------------------------------------------
# product quantization (pq_ann_topk)


def test_pq_ann_recall(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=10)
    pq = similarity.pq_ann_topk(emb, queries, k=10, m=8, ksub=32, refine=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in pq.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"PQ recall too low: {recall}"
    # re-ranked cos_sim is exact cosine (JVM HOF) — matches the
    # brute-force NumPy kernel to float-noise tolerance
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cos_sim for r in exact.collect()
    }
    for r in pq.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert r.cos_sim == pytest.approx(exact_scores[key], abs=1e-9)


def test_pq_encode_shapes_and_determinism(spark, emb):
    books = similarity.train_pq_codebooks(emb, m=8, ksub=16, seed=7)
    assert books.shape == (8, 16, 8)  # 64-dim corpus
    again = similarity.train_pq_codebooks(emb, m=8, ksub=16, seed=7)
    assert (books == again).all()
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    assert all(len(r.codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.codes)


def test_pq_train_guards(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.train_pq_codebooks(emb, m=7)
    with pytest.raises(ValueError, match="training rows"):
        similarity.train_pq_codebooks(emb.limit(3), m=8, ksub=16)
    with pytest.raises(ValueError, match="empty training set"):
        similarity.train_pq_codebooks(emb.filter(F.lit(False)), m=8)


def test_pq_query_guard_and_empty(spark, emb, monkeypatch):
    empty = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert similarity.pq_ann_topk(emb, empty, k=3, ksub=16).count() == 0
    monkeypatch.setattr(similarity, "_MAX_DRIVER_QUERIES", 3)
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="pq_ann_topk query side exceeds"):
        similarity.pq_ann_topk(emb, queries, k=2, ksub=16).collect()


# ---------------------------------------------------------------------------
# IVF-PQ composition (coarse cells + residual PQ + ADC)


def test_ivfpq_recall_and_exact_scores(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=10)
    got = similarity.ivfpq_ann_topk(
        emb, queries, k=10, n_cells=16, n_probe=8, m=8, ksub=16, refine=8
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = got.collect()
    a = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF-PQ recall too low: {recall}"
    # returned scores are exact cosine (re-ranked), well-formed ranks
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cos_sim for r in exact.collect()
    }
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert r.cos_sim == pytest.approx(exact_scores[key], abs=1e-9)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_ivfpq_guards(spark, emb, monkeypatch):
    empty = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert similarity.ivfpq_ann_topk(emb, empty, k=3, n_cells=4).count() == 0
    monkeypatch.setattr(similarity, "_MAX_DRIVER_QUERIES", 3)
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="ivfpq_ann_topk query side exceeds"):
        similarity.ivfpq_ann_topk(emb, queries, k=2, n_cells=4).collect()
