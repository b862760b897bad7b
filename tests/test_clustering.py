"""k-means clustering + cluster-balanced sampling: Lloyd semantics
(empty-cluster retention, tie-breaks, quantization), partition
invariance, and the WindowGroupLimit plan pin for the sampler. The
registry oracles (kmeans_embeddings, cluster_sample, cluster_mixture)
check the values against DuckDB's unrolled-Lloyd twin."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.clustering import (
    cluster_balanced_sample,
    kmeans_assign,
    kmeans_clusters,
    kmeans_fit,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_lloyd_empty_cluster_and_tiebreak(spark):
    # ids 0,1 coincide -> init c0=c1=[0]; every tie assigns to the
    # LOWEST centroid id, so c1 empties in iter 1 and must keep its
    # old coordinates (not NaN), then wins points back in iter 2.
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [0.0]), (2, [5.0])], "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(df, k=2, iters=2)
    assert cents == [[5.0], [0.0]]
    a = kmeans_assign(df, cents).orderBy("vec_id").collect()
    assert [r.cluster for r in a] == [1, 1, 0]
    assert [r.dist for r in a] == [0.0, 0.0, 0.0]


def test_fit_requires_k_rows(spark):
    df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="need >= 3"):
        kmeans_fit(df, k=3)


def test_assignment_partition_invariance(spark, sf_dir):
    # same clusters whether the corpus arrives in 1 partition or 13
    emb = _emb(spark, sf_dir)
    cents = kmeans_fit(emb, k=4, iters=1)
    one = sorted(map(tuple, kmeans_assign(emb.coalesce(1), cents).collect()))
    many = sorted(map(tuple, kmeans_assign(emb.repartition(13), cents).collect()))
    assert one == many


def test_cluster_rollup_covers_corpus(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = kmeans_fit(emb, k=8, iters=2)
    roll = kmeans_clusters(kmeans_assign(emb, cents)).collect()
    assert sum(r.n_vecs for r in roll) == emb.count()
    assert all(r.inertia >= 0.0 for r in roll)


def test_sampler_plan_is_window_group_limit(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = kmeans_fit(emb, k=8, iters=1)
    samp = cluster_balanced_sample(kmeans_assign(emb, cents), per_cluster=5)
    plan = samp._jdf.queryExecution().executedPlan().toString()
    # WindowGroupLimit = local per-task top-m before the one shuffle
    assert "WindowGroupLimit" in plan
    rows = samp.groupBy("cluster").count().collect()
    assert all(r["count"] <= 5 for r in rows)


def test_numpy_fit_collects_only_cells(spark, sf_dir):
    # the update aggregates (cluster, pos) partials; verify the
    # collected centroid table is exactly k x dim quantized
    emb = _emb(spark, sf_dir)
    cents = kmeans_fit(emb, k=3, iters=1)
    dim = emb.select(F.size("embedding").alias("d")).first().d
    assert len(cents) == 3
    assert all(len(c) == dim for c in cents)
    assert all(abs(x - round(x, 6)) < 1e-12 for c in cents for x in c)


def test_mixture_shares_sum_to_one(spark, sf_dir):
    from loongcollector_spark.queries import QUERIES

    per = QUERIES["cluster_mixture"](spark, sf_dir)
    sums = per.groupBy("cluster").agg(F.round(F.sum("share"), 4).alias("s"))
    assert all(abs(r.s - 1.0) < 1e-3 for r in sums.collect())
    n_total = per.agg(F.sum("n").alias("t")).first().t
    assert n_total == 500
