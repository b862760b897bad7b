"""Distributed k-means over embedding columns + cluster-balanced
sampling — the clustering step of modern curation pipelines (SemDeDup /
cluster-balanced data selection): fit centroids with Lloyd iterations,
assign every vector, then keep the most-central examples per cluster so
a sampled corpus preserves the full topic mixture instead of being
dominated by the head clusters.

The reference collects and ships the raw event/turn stream
(plugins/flusher/* fan-out, e.g. flusher_sls.go); organizing the
shipped corpus by embedding clusters is the downstream-curation
counterpart this module adds on the Spark side.

Determinism & oracle parity: everything that feeds a comparison is
quantized — centroid coordinates and distances round to 6 dp at every
step, so the DuckDB twin (which unrolls the Lloyd iterations in SQL and
sums in a different order, differing in the last ulp) lands on
identical values, and argmin ties break on the lowest centroid id.
Initial centroids are the vectors of the *k* smallest ids (a pure
function of the data, never rand()).

Scale design:
* Centroids are tiny (k × dim doubles) — they ride in the task closure;
  the corpus never shuffles to be assigned.
* Assignment is Arrow-batched ``mapInPandas``: one (batch × k) NumPy
  distance matrix per batch, no per-element SQL lambdas.
* The per-iteration centroid update is ``posexplode → groupBy
  (cluster, pos) avg`` — map-side partial aggregation means the
  shuffle carries ``k × dim × partitions`` partial rows, never the
  vectors; the driver collects exactly ``k × dim`` averaged cells per
  round (the bounded-collect discipline, same as similarity.py's
  capped sites).
* ``cluster_balanced_sample`` is a per-cluster top-m — Spark compiles
  the row_number filter to WindowGroupLimit (local partial top-m
  before the shuffle), so the sample never materializes a full sort.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import quote

__all__ = [
    "kmeans_fit",
    "kmeans_assign",
    "kmeans_clusters",
    "cluster_balanced_sample",
    "embedding_outliers",
]

_DEC = 6  # quantization decimals for centroid coords and distances


def _assign_numpy(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_cols: list[str],
) -> DataFrame:
    """Nearest-centroid assignment, Arrow-batched: one (batch × k)
    distance matrix per Arrow batch, float64 end-to-end, distances
    rounded to 6 dp before the argmin (``argmin`` returns the FIRST
    minimum, so ties go to the lowest centroid id).  Adds ``cluster``
    and ``dist``; *out_cols* may include *vec_col* itself (the fit loop
    re-explodes the vector after assignment)."""
    import numpy as np

    keep = [c for c in out_cols if c not in ("cluster", "dist")]

    def _typ(c: str) -> str:
        if c == "cluster":
            return "bigint"
        if c == "dist":
            return "double"
        return df.schema[c].dataType.simpleString()

    schema = ", ".join(f"{quote(c)} {_typ(c)}" for c in out_cols)
    C = np.asarray(centroids, dtype=np.float64)  # noqa: N806 (k × dim)

    def assign(batches: Iterator) -> Iterator:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(  # noqa: N806
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # ||x-c||² per pair, quantized like every compared value
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            d2 = np.round(d2, _DEC)
            cl = d2.argmin(axis=1)  # argmin returns FIRST min = lowest j
            out = pdf[keep].copy()
            out["cluster"] = cl.astype("int64")
            out["dist"] = d2[np.arange(len(cl)), cl]
            yield out[out_cols]

    return df.mapInPandas(assign, schema=schema)


def kmeans_fit(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Lloyd k-means fit; returns the final centroids (k × dim floats,
    6-dp quantized). Init = vectors of the *k* smallest *id_col*
    values; an emptied cluster keeps its previous centroid. Each
    iteration runs one assignment pass + one (cluster, pos) average;
    only k × dim cells are ever collected."""
    if k < 1 or iters < 0:
        raise ValueError("kmeans_fit: k >= 1 and iters >= 0 required")
    dfd = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    init = (
        dfd.select(
            "__id",
            F.transform("__v", lambda x: F.round(x, _DEC)).alias("__v"),
        )
        .orderBy("__id")
        .limit(k)
        .collect()
    )
    if len(init) < k:
        raise ValueError(f"kmeans_fit: need >= {k} rows, got {len(init)}")
    cents = [list(r["__v"]) for r in init]
    for _ in range(iters):
        exploded = _assign_numpy(
            dfd, "__v", cents, ["__v", "cluster", "dist"]
        ).select("cluster", F.posexplode("__v").alias("pos", "val"))
        cells = (
            exploded.groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), _DEC).alias("cval"))
            .collect()
        )
        new = {}
        for r in cells:
            new.setdefault(int(r.cluster), {})[int(r.pos)] = float(r.cval)
        cents = [
            [new[j][p] for p in range(len(cents[j]))] if j in new else cents[j]
            for j in range(k)
        ]
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every row to its nearest centroid: replaces *vec_col*
    with ``cluster`` (bigint, lowest-id tie-break) and ``dist`` (6-dp
    squared L2). Vectors must be non-NULL and *centroids*-dimensional.
    The centroids ride in the task closure; the corpus never
    shuffles."""
    out_cols = [c for c in df.columns if c != vec_col] + ["cluster", "dist"]
    return _assign_numpy(df, vec_col, centroids, out_cols)


def kmeans_clusters(
    assigned: DataFrame,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster rollup of an assignment: size, 4-dp inertia
    (quantized so cross-engine sum order cannot flip the hash), and
    the smallest member id as the deterministic representative."""
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sum("dist"), 4).alias("inertia"),
        F.min(id_col).alias("min_vec_id"),
    )


def cluster_balanced_sample(
    assigned: DataFrame,
    *,
    per_cluster: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Keep the *per_cluster* most-central rows of every cluster
    (dist ASC, id ASC tie-break) — cluster-balanced selection, the
    anti-head-domination sampling step. row_number + filter compiles
    to WindowGroupLimit: each task keeps a local top-m per cluster
    before the single shuffle on ``cluster``."""
    w = Window.partitionBy("cluster").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= per_cluster)
        .drop("__rk")
    )


def embedding_outliers(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: Sequence[str] = ("label",),
    top_n: int = 20,
) -> DataFrame:
    """Global-centroid outlier report — embedding-space QA: the rows
    farthest from the corpus centroid are the mislabeled / off-domain
    / corrupted-encoder suspects a curation pass reviews first (the
    single-cluster degenerate case of SemDeDup-style organization;
    complements :func:`kmeans_clusters`, which profiles structure,
    by profiling the EXTREMES).

    The centroid is the per-dimension mean, 6-dp quantized (the
    module's cross-engine determinism discipline); each row's ``dist``
    is the 6-dp squared L2 to it, computed as a sequential zip_with
    fold against the centroid PLAN LITERALS. Returns the *top_n*
    most-distant rows ``(id_col, *extra_cols, dist)``, ordered by
    (dist DESC, id ASC) so the cut is deterministic under ties.

    Scale shape: the centroid pass is ``posexplode → groupBy(pos)
    avg`` — map-side partials mean the shuffle carries dim ×
    partitions cells and the driver collects exactly dim averaged
    values (the bounded-collect discipline). The ranking is
    ``orderBy(...).limit(top_n)`` — Spark plans TakeOrderedAndProject
    (per-partition partial top-k, no global sort, no single-partition
    window). The corpus itself never shuffles.
    """
    if top_n < 1:
        raise ValueError("embedding_outliers: top_n >= 1 required")
    dfd = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    cells = (
        dfd.select(F.posexplode("__v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.round(F.avg("val"), _DEC).alias("m"))
        .collect()
    )
    by_pos = {int(r.pos): float(r.m) for r in cells}
    centroid = F.array(*[F.lit(by_pos[p]) for p in sorted(by_pos)])
    sq = F.zip_with("__v", centroid, lambda x, c: (x - c) * (x - c))
    dist = F.round(
        F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), _DEC
    )
    return (
        dfd.select(
            F.col(id_col), *[F.col(c) for c in extra_cols], dist.alias("dist")
        )
        .orderBy(F.col("dist").desc(), F.col(id_col).asc())
        .limit(top_n)
    )
