"""Similarity search over embedding columns (array<float>).

Training-data-pipeline addition (not in the reference — SURVEY.md
§2.11): approximate nearest neighbor over the ``embeddings`` table
(vec_id:bigint, embedding:array<float>, label:int).

The ladder, cheapest-exact to biggest-scale:
* brute-force cosine top-k — the correctness baseline (NumPy batch
  kernel per Arrow batch + tiny global re-rank).
* LSH-bucketed ANN — candidates = same hyperplane bucket in ≥1 table;
  the bucket join shuffles candidates, never the cross product.
* IVF — k-means inverted lists, each query probes n_probe cells.
* PQ/ADC — corpus compressed to m codes/vector; scoring is m table
  lookups; exact cosine re-rank on k·refine broadcast candidates.
* IVF-PQ (IVFADC) — both: probe n_probe cells, ADC over residual
  codes inside them; the 10^9-vector shape (n_probe/n_cells of the
  corpus × m bytes per vector per query).
* embedding-cosine near-dup + SemDeDup semantic dedup — thresholded
  self-joins bucketed by signature / cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = [
    "cosine",
    "brute_force_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "ivfpq_ann_topk",
    "pq_ann_topk",
    "pq_encode",
    "train_pq_codebooks",
    "embedding_near_dups",
    "semantic_dedup",
]


_MAX_DRIVER_QUERIES = 100_000


def _collect_queries(
    queries: DataFrame, query_id_col: str, vec_col: str, caller: str
) -> list:
    """Collect the query side driver-side under a hard cap.

    The query side is closed over by every task — sized for "a batch
    of queries", not a second corpus. A mis-aimed call degrades into a
    clear error instead of a driver OOM; larger query sets should go
    through the LSH path or a chunked loop."""
    rows = (
        queries.select(query_id_col, vec_col)
        .limit(_MAX_DRIVER_QUERIES + 1)
        .collect()
    )
    if len(rows) > _MAX_DRIVER_QUERIES:
        raise ValueError(
            f"{caller} query side exceeds {_MAX_DRIVER_QUERIES} rows; "
            "collecting it driver-side would not scale — chunk the "
            "queries or use lsh_ann_topk"
        )
    return rows


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a, b):
    """Cosine similarity between two array<float/double> columns.

    NOTE: array lambdas run interpreted (no whole-stage codegen) —
    fine for bucketed candidate pairs and verification joins, NOT for
    scoring the full corpus; use the NumPy batch kernel
    (:func:`brute_force_topk`) for corpus-wide scans.

    Zero-norm vectors score 0.0 (NaN would sort ABOVE every real
    similarity under desc ordering and hijack the top-1 slot)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom != 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine, excluding the query's
    own id; returns ``(query_id_col, neighbor_id, rank, cos_sim)``.

    The query side is collected under a hard cap and shipped to every
    partition inside a ``mapInPandas`` closure; each Arrow batch scores
    ``batch × queries`` with one BLAS matmul and emits only its local
    top-k per query, then a tiny global window re-ranks (global top-k ⊆
    union of per-batch top-ks). Arrow moves ~k·n_queries rows per
    batch, never the cross product. Zero vectors score 0.0, as in
    :func:`cosine`; ties break on the smaller neighbor id, so the
    result does not depend on batch boundaries.
    """
    import numpy as np
    import pandas as pd

    q_rows = _collect_queries(queries, query_id_col, vec_col, "brute_force_topk")
    if not q_rows:
        # np.linalg.norm on a (0,) array would raise; the empty
        # query set has a well-defined empty answer
        return vectors.sparkSession.createDataFrame(
            [],
            f"{query_id_col} long, neighbor_id long, rank int, cos_sim double",
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)
    kk = k + 1  # neighbor may equal the query id; filter later

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            # zero vectors → 0 similarity, matching cosine()'s guard
            Vn = V / np.where(norms == 0, 1.0, norms)
            sims = Vn @ Qn.T  # (batch, n_queries)
            ids = pdf[id_col].to_numpy()
            take = min(kk, len(ids))
            out = []
            for j, qid in enumerate(q_ids):
                s = sims[:, j]
                # canonical per-batch top-k: argpartition by sim
                # alone keeps an ARBITRARY take of boundary ties,
                # so a tied smallest-id neighbor could be dropped
                # before the global window ever ranks it (result
                # then depends on batch boundaries). lexsort by
                # (-sim, id) — primary key last — makes the local
                # selection the canonical prefix, and the merge of
                # canonical prefixes is the canonical global top-k.
                part = np.lexsort((ids, -s))[:take]
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            "neighbor_id": ids[part],
                            "cos_sim": s[part],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = vectors.select(id_col, vec_col).mapInPandas(
        score,
        schema=f"{query_id_col} long, neighbor_id long, cos_sim double",
    ).filter(F.col("neighbor_id") != F.col(query_id_col))
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos_sim")
    )


def _plane_literals(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic hyperplanes generated ONCE on the driver (seeded
    PRNG, no data dependence) and embedded as literals — regenerating
    them per row via interpreted hash expressions cost n_planes×dim
    evaluations per row for a constant matrix."""
    import random

    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _embedding_dim(df: DataFrame, vec_col: str) -> int:
    """Array length from one row (array schemas carry no length); one
    tiny driver job at plan time."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(f"cannot infer embedding dim from empty {vec_col}")
    return len(row[0])


def _hyperplane_signature(vec_col, planes: list[list[float]]):
    """Random-hyperplane LSH signature: sign of dot with each literal
    plane. The planes array is a Catalyst literal — constant-folded,
    not recomputed per row; the dot itself runs per plane.

    Vectors shorter than the plane dim zip to nulls → null sign →
    caller-visible failure rather than silent single-bucket collapse.
    """
    plane_arr = F.array(
        *[F.array(*[F.lit(v) for v in pl]) for pl in planes]
    )
    return F.transform(
        plane_arr, lambda pl: (_dot(vec_col, pl) > 0).cast("int")
    )


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    dim: int | None = None,
    n_tables: int = 4,
) -> DataFrame:
    """ANN: hyperplane-LSH bucketing + exact re-rank inside buckets.

    Each row gets ``n_tables`` bucket keys (disjoint plane slices of
    one signature); candidates are rows sharing ≥1 bucket with a
    query. Recall < 1 by construction — the scale path; use
    brute_force_topk as the exactness baseline.
    """
    if n_tables < 1 or n_planes % n_tables != 0:
        # n_tables > n_planes would give zero-plane tables: every row
        # and query lands in the '' bucket of every table — a silent
        # full cross product; non-divisible n_planes silently discards
        # planes. Fail loudly instead.
        raise ValueError(
            f"lsh_ann_topk: n_tables ({n_tables}) must divide "
            f"n_planes ({n_planes})"
        )
    per_table = n_planes // n_tables
    if dim is None:
        dim = _embedding_dim(vectors, vec_col)
    sig = _hyperplane_signature(F.col(vec_col), _plane_literals(n_planes, dim))

    def bucketed(df, idc):
        s = df.withColumn("__sig", sig)
        t = F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tables - 1)),
                lambda tbl: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("__sig"), tbl * per_table + 1, per_table),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        )
        return s.select(F.col(idc), F.col(vec_col), t.alias("table", "bucket"))

    vb = bucketed(vectors.select(F.col(id_col).alias("neighbor_id"), vec_col), "neighbor_id")
    qb = bucketed(queries.select(query_id_col, vec_col), query_id_col)
    qb = qb.select(query_id_col, F.col(vec_col).alias("__qv"), "table", "bucket")
    cand = (
        vb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos_sim")
    )


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer (MLlib, trained once)
    partitions the corpus into ``n_cells`` inverted lists; each query
    searches only its ``n_probe`` nearest cells, re-ranked with the
    NumPy exact kernel inside those cells.

    The scale path when LSH recall is insufficient: the quantizer
    trains on a sample, cell assignment is one JVM pass, and the
    candidate set per query is ``n_probe/n_cells`` of the corpus.
    Recall < 1 by construction; brute_force_topk is the baseline.
    """
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vec = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__arr"),
    ).withColumn("__v", array_to_vector(F.col("__arr")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__v", predictionCol="__cell")
    # quantizer trains on a bounded sample (centers converge long
    # before the full corpus is seen); assignment below is full-corpus
    model = km.fit(vec.select("__v").limit(max_train_rows))
    assigned = model.transform(vec)

    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    q_rows = _collect_queries(queries, query_id_col, vec_col, "ivf_ann_topk")
    if not q_rows:
        return vectors.sparkSession.createDataFrame(
            [],
            f"{query_id_col} long, neighbor_id long, rank int, cos_sim double",
        )
    q_ids = [r[0] for r in q_rows]
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    # n_probe nearest cells per query (driver-side: centers are tiny)
    d2 = ((Q[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d2, axis=1)[:, :n_probe]
    pairs = [
        (int(qid), [int(c) for c in cells]) for qid, cells in zip(q_ids, probes)
    ]
    probe_df = vectors.sparkSession.createDataFrame(
        [(q, c) for q, cells in pairs for c in cells],
        f"{query_id_col} long, __cell int",
    )
    qv = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    cand = (
        assigned.join(F.broadcast(probe_df), "__cell")
        .join(F.broadcast(qv), query_id_col)
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", cosine(F.col("__arr"), F.col("__qv")).alias("cos_sim"))
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos_sim")
    )


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold)
    via LSH self-join: bucket on the full signature, exact cosine
    inside buckets. High thresholds → near-dups almost surely agree on
    all plane signs, so full-signature bucketing keeps recall high
    while the join stays linear-ish."""
    if dim is None:
        dim = _embedding_dim(vectors, vec_col)
    sig = _hyperplane_signature(F.col(vec_col), _plane_literals(n_planes, dim))
    s = vectors.select(
        F.col(id_col), F.col(vec_col), F.concat_ws(
            ",", F.transform(sig, lambda x: x.cast("string"))
        ).alias("bucket")
    )
    a = s.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "bucket"
    )
    b = s.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.9,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    paper): k-means clusters the embedding space, then inside each
    cluster every vector whose cosine similarity to a LOWER-id vector
    reaches *threshold* is dropped (min-id representative survives —
    deterministic, rerun-stable). Returns the surviving rows of
    *vectors* plus their ``cluster`` assignment.

    Scale shape: the quantizer trains on a bounded sample (same
    machinery as :func:`ivf_ann_topk`); assignment is one JVM pass;
    the pair search is a per-cluster self-join — candidate volume is
    sum of squared cluster sizes, never all-pairs. ``n_clusters`` is
    required because no default is safe at every corpus size: sizing
    it is the caller's job, ``n_clusters ~ corpus/10k`` keeps the
    clusters near 10k vectors. Cross-cluster near-dups are missed by
    construction (the SemDeDup trade-off); embedding_near_dups is the
    recall-oriented alternative.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = vectors.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__arr"),
    ).withColumn("__v", array_to_vector(F.col("__arr")))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="__v", predictionCol="cluster")
    model = km.fit(vec.select("__v").limit(max_train_rows))
    assigned = model.transform(vec).select(id_col, "__arr", "cluster")

    a = assigned.select(
        F.col(id_col).alias("__a"), F.col("__arr").alias("__va"), "cluster"
    )
    b = assigned.select(
        F.col(id_col).alias("__b"), F.col("__arr").alias("__vb"), "cluster"
    )
    losers = (
        a.join(b, "cluster")
        .filter(F.col("__a") < F.col("__b"))
        .filter(cosine(F.col("__va"), F.col("__vb")) >= threshold)
        .select(F.col("__b").alias(id_col))
        .distinct()
    )
    return vectors.join(
        assigned.select(id_col, "cluster"), id_col
    ).join(losers, id_col, "left_anti")


def train_pq_codebooks(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    max_train_rows: int = 20_000,
    iters: int = 12,
):
    """Train product-quantization codebooks: one Lloyd's k-means per
    subspace over a bounded, driver-collected sample of L2-normalized
    vectors (public PQ construction, Jégou et al. 2011).

    Returns a ``(m, ksub, dsub)`` float64 ndarray. Training is
    driver-side NumPy on ≤ *max_train_rows* rows — codebooks converge
    on a sample long before the corpus is seen, the same bounded-fit
    contract as :func:`ivf_ann_topk`'s quantizer. Deterministic for a
    fixed seed and sample.
    """
    import numpy as np

    rows = vectors.select(vec_col).limit(max_train_rows).collect()
    if not rows:
        raise ValueError("train_pq_codebooks: empty training set")
    X = np.array([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    return _fit_subspace_codebooks(X, m=m, ksub=ksub, seed=seed, iters=iters)


def _fit_subspace_codebooks(X, *, m: int, ksub: int, seed: int, iters: int):
    """Per-subspace Lloyd's over a driver-side sample matrix — shared
    by raw-vector PQ (train_pq_codebooks) and residual PQ (ivfpq)."""
    import numpy as np

    n, D = X.shape
    if D % m:
        raise ValueError(f"dim {D} not divisible by m={m} subspaces")
    if n < ksub:
        raise ValueError(f"need >= ksub={ksub} training rows, got {n}")
    dsub = D // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        C = sub[rng.choice(n, ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    C[c] = sub[mask].mean(0)
        books[j] = C
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (normalized) vector as ``m`` codebook indices —
    ``(id, codes: array<int>)``. One Arrow-batched pass, no shuffle.

    THIS is the PQ scale win: the scored representation shrinks from
    ``4*dim`` bytes to ``m`` small ints per vector (64 dims → 8 codes),
    so the ANN scan at 10^9 vectors reads the codes table instead of
    the raw embeddings.
    """
    import numpy as np
    import pandas as pd

    books = codebooks
    m, ksub, dsub = books.shape

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            Vn = V / np.where(norms == 0, 1.0, norms)
            codes = np.empty((len(Vn), m), dtype=np.int64)
            for j in range(m):
                sub = Vn[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame(
                {"__id": pdf[id_col], "codes": list(codes)}
            )

    out = vectors.select(id_col, vec_col).mapInPandas(
        encode, schema="__id long, codes array<int>"
    )
    return out.select(F.col("__id").alias(id_col), "codes")


def pq_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    max_train_rows: int = 20_000,
    codebooks=None,
    refine: int = 4,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank — the canonical
    compressed-domain ANN at 100 TB (IVF-PQ minus the coarse stage,
    which :func:`ivf_ann_topk` already provides and composes with).

    Corpus vectors are product-quantized to ``m`` codes; each query
    precomputes a tiny ``(m, ksub)`` distance lookup table (ADC), so
    scoring a vector is ``m`` table lookups instead of a ``dim``-wide
    dot product. Per Arrow batch: vectorized LUT gather + local
    top-``k*refine``; a global window keeps ``k*refine`` candidates per
    query; the final exact cosine runs ONLY on those candidates (corpus
    joined against the broadcast candidate set — no corpus shuffle).

    Unit-norm identity used throughout: ``cos = 1 - d²/2`` for
    normalized vectors, so ADC's squared-L2 ordering IS the cosine
    ordering. Recall < 1 by construction (quantization error);
    :func:`brute_force_topk` is the baseline, tested ≥ threshold.
    """
    import numpy as np
    import pandas as pd

    if codebooks is None:
        codebooks = train_pq_codebooks(
            vectors,
            vec_col=vec_col,
            m=m,
            ksub=ksub,
            seed=seed,
            max_train_rows=max_train_rows,
        )
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape

    q_rows = _collect_queries(queries, query_id_col, vec_col, "pq_ann_topk")
    if not q_rows:
        return vectors.sparkSession.createDataFrame(
            [],
            f"{query_id_col} long, neighbor_id long, rank int, cos_sim double",
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)
    # ADC lookup tables: (n_queries, m, ksub)
    luts = (
        (Qn.reshape(len(Qn), m, 1, dsub) - books[None, :, :, :]) ** 2
    ).sum(-1)

    codes_df = pq_encode(vectors, books, id_col=id_col, vec_col=vec_col)
    take = k * refine + 1  # +1: self-match filtered downstream
    jj = np.arange(m)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(list(pdf["codes"]), dtype=np.int64)  # (batch, m)
            ids = pdf[id_col].to_numpy()
            t = min(take, len(ids))
            out = []
            for qi, qid in enumerate(q_ids):
                d2 = luts[qi][jj[None, :], C].sum(1)  # (batch,)
                part = np.argpartition(d2, t - 1)[:t]
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            "neighbor_id": ids[part],
                            "approx_sim": 1.0 - d2[part] / 2.0,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = codes_df.mapInPandas(
        score, schema=f"{query_id_col} long, neighbor_id long, approx_sim double"
    ).filter(F.col("neighbor_id") != F.col(query_id_col))

    w_approx = W.partitionBy(query_id_col).orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("__r", F.row_number().over(w_approx))
        .filter(F.col("__r") <= k * refine)
        .select(query_id_col, "neighbor_id")
    )

    return _exact_rerank(
        vectors, queries, cand, k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )


def _exact_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of a small candidate set: corpus scanned
    once with the candidates broadcast — the cosine HOF touches only
    ``k*refine*n_queries`` rows. Shared tail of the compressed-domain
    ANN paths (PQ, IVF-PQ)."""
    qv = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    exact = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__nv"),
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col("__nv"), F.col("__qv")).alias("cos_sim"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos_sim")
    )


def ivfpq_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    max_train_rows: int = 20_000,
    refine: int = 8,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011) — the composition the two
    halves exist for: a coarse k-means quantizer limits each query to
    ``n_probe`` inverted lists, and inside those lists distances are
    ADC lookups over PQ codes of the RESIDUAL (x − cell center). At
    10^9+ vectors this is the canonical shape: the scan touches
    ``n_probe/n_cells`` of the corpus and reads ``m`` bytes per vector
    instead of the embedding.

    Training: MLlib KMeans (bounded fit) for the coarse stage; the
    residuals of the same driver-side sample fit the per-subspace
    codebooks (:func:`_fit_subspace_codebooks`). Encoding is one
    Arrow-batched pass emitting ``(id, cell, codes)``. Queries probe
    their ``n_probe`` nearest cells, precompute one ``(m, ksub)``
    residual LUT per (query, cell), score joined candidates with
    vectorized gathers, and the global top ``k·refine`` re-rank
    exactly (:func:`_exact_rerank` — scores are true cosines).

    Recall < 1 twice over (cell pruning + quantization);
    :func:`brute_force_topk` is the baseline, recall-tested.
    """
    import numpy as np
    import pandas as pd

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # --- bounded training sample, normalized in NumPy -------------------
    # (normalization lives in NumPy everywhere — a JVM HOF normalize
    # would run interpreted per element, README design rule 8)
    raw = np.array(
        [
            r[0]
            for r in vectors.select(vec_col).limit(max_train_rows).collect()
        ],
        dtype=np.float64,
    )
    if not len(raw):
        raise ValueError("ivfpq_ann_topk: empty corpus")
    rn = np.linalg.norm(raw, axis=1, keepdims=True)
    sample = raw / np.where(rn == 0, 1.0, rn)

    # --- coarse quantizer fit on the (tiny) normalized sample -----------
    fit_df = vectors.sparkSession.createDataFrame(
        [(list(map(float, v)),) for v in sample], "__nv array<double>"
    ).withColumn("__v", array_to_vector(F.col("__nv")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__v", predictionCol="__cell")
    model = km.fit(fit_df.select("__v"))
    centers = np.array([np.asarray(c) for c in model.clusterCenters()])

    # --- residual PQ codebooks from the same sample ----------------------
    s_cells = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(-1).argmin(1)
    books = _fit_subspace_codebooks(
        sample - centers[s_cells], m=m, ksub=ksub, seed=seed, iters=12
    )
    mm, _, dsub = books.shape

    # --- encode: raw corpus → (id, cell, codes) in one Arrow pass --------
    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            Vn = V / np.where(norms == 0, 1.0, norms)
            cells = ((Vn[:, None, :] - centers[None, :, :]) ** 2).sum(-1).argmin(1)
            R = Vn - centers[cells]
            codes = np.empty((len(Vn), mm), dtype=np.int64)
            for j in range(mm):
                sub = R[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = (
                    ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1).argmin(1)
                )
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col],
                    "__cell": cells,
                    "codes": list(codes),
                }
            )

    encoded = vectors.select(id_col, vec_col).mapInPandas(
        encode, schema="neighbor_id long, __cell int, codes array<int>"
    )

    # --- queries: probe cells + residual LUTs ---------------------------
    q_rows = _collect_queries(queries, query_id_col, vec_col, "ivfpq_ann_topk")
    if not q_rows:
        return vectors.sparkSession.createDataFrame(
            [],
            f"{query_id_col} long, neighbor_id long, rank int, cos_sim double",
        )
    q_ids = [int(r[0]) for r in q_rows]
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)
    qd2 = ((Qn[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
    probes = np.argsort(qd2, axis=1)[:, :n_probe]
    luts = {}
    jj = np.arange(mm)
    for qi, qid in enumerate(q_ids):
        for cell in probes[qi]:
            qr = Qn[qi] - centers[cell]
            luts[(qid, int(cell))] = (
                (qr.reshape(mm, 1, dsub) - books) ** 2
            ).sum(-1)

    probe_df = vectors.sparkSession.createDataFrame(
        [(qid, int(c)) for qi, qid in enumerate(q_ids) for c in probes[qi]],
        f"{query_id_col} long, __cell int",
    )
    joined = encoded.join(F.broadcast(probe_df), "__cell").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    take = k * refine

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for (qid, cell), grp in pdf.groupby([query_id_col, "__cell"]):
                lut = luts[(int(qid), int(cell))]
                C = np.array(list(grp["codes"]), dtype=np.int64)
                d2 = lut[jj[None, :], C].sum(1)
                t = min(take, len(d2))
                part = np.argpartition(d2, t - 1)[:t]
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: int(qid),
                            "neighbor_id": grp["neighbor_id"].to_numpy()[part],
                            "approx_sim": 1.0 - d2[part] / 2.0,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = joined.mapInPandas(
        score, schema=f"{query_id_col} long, neighbor_id long, approx_sim double"
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= take)
        .select(query_id_col, "neighbor_id")
    )
    return _exact_rerank(
        vectors, queries, cand, k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
