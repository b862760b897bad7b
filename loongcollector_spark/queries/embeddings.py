"""Vector queries over the embeddings table: exact and approximate
top-k (brute force, LSH, PQ), near-duplicates, semantic dedup,
k-means clustering and outliers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import query


@query("embeddings", oracle="""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> cast(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, iv AS qv FROM iv WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             cast(list_sum(list_transform(list_zip(v.iv, q.qv),
                           p -> p[1] * p[2])) AS BIGINT) AS dot
      FROM iv v CROSS JOIN q WHERE v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dot,
             cast(row_number() OVER (PARTITION BY query_id
                    ORDER BY dot DESC, neighbor_id ASC) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, dot FROM ranked WHERE rank <= 3
""")
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-3 neighbors for 5 query vectors, ranked by an
    integer-scaled dot product (round(v*1000) per element) so the
    ranking is bit-identical across engines (float cosine ordering is
    engine-sensitive at knife-edge margins; the integer kernel is the
    oracle-checkable variant of similarity.brute_force_topk)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))
    q = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv")
    )
    scored = vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(F.col("iv"), F.col("qv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dot"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _neardup_planes(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplanes shared verbatim by the Spark
    query and the DuckDB oracle (integer arithmetic → exact sign
    agreement across engines; floats could flip a near-zero sign)."""
    import random

    rng = random.Random(20240817)
    return [[rng.randint(-2, 2) for _ in range(dim)] for _ in range(n_planes)]


def _embedding_neardup_oracle_sql() -> str:
    """DuckDB twin of q_embedding_neardup: identical integer planes,
    identical quantization, identical cosine expression shape."""
    planes = _neardup_planes()
    bit_exprs = []
    for p in planes:
        lst = "[" + ", ".join(str(w) for w in p) + "]"
        bit_exprs.append(
            "CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> iv[i] * ({lst})[i])) >= 0 THEN '1' ELSE '0' END"
        )
    bucket = " || ".join(bit_exprs)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    s AS (SELECT vec_id, iv, {bucket} AS bucket FROM q),
    pair AS (
      SELECT sa.vec_id AS a, sb.vec_id AS b, sa.iv AS va, sb.iv AS vb
      FROM s sa JOIN s sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
    ),
    scored AS (
      SELECT a, b,
        list_sum(list_transform(range(1, 65), i -> va[i] * vb[i])) /
        (sqrt(list_sum(list_transform(range(1, 65), i -> va[i] * va[i]))) *
         sqrt(list_sum(list_transform(range(1, 65), i -> vb[i] * vb[i]))))
        AS cos_sim
      FROM pair
    )
    SELECT a, b, rank, cos_sim FROM (
      SELECT a, b, cos_sim,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, a, b) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 50
    """


@query("embeddings", oracle=_embedding_neardup_oracle_sql())
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate search, oracle-checkable integer
    kernel (same precedent as ann_topk): quantize to round(v*1000)
    longs, bucket by integer hyperplane signs (the LSH self-join shape
    of similarity.embedding_near_dups), exact cosine inside buckets,
    global top-50 pairs by similarity. All-pairs never materializes —
    only same-bucket pairs are scored.

    NOTE: this correctness-harness query deliberately uses interpreted
    ``aggregate``/``zip_with`` lambdas — the only formulation whose
    arithmetic is reproducible expression-for-expression in DuckDB —
    over the 500-row sf0.01 table. The production path is
    similarity.embedding_near_dups / brute_force_topk (flat-column /
    NumPy-batch kernels, NOTES.md HOF lesson)."""
    planes = _neardup_planes()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))

    def dot_with(plane):
        arr = F.array(*[F.lit(w).cast("long") for w in plane])
        return F.aggregate(
            F.zip_with(F.col("iv"), arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    bits = [F.when(dot_with(p) >= 0, "1").otherwise("0") for p in planes]
    s = vecs.withColumn("bucket", F.concat(*bits))
    a = s.select(F.col("vec_id").alias("a"), F.col("iv").alias("va"), "bucket")
    b = s.select(F.col("vec_id").alias("b"), F.col("iv").alias("vb"), "bucket")
    pair = a.join(b, "bucket").filter(F.col("a") < F.col("b"))

    def ldot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    cos = ldot(F.col("va"), F.col("vb")) / (
        F.sqrt(ldot(F.col("va"), F.col("va")))
        * F.sqrt(ldot(F.col("vb"), F.col("vb")))
    )
    scored = pair.select("a", "b", cos.alias("cos_sim"))
    w = W.orderBy(F.desc("cos_sim"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("a", "b", "rank", "cos_sim")
    )


def _semdedup_centroids(k: int = 4, dim: int = 64) -> list[list[int]]:
    """Deterministic integer centroids shared verbatim by the Spark
    query and the DuckDB oracle — stands in for the trained k-means
    quantizer of similarity.semantic_dedup (MLlib training is not
    SQL-expressible; integer dots make cluster assignment exact in
    both engines)."""
    import random

    rng = random.Random(20260817)
    return [[rng.randint(-3, 3) for _ in range(dim)] for _ in range(k)]


# the sf0.01 embeddings' within-cluster cosine tops out at ~0.51
# (p99.9 ≈ 0.40), so 0.4 exercises the loser path with a real drop set
# while staying far from float knife-edges on most pairs (both engines
# compute identical IEEE doubles from identical integer inputs anyway)
_SEMDEDUP_THRESHOLD = 0.4


def _semantic_dedup_oracle_sql() -> str:
    """DuckDB twin of q_semantic_dedup: identical integer centroids,
    quantization, max-dot assignment with smallest-index tie-break,
    and per-cluster loser rule."""
    cents = _semdedup_centroids()
    dot_exprs = []
    for i, c in enumerate(cents):
        lst = "[" + ", ".join(str(w) for w in c) + "]"
        dot_exprs.append(
            "list_sum(list_transform(range(1, 65),"
            f" i -> iv[i] * ({lst})[i])) AS d{i}"
        )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(len(cents))) + ")"
    pick = " ".join(f"WHEN d{i} = best THEN {i}" for i in range(len(cents)))
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    d AS (SELECT vec_id, iv, {", ".join(dot_exprs)} FROM q),
    s AS (
      SELECT vec_id, iv, CASE {pick} END AS cluster
      FROM (SELECT *, {best} AS best FROM d)
    ),
    losers AS (
      SELECT DISTINCT sb.vec_id
      FROM s sa JOIN s sb
        ON sa.cluster = sb.cluster AND sa.vec_id < sb.vec_id
      WHERE list_sum(list_transform(range(1, 65), i -> sa.iv[i] * sb.iv[i])) /
            (sqrt(list_sum(list_transform(range(1, 65), i -> sa.iv[i] * sa.iv[i]))) *
             sqrt(list_sum(list_transform(range(1, 65), i -> sb.iv[i] * sb.iv[i]))))
            >= {_SEMDEDUP_THRESHOLD}
    )
    SELECT vec_id, cluster FROM s
    WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """


@query("embeddings", oracle=_semantic_dedup_oracle_sql())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, oracle-checkable kernel: assign
    each quantized embedding (round(v*1000) longs) to its max-dot
    integer centroid (tie → smallest centroid index), then drop every
    vector with a lower-id same-cluster neighbor at integer-cosine ≥
    0.85. Survivors with their cluster ids are the output. Production
    path = similarity.semantic_dedup (trained MLlib quantizer, NumPy
    kernels); this query pins the per-cluster pair semantics.

    The integer arithmetic is what DuckDB reproduces value-for-value.
    The Spark side: cluster assignment stays NARROW — 4 interpreted
    integer dots per row inside the scan stage, no exchange (k·dim =
    256 lambda steps/row is cheap; at sf0.1 every extra shuffle stage
    costs more than this whole projection). The within-cluster
    pairwise stage is the PRODUCTION kernel shape — per-cluster exact
    int64 Gram matrix via Arrow applyInPandas — because pair count
    grows quadratically with cluster size (5.8 s at sf0.1's 5,000
    vectors under the old interpreted per-PAIR HOFs, the exact creep
    VERDICT r3 warned about). Long dots are order-independent and
    IEEE double sqrt/divide round identically in NumPy, the JVM and
    DuckDB, so all three formulations hash-match."""
    cents = _semdedup_centroids()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))

    def ldot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # assignment: max integer dot, tie -> smallest centroid index
    cells = [
        F.struct(
            (-ldot(F.col("iv"), F.array(*[F.lit(w).cast("long") for w in c]))).alias(
                "nd"
            ),
            F.lit(i).alias("idx"),
        )
        for i, c in enumerate(cents)
    ]
    s = vecs.withColumn(
        "cluster", F.sort_array(F.array(*cells)).getItem(0)["idx"]
    )
    thr = _SEMDEDUP_THRESHOLD

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(pdf["iv"].to_numpy()[order]).astype(np.int64)
        G = V @ V.T  # exact: |components| <= ~1e3, dim 64 << 2^63
        n = np.sqrt(np.diag(G).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            C = G / np.outer(n, n)  # NaN for zero vectors — fails the
            # >= below, like the NULL the SQL division produces
        _, jj = np.where(np.triu(C >= thr, k=1))  # j has a lower-id dup
        return pd.DataFrame({"vec_id": np.unique(ids[jj])})

    losers = s.groupBy("cluster").applyInPandas(per_cluster, "vec_id long")
    # the broadcast hint is load-bearing: AQE can't size the UDF
    # output so it plans a sort-merge anti-join that re-shuffles s
    # (measured 3x slower). Safe here because this query IS the
    # bounded oracle kernel — a corpus-sized run belongs to
    # similarity.semantic_dedup, whose anti-join is unhinted.
    return (
        s.join(F.broadcast(losers), "vec_id", "left_anti")
        .select("vec_id", "cluster")
    )


_LSH_TABLES = 4
_LSH_PER_TABLE = 3


def _ann_lsh_oracle_sql() -> str:
    planes = _neardup_planes(n_planes=_LSH_TABLES * _LSH_PER_TABLE)

    def bit(p):
        lst = "[" + ", ".join(str(x) for x in p) + "]"
        return (
            "CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> iv[i] * ({lst})[i])) >= 0 THEN '1' ELSE '0' END"
        )

    tables = []
    for t in range(_LSH_TABLES):
        bs = " || ".join(
            bit(p) for p in planes[t * _LSH_PER_TABLE : (t + 1) * _LSH_PER_TABLE]
        )
        tables.append(
            f"SELECT vec_id, iv, {t} AS t, {bs} AS bucket FROM q"
        )
    union = "\n      UNION ALL ".join(tables)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    s AS (
      {union}
    ),
    cand AS (
      SELECT DISTINCT qs.vec_id AS query_id, vs.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> vs.iv[i] * qs.iv[i])) AS BIGINT) AS dot
      FROM s vs JOIN (SELECT * FROM s WHERE vec_id < 5) qs
        ON vs.t = qs.t AND vs.bucket = qs.bucket
       AND vs.vec_id <> qs.vec_id
    )
    SELECT query_id, neighbor_id, rank, dot FROM (
      SELECT query_id, neighbor_id, dot,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY dot DESC, neighbor_id ASC) AS INT) AS rank
      FROM cand
    ) WHERE rank <= 3
    """


@query("embeddings", oracle=_ann_lsh_oracle_sql())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane LSH, oracle-checkable integer kernel (the
    similarity.lsh_ann_topk SHAPE with the deterministic integer
    planes/quantization of q_embedding_neardup): 12 plane signs split
    into 4 table buckets; candidates share ≥1 bucket with a query;
    exact integer-dot re-rank, top-3. Bucketing (not all-pairs) is the
    scale path; the integer arithmetic makes candidates AND ranking
    reproducible expression-for-expression in DuckDB."""
    planes = _neardup_planes(n_planes=_LSH_TABLES * _LSH_PER_TABLE)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))

    def dot_with(plane):
        arr = F.array(*[F.lit(w).cast("long") for w in plane])
        return F.aggregate(
            F.zip_with(F.col("iv"), arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    bits = [F.when(dot_with(p) >= 0, "1").otherwise("0") for p in planes]
    buckets = F.array(
        *[
            F.concat(*bits[t * _LSH_PER_TABLE : (t + 1) * _LSH_PER_TABLE])
            for t in range(_LSH_TABLES)
        ]
    )
    s = vecs.select("vec_id", "iv", F.posexplode(buckets).alias("t", "bucket"))
    q = s.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv"), "t", "bucket"
    )
    cand = (
        s.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("iv"), F.col("qv"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


_PQ_M, _PQ_KSUB, _PQ_DSUB = 8, 8, 8  # 64-dim corpus → 8 subspaces of 8


def _pq_books() -> list[list[list[int]]]:
    """Deterministic integer PQ codebooks shared verbatim by the Spark
    query and the DuckDB oracle (same integer-kernel precedent as
    _neardup_planes: exact argmin/ADC agreement across engines)."""
    import random

    rng = random.Random(20260817)
    return [
        [[rng.randint(-1000, 1000) for _ in range(_PQ_DSUB)] for _ in range(_PQ_KSUB)]
        for _ in range(_PQ_M)
    ]


def _pq_oracle_sql() -> str:
    books = _pq_books()

    def dist_sql(arr, j, centroid):
        return " + ".join(
            f"({arr}[{j * _PQ_DSUB + i + 1}] - ({c}))"
            f" * ({arr}[{j * _PQ_DSUB + i + 1}] - ({c}))"
            for i, c in enumerate(centroid)
        )

    def darr_sql(arr, j):
        return "[" + ", ".join(dist_sql(arr, j, books[j][c]) for c in range(_PQ_KSUB)) + "]"

    codes = ",\n         ".join(
        f"list_position({darr_sql('iv', j)}, list_min({darr_sql('iv', j)})) AS code_{j}"
        for j in range(_PQ_M)
    )
    adc = " + ".join(f"({darr_sql('qv', j)})[code_{j}]" for j in range(_PQ_M))
    return f"""
    WITH v AS (
      SELECT vec_id,
             [CAST(round(x * 1000) AS BIGINT) for x in embedding] AS iv
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id,
         {codes}
      FROM v
    ),
    q AS (SELECT vec_id AS query_id, iv AS qv FROM v WHERE vec_id < 5),
    s AS (
      SELECT query_id, vec_id AS neighbor_id, {adc} AS d2
      FROM enc, q WHERE vec_id != query_id
    )
    SELECT query_id, neighbor_id, rank, d2 FROM (
      SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id ORDER BY d2, neighbor_id) AS INT) AS rank
      FROM s)
    WHERE rank <= 3
    """


@query("embeddings", oracle=_pq_oracle_sql())
def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, oracle-checkable integer kernel (the
    similarity.pq_ann_topk SHAPE): quantize embeddings to
    round(v*1000) longs, encode each vector as 8 sub-space codebook
    indices (argmin of integer squared-L2 to 8 literal centroids per
    sub-space), then score query→corpus with ADC — the per-query
    distance is 8 lookup-table adds, never a 64-dim dot. Top-3 per
    query by exact integer ADC distance. All arithmetic is int64 →
    bit-equal in DuckDB; argmin ties resolve to the first index in
    both engines (array_position == list_position).

    Production path (trained float codebooks, Arrow-batched encode,
    exact cosine re-rank) is similarity.pq_ann_topk, recall-tested in
    tests/test_similarity_impls.py. Pure element_at arithmetic, no
    interpreted HOF lambdas."""
    books = _pq_books()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    v = emb.select(F.col("vec_id"), iv.alias("iv"))

    def dist(arr, j, centroid):
        e = None
        for i, c in enumerate(centroid):
            d = F.element_at(arr, j * _PQ_DSUB + i + 1) - F.lit(int(c))
            t = d * d
            e = t if e is None else e + t
        return e

    def darr(arr, j):
        return F.array(*[dist(arr, j, books[j][c]) for c in range(_PQ_KSUB)])

    enc = v.select(
        "vec_id",
        *[
            F.array_position(darr(F.col("iv"), j), F.array_min(darr(F.col("iv"), j)))
            .cast("int")
            .alias(f"code_{j}")
            for j in range(_PQ_M)
        ],
    )
    q = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv")
    )
    # ADC: the query's per-subspace LUT (8 integer dists) indexed by
    # the neighbor's stored code — 8 adds per pair
    pairs = enc.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    d2 = None
    for j in range(_PQ_M):
        term = F.element_at(darr(F.col("qv"), j), F.col(f"code_{j}"))
        d2 = term if d2 is None else d2 + term
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def _kmeans_oracle_sql(
    k: int = 8, iters: int = 2, final: str = "clusters", per_cluster: int = 5
) -> str:
    """Unrolled Lloyd-iteration DuckDB twin of operators/clustering.py:
    identical init (k smallest vec_ids), identical 6-dp quantization of
    centroid coords and distances, identical struct-min argmin
    tie-break, empty clusters keep the previous centroid."""
    ctes = [
        "emb AS (SELECT vec_id, embedding FROM embeddings)",
        "pos AS (SELECT vec_id, unnest(range(len(embedding))) AS pos FROM emb)",
        "ev AS (SELECT p.vec_id, p.pos, (e.embedding[p.pos+1])::DOUBLE AS val"
        " FROM pos p JOIN emb e USING (vec_id))",
        f"c0ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j"
        f" FROM emb ORDER BY vec_id LIMIT {k})",
        "cent0 AS (SELECT c.j, ev.pos, round(ev.val, 6) AS cval"
        " FROM c0ids c JOIN ev USING (vec_id))",
    ]
    cur = "cent0"
    for t in range(1, iters + 1):
        ctes += [
            f"d{t} AS (SELECT ev.vec_id, c.j,"
            f" round(sum((ev.val - c.cval) * (ev.val - c.cval)), 6) AS dist"
            f" FROM ev JOIN {cur} c USING (pos) GROUP BY ev.vec_id, c.j)",
            f"a{t} AS (SELECT vec_id, min(struct_pack(d := dist, j := j)) AS m"
            f" FROM d{t} GROUP BY vec_id)",
            f"asg{t} AS (SELECT vec_id, (m).j AS cluster FROM a{t})",
            f"u{t} AS (SELECT a.cluster AS j, ev.pos,"
            f" round(avg(ev.val), 6) AS cval"
            f" FROM asg{t} a JOIN ev USING (vec_id) GROUP BY a.cluster, ev.pos)",
            f"cent{t} AS (SELECT c.j, c.pos, coalesce(u.cval, c.cval) AS cval"
            f" FROM {cur} c LEFT JOIN u{t} u ON u.j = c.j AND u.pos = c.pos)",
        ]
        cur = f"cent{t}"
    t = iters + 1
    ctes += [
        f"d{t} AS (SELECT ev.vec_id, c.j,"
        f" round(sum((ev.val - c.cval) * (ev.val - c.cval)), 6) AS dist"
        f" FROM ev JOIN {cur} c USING (pos) GROUP BY ev.vec_id, c.j)",
        f"fin AS (SELECT vec_id,"
        f" (min(struct_pack(d := dist, j := j))).j AS cluster,"
        f" (min(struct_pack(d := dist, j := j))).d AS dist"
        f" FROM d{t} GROUP BY vec_id)",
    ]
    body = ",\n".join(ctes)
    if final == "clusters":
        sel = (
            "SELECT cluster, count(*) AS n_vecs, round(sum(dist), 4) AS inertia,"
            " min(vec_id) AS min_vec_id FROM fin GROUP BY cluster"
        )
    elif final == "mixture":
        sel = (
            "SELECT cluster, label, CAST(count(*) AS BIGINT) AS n,"
            " round(count(*) / (sum(count(*)) OVER (PARTITION BY cluster)), 6)"
            " AS share"
            " FROM fin JOIN embeddings USING (vec_id)"
            " GROUP BY cluster, label"
        )
    else:
        sel = (
            f"SELECT vec_id, cluster, dist FROM ("
            f"SELECT vec_id, cluster, dist, row_number() OVER ("
            f"PARTITION BY cluster ORDER BY dist, vec_id) AS rk FROM fin)"
            f" WHERE rk <= {per_cluster}"
        )
    return f"WITH {body}\n{sel}"


@query("embeddings", oracle=_kmeans_oracle_sql(final="clusters"))
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 2 iterations, deterministic lowest-id init,
    6-dp quantized centroids/distances) over the embeddings table:
    per-cluster size, 4-dp inertia, smallest member id. The DuckDB twin
    unrolls the same two iterations in SQL."""
    from ..operators.clustering import kmeans_assign, kmeans_clusters, kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, iters=2)
    a = kmeans_assign(emb, cents)
    return kmeans_clusters(a).select("cluster", "n_vecs", "inertia", "min_vec_id")


@query("embeddings", oracle=_kmeans_oracle_sql(final="sample"))
def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling: fit k-means (same protocol as
    kmeans_embeddings), keep the 5 most-central vectors per cluster
    (dist ASC, vec_id tie-break) — the head-cluster-proof selection
    step; compiles to WindowGroupLimit (local top-m per task)."""
    from ..operators.clustering import (
        cluster_balanced_sample,
        kmeans_assign,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, iters=2)
    a = kmeans_assign(emb, cents)
    return cluster_balanced_sample(a, per_cluster=5).select(
        "vec_id", "cluster", "dist"
    )


@query("embeddings", oracle=_kmeans_oracle_sql(final="mixture"))
def q_cluster_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity report: k-means assignment (same protocol as
    kmeans_embeddings) crossed with the ground-truth label column —
    per (cluster, label) count and within-cluster share. The
    cluster-balance diagnostic run before trusting cluster-based
    sampling."""
    from ..operators.clustering import kmeans_assign, kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(
        emb.select("vec_id", "embedding"), k=8, iters=2
    )
    a = kmeans_assign(emb.select("vec_id", "label", "embedding"), cents)
    per = a.groupBy("cluster", "label").agg(F.count("*").alias("n"))
    tot = W.partitionBy("cluster")
    return per.select(
        "cluster",
        "label",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("share"),
    )


@query("embeddings", oracle="""
    WITH emb AS (SELECT vec_id, label, embedding FROM embeddings),
    pos AS (SELECT vec_id, unnest(range(len(embedding))) AS pos FROM emb),
    ev AS (SELECT p.vec_id, p.pos,
                  (e.embedding[p.pos + 1])::DOUBLE AS val
           FROM pos p JOIN emb e USING (vec_id)),
    c AS (SELECT pos, round(avg(val), 6) AS m FROM ev GROUP BY pos),
    d AS (
      SELECT ev.vec_id,
             round(sum((ev.val - c.m) * (ev.val - c.m)), 6) AS dist
      FROM ev JOIN c USING (pos) GROUP BY ev.vec_id
    )
    SELECT d.vec_id, e.label, d.dist
    FROM d JOIN emb e USING (vec_id)
    ORDER BY d.dist DESC, d.vec_id LIMIT 20
""")
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-centroid embedding outliers: 6-dp squared-L2 distance to
    the 6-dp per-dimension mean, top-20 by (dist DESC, vec_id) via
    TakeOrderedAndProject."""
    from ..operators.clustering import embedding_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    return embedding_outliers(emb, top_n=20)
