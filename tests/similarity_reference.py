"""Pure-DataFrame brute-force cosine top-k: the semantic reference the
NumPy batch kernel of ``similarity.brute_force_topk`` is compared
against. Broadcast join of every vector with every query plus the
interpreted-HOF ``cosine`` — exact, and too slow for wide corpora."""

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from loongcollector_spark.operators.similarity import cosine


def sql_brute_force_topk(
    vectors,
    queries,
    k=10,
    id_col="vec_id",
    vec_col="embedding",
    query_id_col="query_id",
):
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qv"))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    scored = v.join(
        F.broadcast(q), F.col("neighbor_id") != F.col(query_id_col)
    ).select(
        query_id_col,
        "neighbor_id",
        cosine(F.col("__v"), F.col("__qv")).alias("cos_sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "cos_sim")
    )
