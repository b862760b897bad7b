"""Corpus snapshot diff: classify every document as added / removed /
changed / unchanged between two corpus versions.

The incremental-ingestion primitive: a training-data pipeline re-runs
over a corpus that mostly didn't change, and the delta drives what to
re-process (re-dedup, re-score, re-pack) — at 100 TB you re-run the
pipeline over ``added + changed`` only, not the corpus.

Content equality is by xxhash64 fingerprint, so the full-outer join
shuffles ``(id, 8-byte hash)`` rows, never document text. One shuffle
per side, hash-joined on id. The fingerprint is only compared, never
output, so no other kernel could change the result (up to a 64-bit
collision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = ["corpus_delta", "delta_summary", "token_drift"]


def corpus_delta(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per id present in either snapshot:
    ``(id_col, status)`` with status ∈ {'added','removed','changed',
    'unchanged'}. NULL text hashes as empty string (a doc whose text
    became NULL reads as changed, not as a join miss). *id_col* must
    be unique within each snapshot (the full-outer join multiplies
    duplicate keys)."""
    fp = F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))
    o = old.select(F.col(id_col), fp.alias("__old_fp"))
    n = new.select(F.col(id_col), fp.alias("__new_fp"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__old_fp").isNull(), "added")
        .when(F.col("__new_fp").isNull(), "removed")
        .when(F.col("__old_fp") == F.col("__new_fp"), "unchanged")
        .otherwise("changed")
    )
    return j.select(F.col(id_col), status.alias("status"))


def delta_summary(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-status counts of :func:`corpus_delta` — the four-row report
    an incremental pipeline logs per run."""
    return (
        corpus_delta(old, new, id_col=id_col, text_col=text_col)
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
    )


def token_drift(
    old: DataFrame,
    new: DataFrame,
    k: int = 20,
    *,
    alpha: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """Token-distribution drift between two corpus versions: the top-*k*
    terms by absolute smoothed log probability ratio — the monitoring
    companion to :func:`corpus_delta` (which diffs documents; this
    diffs the LANGUAGE, catching topic/source drift that per-doc
    fingerprints can't see, e.g. a crawler suddenly over-sampling one
    site). ``ratio = ln(p_new / p_old)`` with add-α probabilities over
    the union vocabulary: ``p = (c + α) / (N + α·V)`` — terms absent
    from one side get finite, comparable scores.

    Returns ``(rank, term, count_old, count_new, log_ratio)``,
    ``rank ∈ [1, k]`` by ``|log_ratio|`` descending, ties broken by
    term ascending.

    Scale shape: one token groupBy per side (map-side partial agg —
    the exploded stream collapses before either shuffle), a
    full-outer join on term (vocab-keyed, NOT broadcast; AQE handles
    residual hot terms), one-row (N_old, N_new, V) totals broadcast
    via crossJoin, and the global top-k as orderBy + limit →
    TakeOrderedAndProject (map-side partial top-k; only k rows cross).
    """
    from .dedup import _norm_text

    if k < 1:
        raise ValueError("token_drift: k must be >= 1")
    if alpha <= 0:
        raise ValueError("token_drift: alpha must be > 0 (unsmoothed "
                         "probabilities are 0/undefined for one-sided terms)")

    def counts(df: DataFrame, name: str) -> DataFrame:
        tk = F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        return (
            df.select(tk.alias("__tk"))
            .filter((F.size("__tk") > 0) & (F.col("__tk")[0] != ""))
            .select(F.explode("__tk").alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(name))
        )

    co = counts(old, "count_old")
    cn = counts(new, "count_new")
    # persist: totals and the scored projection both consume joined —
    # unpersisted, BOTH corpus token scans run twice (tfidf lesson)
    from ..cache import persisted

    joined = persisted(
        co.join(cn, "term", "full_outer").select(
            "term",
            F.coalesce("count_old", F.lit(0)).alias("count_old"),
            F.coalesce("count_new", F.lit(0)).alias("count_new"),
        )
    )
    totals = joined.agg(
        F.sum("count_old").alias("__n_old"),
        F.sum("count_new").alias("__n_new"),
        F.count("*").alias("__v"),
    )
    t = joined.crossJoin(F.broadcast(totals))
    p_old = (F.col("count_old") + F.lit(alpha)) / (
        F.col("__n_old") + F.lit(alpha) * F.col("__v")
    )
    p_new = (F.col("count_new") + F.lit(alpha)) / (
        F.col("__n_new") + F.lit(alpha) * F.col("__v")
    )
    ratio = F.log(p_new / p_old)
    top = (
        t.select("term", "count_old", "count_new", ratio.alias("log_ratio"))
        .orderBy(F.abs(F.col("log_ratio")).desc(), F.col("term").asc())
        .limit(k)
    )
    w = W.orderBy(F.abs(F.col("log_ratio")).desc(), F.col("term").asc())
    return top.select(
        F.row_number().over(w).alias("rank"),
        "term",
        "count_old",
        "count_new",
        "log_ratio",
    )
