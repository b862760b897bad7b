"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how target-like its
hashed n-gram distribution is, then keep the highest-scoring ones.

The published recipe: featurize text as hashed unigram+bigram counts
over ``n_buckets`` buckets, fit two smoothed bag-of-words multinomials
(target corpus vs raw corpus), and weight each raw document by the
log-likelihood ratio ``Σ_g [ln p_target(h(g)) − ln p_raw(h(g))]``.
Training-data-pipeline addition (not in the reference; SURVEY §2.11).

Scale shape at 100 TB:
- one explode of grams → per-(doc, bucket) counts with map-side
  partial aggregation (the shuffle carries ≤ n_buckets rows per doc,
  not tokens);
- the two multinomials are ONE ``n_buckets``-row table (global agg —
  map-side combined, bytes on the wire ∝ n_buckets × tasks);
- per-doc scoring is a **broadcast** join of that table back onto the
  per-(doc, bucket) counts — the corpus never shuffles on the model;
- selection is a threshold filter (no global sort); ``dsir_sample``'s
  exact top-k uses TakeOrderedAndProject (k per partition, k·P at the
  driver), for k in the millions at most.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from .dedup import _norm_text


def _gram_rows(
    docs: DataFrame,
    target_pred: Column,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``(id_col, __is_target, __g)`` rows: unigrams + bigrams of the
    normalized text, exploded.

    HOF-discipline note (the `_shingle_rows` lesson, re-learned here at
    2M docs): interpreted higher-order-function lambdas re-evaluate any
    OUTER expression they reference once per element — a first draft
    used ``element_at(split(norm_regex(text)), i + 2)`` inside the
    bigram lambda and re-ran the whole regex-normalize+split ~47× per
    row (20+ min at 2M docs). This shape is linear: ``zip_with`` over
    two slices of a materialized token-array column, lambda touching
    only its lambda variables; the bucket hash is applied AFTER the
    explode in a whole-stage-codegen projection.
    """
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.filter(F.length(norm) > 0)
    # NULL predicate (e.g. lang == 'en' on a NULL lang) means "not
    # in the target corpus" — coalesce to false so such docs stay
    # in the raw pool instead of silently vanishing from both
    is_target = F.coalesce(target_pred, F.lit(False)).alias("__is_target")
    tokenized = base.select(
        F.col(id_col), is_target, F.split(norm, " ").alias("__tk")
    )
    tk = F.col("__tk")
    n_bi = F.size(tk) - 1  # 1-token docs: slice length 0 → no bigrams
    bigrams = F.zip_with(
        F.slice(tk, 1, n_bi),
        F.slice(tk, 2, n_bi),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return tokenized.select(
        id_col,
        "__is_target",
        F.explode(F.concat(tk, bigrams)).alias("__g"),
    )


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-document DSIR importance log-weights.

    ``target_pred`` marks the rows that form the target corpus (e.g.
    ``F.col("lang") == "en"`` with a curated slice as target); weights
    are produced for the REMAINING (raw) documents — the set one would
    resample from. Both multinomials use add-one smoothing over
    ``n_buckets`` buckets, so empty buckets are defined.

    Returns ``(id_col, n_grams, log_weight)`` for raw documents whose
    normalized text is non-empty; higher ``log_weight`` = more
    target-like. Documents with zero grams carry no evidence and are
    excluded (their weight would be an uninformative 0).
    """
    g = _gram_rows(docs, target_pred, id_col, text_col)
    per_bucket = (
        g.select(
            id_col,
            "__is_target",
            hashing.bucket(F.col("__g"), n_buckets, hash_mode).alias("__b"),
        )
        .groupBy(id_col, "__is_target", "__b")
        .agg(F.count("*").alias("__c"))
    )
    model = (
        per_bucket.groupBy("__b")
        .agg(
            F.sum(F.when(F.col("__is_target"), F.col("__c")).otherwise(0)).alias(
                "__ct"
            ),
            F.sum(F.when(~F.col("__is_target"), F.col("__c")).otherwise(0)).alias(
                "__cr"
            ),
        )
        .crossJoin(
            F.broadcast(
                per_bucket.agg(
                    F.sum(
                        F.when(F.col("__is_target"), F.col("__c")).otherwise(0)
                    ).alias("__tt"),
                    F.sum(
                        F.when(~F.col("__is_target"), F.col("__c")).otherwise(0)
                    ).alias("__tr"),
                )
            )
        )
        .select(
            "__b",
            (
                F.log((F.col("__ct") + 1) / (F.col("__tt") + n_buckets))
                - F.log((F.col("__cr") + 1) / (F.col("__tr") + n_buckets))
            ).alias("__llr"),
        )
    )
    return (
        per_bucket.filter(~F.col("__is_target"))
        # model is ≤ n_buckets rows — broadcast so the corpus-sized
        # per-(doc, bucket) table never shuffles for the join
        .join(F.broadcast(model), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_grams"),
            F.sum(F.col("__c") * F.col("__llr")).alias("log_weight"),
        )
    )


def dsir_sample(
    docs: DataFrame,
    target_pred: Column,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Keep the *k* raw documents with the highest DSIR importance
    weight (ties broken by id — deterministic across reruns and
    cluster sizes). TakeOrderedAndProject plan: each partition keeps a
    local top-k; only k·partitions skinny (id, weight) rows reach the
    driver merge."""
    if k <= 0:
        raise ValueError("dsir_sample: k must be positive")
    w = dsir_weights(
        docs,
        target_pred,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        hash_mode=hash_mode,
    )
    return w.orderBy(F.desc("log_weight"), F.col(id_col)).limit(k)
