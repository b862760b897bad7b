"""Deterministic samplers and splits over documents: stratified,
uniform, score-weighted, DSIR and temperature-scaled mixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MD5_SQL
from .common import _NORM_C
from .registry import query


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 1.0}


def _stratified_sample_oracle_sql() -> str:
    hashed = MD5_SQL.format(x="concat(cast(doc_id AS STRING), 'r3')")
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {int(f * 1_000_000)}"
        for v, f in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE mod({hashed}, 1000000) <
          CASE {cases} ELSE {int(0.1 * 1_000_000)} END
    """


@query("documents", oracle=_stratified_sample_oracle_sql())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (training-mix reweighting):
    keep 50% en / 25% de / 100% zh / 10% everything else, decided by
    the md5 hash kernel so DuckDB reproduces the exact row set."""
    from ..operators.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(
        docs, "lang", SAMPLE_FRACTIONS, default_fraction=0.1,
        salt="r3", hash_mode="md5",
    )
    return out.select("doc_id", "lang")


@query("documents", oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    ORDER BY {MD5_SQL.format(x="concat(cast(doc_id AS STRING), 'u1')")}, doc_id
    LIMIT 20
""")
def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-n uniform sample (n smallest md5-kernel
    hashes) of the documents table — same rows on every rerun and at
    every parallelism; row-for-row match vs the DuckDB twin."""
    from ..operators.sketch import uniform_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return uniform_sample(docs, 20, salt="u1", hash_mode="md5").select(
        "doc_id", "lang", "n_chars"
    )


@query("documents", oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {MD5_SQL.format(x="CAST(doc_id AS VARCHAR) || 'r3'")},
                        doc_id) AS rn
      FROM documents) t
    WHERE rn <= 20
""")
def q_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum deterministic sample (eval-set builder):
    20 docs per language = the 20 smallest keyed hashes per stratum.
    WindowGroupLimit pushdown keeps per-map state at n rows per
    stratum (plan-pinned in tests); row set value-matched vs the
    DuckDB row_number twin."""
    from ..operators.sketch import stratified_topn_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_topn_sample(docs, "lang", 20, salt="r3", hash_mode="md5")
    return out.select("doc_id", "lang")


@query("documents", oracle=f"""
    WITH tk AS (
      SELECT doc_id, coalesce(lang = 'en', false) AS is_t,
             string_split({_NORM_C}, ' ') AS t, {_NORM_C} AS nm
      FROM documents
    ),
    ne AS (SELECT doc_id, is_t, t FROM tk WHERE len(nm) > 0),
    gr AS (
      SELECT doc_id, is_t,
             unnest(list_concat(t,
               CASE WHEN len(t) >= 2
                    THEN [t[i] || ' ' || t[i + 1]
                          for i in generate_series(1, len(t) - 1)]
                    ELSE [] END)) AS g
      FROM ne
    ),
    pb AS (
      SELECT doc_id, is_t, {MD5_SQL.format(x="g")} % 512 AS bk,
             count(*) AS c
      FROM gr GROUP BY 1, 2, 3
    ),
    model AS (
      SELECT bk,
             sum(CASE WHEN is_t THEN c ELSE 0 END) AS ct,
             sum(CASE WHEN NOT is_t THEN c ELSE 0 END) AS cr
      FROM pb GROUP BY 1
    ),
    tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM model),
    llr AS (
      SELECT bk, ln((ct + 1.0) / (tt + 512))
                 - ln((cr + 1.0) / (tr + 512)) AS l
      FROM model CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           round(sum(c * l), 6) AS log_weight
    FROM pb JOIN llr USING (bk)
    WHERE NOT is_t
    GROUP BY 1
""")
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed
    unigram+bigram bag-of-words log-likelihood ratio of target
    (lang='en') vs raw documents, md5 oracle kernel over 512 buckets;
    weights rounded 6 dp (each is a sum of ≤512 double terms — 9 dp
    would sit inside cross-engine accumulation-order noise)."""
    from ..operators.dsir import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_weights(
        docs, F.col("lang") == "en", n_buckets=512, hash_mode="md5"
    )
    return w.select(
        "doc_id", "n_grams", F.round("log_weight", 6).alias("log_weight")
    )


@query("documents", oracle=f"""
    WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    tot AS (
      SELECT sum(n_docs) AS n, sum(pow(n_docs, 0.5)) AS z FROM per
    ),
    rates AS (
      SELECT lang, n_docs,
             n_docs / n AS raw_share,
             pow(n_docs, 0.5) / z AS temp_share,
             least(1.0,
                   (pow(n_docs, 0.5) / z) / (n_docs / n) * 0.5)
                 AS sample_rate
      FROM per CROSS JOIN tot
    ),
    kept AS (
      SELECT d.lang, count(*) AS n_kept
      FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
      WHERE {MD5_SQL.format(x="concat(CAST(d.doc_id AS VARCHAR), 't1')")}
            % 1000000 < CAST(round(r.sample_rate * 1000000) AS BIGINT)
      GROUP BY 1
    )
    SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
           round(r.raw_share, 9) AS raw_share,
           round(r.temp_share, 9) AS temp_share,
           round(r.sample_rate, 9) AS sample_rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.lang IS NOT DISTINCT FROM k.lang
""")
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (XLM-R/mC4 α=0.5 recipe):
    per-language boost rates + deterministic hash-sampled keep counts
    at an overall 0.5 target fraction, value-matched to a DuckDB twin
    running the same md5 kernel."""
    from ..operators.text import temperature_mixture

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = temperature_mixture(
        docs,
        strata_col="lang",
        alpha=0.5,
        target_fraction=0.5,
        salt="t1",
        hash_mode="md5",
    )
    return out.select(
        "lang",
        "n_docs",
        F.round("raw_share", 9).alias("raw_share"),
        F.round("temp_share", 9).alias("temp_share"),
        F.round("sample_rate", 9).alias("sample_rate"),
        "n_kept",
    )


# NULL ids hash as '' — sketch._sample_key coalesces before the concat
_MD5B = MD5_SQL.format(x="coalesce(CAST(doc_id AS VARCHAR), '')") + " % 1000000"


@query("documents", oracle=f"""
    SELECT doc_id,
           CASE WHEN {_MD5B} < 100000 THEN 'test'
                WHEN {_MD5B} < 900000 THEN 'train'
                ELSE 'val' END AS split
    FROM documents
""")
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment over documents
    (md5 oracle kernel). Row-level assignments, not counts, so the
    hash check pins every document's split."""
    from ..operators.sketch import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, hash_mode="md5"
    ).select("doc_id", "split")


# score_sample's own domain salt ('score' — distinct from
# split_assign's '' axis so composed sampling draws independent
# hashes; sketch._sample_key)
_MD5B_SCORE = (
    MD5_SQL.format(x="coalesce(CAST(doc_id AS VARCHAR), '') || 'score'")
    + " % 1000000"
)


@query("documents", oracle=f"""
    WITH s AS (
      SELECT doc_id, (n_chars % 7) / 7.0 AS score FROM documents
    )
    SELECT doc_id, score FROM s
    WHERE {_MD5B_SCORE} < pow(least(greatest(score, 0.0), 1.0), 2.0) * 1000000
""")
def q_score_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted soft sampling at power=2 over an exact-sevenths
    score ((n_chars % 7) / 7): keep iff bucket < score² · precision.
    Sevenths keep every threshold ≥ 0.08 away from an integer, so a
    last-ulp pow() difference between JVM and DuckDB libm cannot flip
    a keep decision."""
    from ..operators.sketch import score_sample

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("score", (F.col("n_chars") % 7) / F.lit(7.0))
    )
    return score_sample(docs, "score", power=2.0, hash_mode="md5").select(
        "doc_id", "score"
    )


@query("documents", oracle=f"""
    WITH a AS (
      SELECT {MD5_SQL.format(x=_NORM_C)} AS f,
             CASE WHEN {_MD5B} < 100000 THEN 'test'
                  WHEN {_MD5B} < 900000 THEN 'train'
                  ELSE 'val' END AS split
      FROM documents
    ),
    per AS (
      SELECT f, split, count(*) AS n FROM a GROUP BY f, split
    ),
    fl AS (
      SELECT split, n,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               OVER (PARTITION BY f) AS in_train
      FROM per
    )
    SELECT split,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN in_train = 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_leaked,
           sum(CASE WHEN in_train = 1 THEN n ELSE 0 END) / (1.0 * sum(n))
             AS leak_ratio
    FROM fl WHERE split <> 'train'
    GROUP BY split
""")
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: split documents 80/10/10 with
    the deterministic md5 assigner, then count val/test docs whose
    normalized-text fingerprint also appears in train — the exact-dup
    train/test leakage check (the fixture's duplicate pairs straddle
    splits, so leak counts are non-trivial)."""
    from ..operators.dedup import split_leakage
    from ..operators.sketch import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assigned = split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, hash_mode="md5"
    )
    return split_leakage(assigned)


@query("documents", oracle="""
    WITH s AS (
      SELECT mod(doc_id, 25) AS grp, doc_id,
             CAST(len(list_distinct(string_split(
               trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')))
               AS BIGINT) AS score
      FROM documents
    ),
    r AS (
      SELECT grp, doc_id, score,
             row_number() OVER (PARTITION BY grp
                                ORDER BY score DESC, doc_id ASC) AS rn
      FROM s
    ),
    c AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_candidates
          FROM s GROUP BY grp),
    t AS (
      SELECT grp,
             max(CASE WHEN rn = 1 THEN doc_id END) AS winner_id,
             max(CASE WHEN rn = 1 THEN score END) AS best_score,
             max(CASE WHEN rn = 2 THEN score END) AS second_score
      FROM r WHERE rn <= 2 GROUP BY grp
    )
    SELECT c.grp, c.n_candidates, t.winner_id, t.best_score,
           t.second_score,
           t.best_score - t.second_score AS margin
    FROM c JOIN t USING (grp)
    WHERE c.n_candidates >= 2
""")
def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection-sampling selection over the documents table:
    candidate groups are ``doc_id % 25``, the score is the distinct
    normalized-token count (a deterministic stand-in for a reward
    model), winner + runner-up margin per group — value-matched
    against a DuckDB rank-window twin."""
    from ..operators.assemble import best_of_n
    from ..operators.dedup import _norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        (F.col("doc_id") % 25).alias("grp"),
        F.col("doc_id"),
        F.size(
            F.array_distinct(
                F.split(_norm_text(F.coalesce(F.col("text"), F.lit(""))), " ")
            )
        )
        .cast("long")
        .alias("score"),
    )
    return best_of_n(scored, "grp", "score", "doc_id")
