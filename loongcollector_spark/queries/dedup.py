"""Exact and near-duplicate detection over documents and conversations
(hash, MinHash/LSH, SimHash, winnowing, substring, edit distance),
and the curation pipelines built on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, MD5_SQL
from ..sources.transcripts import load_transcripts
from .common import _LINED_SQL, _NORM, _NORM_C, _TX, _lined_docs
from .registry import query


@query("documents", oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY text
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup winners on the documents table (hash-groupBy)."""
    from ..operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_exact(docs)


@query("documents", oracle="""
    WITH segs AS (
        SELECT doc_id,
               list_transform(
                   range(0, cast(ceil(len(string_split(coalesce(text, ''), ' ')) / 10.0) AS BIGINT)),
                   i -> array_to_string(
                       list_slice(string_split(coalesce(text, ''), ' '), i * 10 + 1, i * 10 + 10),
                       ' ')
               ) AS seg_arr,
               cast(ceil(len(string_split(coalesce(text, ''), ' ')) / 10.0) AS BIGINT) AS n_segments
        FROM documents
    ),
    ex AS (
        SELECT doc_id, n_segments,
               generate_subscripts(seg_arr, 1) - 1 AS seg_idx,
               unnest(seg_arr) AS seg
        FROM segs
    ),
    keep AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        FROM ex
    ),
    re AS (
        SELECT doc_id,
               string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup,
               count(*) AS n_kept
        FROM keep WHERE rn = 1 GROUP BY doc_id
    )
    SELECT s.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           s.n_segments,
           coalesce(r.n_kept, 0) AS n_kept
    FROM (SELECT DISTINCT doc_id, n_segments FROM segs) s
    LEFT JOIN re r USING (doc_id)
""")
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment-level exact dedup (MassiveText-style
    paragraph dedup at 10-token chunk granularity): drop every segment
    already seen earlier in the corpus, reassemble survivors."""
    from ..operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return segment_dedup(docs, tokens_per_segment=10)


@query("documents", oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
""")
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 document fingerprint over normalized text."""
    from ..operators.text import fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(docs).select("doc_id", "fingerprint")


@query("documents", oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
      WHERE doc_id < 100
    ),
    g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN [array_to_string(tk[i:i+2], ' ')
                          for i in generate_series(1, len(tk) - 2)]
                    ELSE [array_to_string(tk, ' ')] END) AS gr
      FROM norm
    )
    SELECT ga.doc_id AS a, gb.doc_id AS b,
           round(CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE) /
                 len(list_distinct(list_concat(ga.gr, gb.gr))), 9) AS jaccard
    FROM g ga JOIN g gb ON gb.doc_id = ga.doc_id + 1
""")
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification kernel
    (dedup.ngram_jaccard_pairs) over a deterministic candidate set:
    consecutive doc-id pairs from the first 100 documents — the shape
    the LSH stages hand to the verifier, value-checkable end-to-end."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
        .filter(F.col("b") < 100)
    )
    out = ngram_jaccard_pairs(docs, cand, n=3)
    return out.select("a", "b", F.round("jaccard", 9).alias("jaccard"))


def _minhash_oracle_sql(
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    source_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB oracle reproducing minhash_dedup_pairs(hash_mode='md5')
    end-to-end: normalize → word k-shingles (list comprehension twin
    of the window-lead shingler) → 64 md5-permutation min-aggregates →
    16 band buckets (concatenated signature strings) → bucket
    self-join candidates → signature-agreement estimate ≥ threshold.
    *source_sql* must yield (doc_id, text) — conv_neardup passes the
    merged-conversation rendering."""
    rpb = num_perm // bands
    mins = ",\n      ".join(
        "min({h}) AS m{p}".format(h=MD5_SQL.format(x=f"s || ':{p}'"), p=p)
        for p in range(1, num_perm + 1)
    )
    band_sel = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bucket FROM sigs".format(
            b=b,
            cols=", ".join(f"m{p}" for p in range(b * rpb + 1, (b + 1) * rpb + 1)),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.m{p} = sb.m{p} THEN 1 ELSE 0 END)"
        for p in range(1, num_perm + 1)
    )
    return f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM ({source_sql})
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= {k}
                  THEN [array_to_string(tk[i:i+{k - 1}], ' ')
                        for i in generate_series(1, len(tk) - {k - 1})]
                  ELSE [array_to_string(tk, ' ')] END AS shs
      FROM norm
    ),
    srow AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sigs AS (
      SELECT doc_id,
      {mins}
      FROM srow GROUP BY doc_id
    ),
    buckets AS (
      {band_sel}
    ),
    cand AS (
      SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
      FROM buckets ba JOIN buckets bb
        ON ba.band = bb.band AND ba.bucket = bb.bucket
       AND ba.doc_id < bb.doc_id
    )
    SELECT a, b, jaccard_est FROM (
      SELECT cand.a, cand.b, ({agree}) / {num_perm} AS jaccard_est
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.a
      JOIN sigs sb ON sb.doc_id = cand.b
    ) WHERE jaccard_est >= {threshold}
    """


@query("documents", oracle=_minhash_oracle_sql())
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs on documents, oracle hash mode: the
    md5-derived permutation kernel is reproduced verbatim in DuckDB,
    so candidate pairs AND jaccard estimates value-match. The bench
    measures the identical plan with the production xxhash64 kernel."""
    from ..operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(docs, threshold=0.5, hash_mode="md5")


def _simhash_oracle_sql(bits: int = 60) -> str:
    """DuckDB oracle reproducing simhash(hash_mode='md5'): distinct
    tokens → 60-bit md5 hash → per-bit majority vote (bits 60..63 of
    the 64-bit fingerprint vote 0 under the 60-bit kernel)."""
    cnts = ",\n      ".join(
        f"sum((h >> {b}) & 1) AS c{b}" for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN c{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    h = MD5_SQL.format(x="t")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS t
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    cnts AS (
      SELECT doc_id, count(*) AS n,
      {cnts}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM cnts
    """


@query("documents", oracle=_simhash_oracle_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints, oracle hash mode (60-bit md5 kernel,
    DuckDB-reproducible). Bench measures the xxhash64/64-bit mode."""
    from ..operators.dedup import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs, hash_mode="md5").select("doc_id", "simhash")


@query("documents", oracle="""
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ),
    winners AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
    kept AS (
      SELECT fp.* FROM fp
      JOIN winners w ON fp.f = w.f AND fp.doc_id = w.doc_id
    ),
    stats AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
      FROM kept
    )
    SELECT lang, count(*) AS n_docs, cast(sum(n) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id
    FROM stats WHERE n >= 5 GROUP BY lang
""")
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation pipeline: fingerprint-dedup →
    quality gate → per-language corpus stats. One Catalyst plan:
    dedup winners via min-id-per-fingerprint (broadcastable winner set
    at corpus scale after dedup), token/quality gates as pushable
    predicates, final per-language aggregate."""
    from ..operators.text import fingerprint, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = fingerprint(docs)
    winners = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    kept = fp.join(
        winners, ["fingerprint", "doc_id"], "left_semi"
    )
    stats = token_stats(kept)
    gated = stats.filter(F.col("n_ws_tokens") >= 5)
    return gated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _dedup_components_oracle_sql() -> str:
    pairs_sql = _minhash_oracle_sql()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a, b FROM ({pairs_sql})
    ),
    edges AS (
      SELECT a AS n, b AS m FROM pairs
      UNION
      SELECT b AS n, a AS m FROM pairs
    ),
    reach(n, m) AS (
      SELECT n, m FROM edges
      UNION
      SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n
    ),
    comp AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS component
      FROM documents d LEFT JOIN reach r ON r.n = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, component, doc_id = component AS is_canonical FROM comp
    """


@query("documents", oracle=_dedup_components_oracle_sql())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: MinHash+LSH pairs → connected components
    (hash-min label propagation) → per-doc cluster + canonical flag.
    Oracle hash mode (md5 kernel) so the candidate pairs match DuckDB;
    the DuckDB twin computes components with a recursive CTE over the
    same pairs — a genuinely iterative Spark algorithm value-checked
    end-to-end."""
    from ..operators.dedup import dedup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_components(docs, threshold=0.5, hash_mode="md5")


def _curation_v2_oracle_sql() -> str:
    pairs_sql = _minhash_oracle_sql()
    thresh = MD5_SQL.format(x="concat(cast(doc_id AS STRING), 'cv2')")
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a, b FROM ({pairs_sql})
    ),
    edges AS (
      SELECT a AS n, b AS m FROM pairs
      UNION SELECT b AS n, a AS m FROM pairs
    ),
    reach(n, m) AS (
      SELECT n, m FROM edges
      UNION
      SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n
    ),
    comp AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS component
      FROM documents d LEFT JOIN reach r ON r.n = d.doc_id
      GROUP BY d.doc_id
    ),
    kept AS (
      SELECT d.* FROM documents d
      JOIN comp c ON c.doc_id = d.doc_id AND c.component = d.doc_id
    ),
    gated AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
      FROM kept
    ),
    sampled AS (
      SELECT * FROM gated
      WHERE n >= 5 AND mod({thresh}, 1000000) < {int(0.6 * 1_000_000)}
    )
    SELECT lang, count(*) AS n_docs, cast(sum(n) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id
    FROM sampled GROUP BY lang
    """


@query("documents", oracle=_curation_v2_oracle_sql())
def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pipeline, value-checked end-to-end:
    MinHash+LSH near-dup clustering → keep canonical docs → token
    quality gate (≥5 ws tokens) → deterministic 60% stratified sample
    per language → per-language corpus stats. Every stage shares its
    engine-portable kernel with an existing oracle (md5 minhash,
    recursive-CTE components, md5 sample threshold), so the composite
    has an exact DuckDB twin — this is jobs/run_curation.py as one
    Catalyst plan."""
    from ..operators.dedup import dedup_components
    from ..operators.text import stratified_sample, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comp = dedup_components(docs, threshold=0.5, hash_mode="md5")
    canonical = comp.filter(F.col("is_canonical")).select("doc_id")
    kept = docs.join(canonical, "doc_id", "left_semi")
    gated = token_stats(kept).filter(F.col("n_ws_tokens") >= 5)
    sampled = stratified_sample(
        gated, "lang", {}, default_fraction=0.6, salt="cv2", hash_mode="md5"
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


_WIN_HASH = MD5_SQL.format(x="array_to_string(tk[i:i+14], ' ')")


@query("documents", oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
    ),
    tok AS (
      SELECT doc_id,
             unnest([{{'pos': i - 1, 'tok': tk[i]}}
                     for i in generate_series(1, len(tk))]) AS s
      FROM t
    ),
    tokr AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM tok),
    w AS (
      SELECT doc_id,
             unnest([{{'pos': i - 1,
                      'wh': {_WIN_HASH}}}
                     for i in generate_series(1, len(tk) - 14)]) AS s
      FROM t WHERE len(tk) >= 15
    ),
    wr AS (SELECT doc_id, s.pos AS pos, s.wh AS wh FROM w),
    dup AS (
      SELECT wh, min({{'doc_id': doc_id, 'pos': pos}}) AS fo
      FROM wr GROUP BY wh HAVING count(*) > 1
    ),
    rm AS (
      SELECT wr.doc_id, wr.pos AS s, wr.pos + 15 AS e
      FROM wr JOIN dup USING (wh)
      WHERE NOT (wr.doc_id = dup.fo.doc_id AND wr.pos = dup.fo.pos)
    ),
    flg AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS f
      FROM rm
    ),
    grp AS (
      SELECT doc_id, s, e,
             sum(f) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM flg
    ),
    spans AS (
      SELECT doc_id, min(s) AS ss, max(e) AS se FROM grp GROUP BY doc_id, g
    ),
    rmpos AS (
      SELECT doc_id, unnest(generate_series(ss, se - 1)) AS pos FROM spans
    ),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS text_dedup
      FROM tokr ANTI JOIN rmpos USING (doc_id, pos)
      GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_tokens FROM tokr GROUP BY doc_id)
    SELECT tot.doc_id,
           md5(coalesce(kept.text_dedup, '')) AS fp,
           CAST(tot.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(tot.n_tokens - coalesce(kept.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN kept USING (doc_id)
""")
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021) over the documents corpus:
    every 15-token window occurring more than once is cut from all but
    its corpus-first occurrence; per doc the surviving normalized text
    (as md5 fingerprint) plus kept/removed token counts, value-matched
    against a full DuckDB twin (same window→first-occurrence→
    interval-merge→anti-join chain; its md5 window hash and the
    operator's xxhash64 are both only grouping keys)."""
    from ..operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = remove_duplicate_spans(docs, k=15)
    return out.select(
        "doc_id",
        F.md5("text_dedup").alias("fp"),
        "n_tokens",
        "n_kept",
        "n_removed",
    )


@query("documents", oracle=f"""
    WITH o AS (
      SELECT doc_id, {MD5_SQL.format(x="coalesce(text, '')")} AS fp
      FROM documents
    ),
    nw AS (
      SELECT doc_id,
             {MD5_SQL.format(x="coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END, '')")} AS fp
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 100000, {MD5_SQL.format(x="coalesce(text, '')")}
      FROM documents WHERE doc_id % 11 = 0
    ),
    j AS (
      SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
             o.fp AS ofp, nw.fp AS nfp
      FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id
    )
    SELECT doc_id,
           CASE WHEN ofp IS NULL THEN 'added'
                WHEN nfp IS NULL THEN 'removed'
                WHEN ofp = nfp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM j
""")
def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion snapshot diff: a deterministic 'v2' of the
    documents corpus (doc_id%7 removed, %5 text-amended, %11 re-added
    under shifted ids) diffed against v1 — per-id added/removed/
    changed/unchanged via a fingerprint full-outer join that shuffles
    (id, 8-byte hash), never text. Value-matched per id vs the DuckDB
    twin."""
    from ..operators.delta import corpus_delta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return corpus_delta(docs, new.unionAll(added))


@query("documents", oracle=f"""
    WITH t AS (
      SELECT doc_id, substr({_NORM_C}, 1, 2000) AS nt FROM documents
    ),
    cand AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents
      WHERE doc_id < 99
    )
    SELECT cand.a, cand.b,
           CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS edit_distance,
           round(1.0 - levenshtein(ta.nt, tb.nt)
                 / greatest(len(ta.nt), len(tb.nt), 1), 9)
               AS edit_similarity
    FROM cand
    JOIN t ta ON ta.doc_id = cand.a
    JOIN t tb ON tb.doc_id = cand.b
""")
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein candidate-pair verification (the post-LSH exact
    check) over the same deterministic consecutive-id candidate set
    ngram_jaccard uses; similarity rounded 9 dp."""
    from ..operators.dedup import edit_distance_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
        .filter(F.col("b") < 100)
    )
    out = edit_distance_pairs(docs, cand, max_chars=2000)
    return out.select(
        "a",
        "b",
        "edit_distance",
        F.round("edit_similarity", 9).alias("edit_similarity"),
    )


@query("documents", oracle=f"""
    WITH lined AS ({_LINED_SQL}),
    l AS (SELECT doc_id, string_split(lt, chr(10)) AS ls FROM lined),
    u AS (
      SELECT doc_id, ls,
             list_filter(ls, (x, i) -> list_position(ls, x) = i) AS uq
      FROM l
    )
    SELECT doc_id,
           array_to_string(uq, chr(10)) AS dedup_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(uq) AS BIGINT) AS n_unique
    FROM u
""")
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line removal over the synthesized
    pages (the repeated 40-char line collapses to one copy),
    first-occurrence order preserved via the engine-portable indexed
    HOF kernel."""
    from ..operators.text import dedup_lines

    return dedup_lines(_lined_docs(spark, sf_dir))


# Conversation-level near-dup: merge each dialogue into one document
# (the merge_transcript rendering) and run the full MinHash+LSH pipeline
# at dialogue granularity — train-train conversation dedup, the
# complement of conv_contamination's train-eval overlap. The fixture's
# conversations are all genuinely distinct, so the query injects
# deterministic near-dup clones (a 1-in-10 md5 conv bucket, one appended
# line — the url_hygiene/refusal_scan augmentation convention) and the
# pipeline must surface exactly those pairs.
_CONV_DUP_TAIL = "appended audit line for the clone"


_CONV_NEARDUP_SOURCE = f"""
    WITH __tx AS ({_TX}),
    __m AS (
      SELECT conv_id AS doc_id,
             string_agg(text, chr(10) ORDER BY turn_idx) AS text
      FROM __tx GROUP BY conv_id
    )
    SELECT doc_id, text FROM __m
    UNION ALL
    SELECT doc_id || '~dup' AS doc_id,
           text || chr(10) || '{_CONV_DUP_TAIL}' AS text
    FROM __m WHERE {MD5_SQL.format(x="doc_id")} % 10 = 0
"""


@query(
    "events",
    oracle=_minhash_oracle_sql(threshold=0.5, source_sql=_CONV_NEARDUP_SOURCE),
)
def q_conv_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue MinHash near-dup over merged conversations
    (operators/dedup.py:minhash_dedup_pairs at conv granularity)."""
    from ..operators.dedup import minhash_dedup_pairs

    tx = load_transcripts(spark, sf_dir)
    merged = (
        tx.groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("__a")
        )
        .select(
            "conv_id",
            F.concat_ws(
                "\n", F.transform(F.col("__a"), lambda s: s["text"])
            ).alias("doc"),
        )
    )
    clones = merged.filter(md5_long(F.col("conv_id")) % 10 == 0).select(
        F.concat(F.col("conv_id"), F.lit("~dup")).alias("conv_id"),
        F.concat(F.col("doc"), F.lit("\n" + _CONV_DUP_TAIL)).alias("doc"),
    )
    corpus = merged.unionByName(clones)
    return minhash_dedup_pairs(
        corpus, text_col="doc", id_col="conv_id", threshold=0.5, hash_mode="md5"
    )


@query("documents", oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(
        trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
          '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS tk
      FROM documents
    ),
    gpos AS (
      SELECT doc_id, tk,
             unnest(generate_series(1,
               CASE WHEN len(tk) >= 5 THEN len(tk) - 4 ELSE 1 END)) AS pos
      FROM toks
    ),
    g AS (
      SELECT doc_id, pos,
             CASE WHEN len(tk) >= 5
                  THEN array_to_string(tk[pos:pos+4], ' ')
                  ELSE array_to_string(tk, ' ') END AS gram
      FROM gpos
    ),
    h AS (
      SELECT doc_id, pos, {MD5_SQL.format(x="gram")} AS hv FROM g
    ),
    s AS (
      SELECT doc_id, pos,
             min({{'h': hv, 'np': -pos}}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM h
    ),
    fp AS (
      SELECT DISTINCT doc_id, sel['h'] AS fp_hash
      FROM s WHERE pos <= greatest(n - 3, 1)
    ),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id
    ),
    ok AS (
      SELECT fp_hash FROM fp GROUP BY fp_hash
      HAVING count(DISTINCT doc_id) <= 50
    ),
    kept AS (SELECT fp.* FROM fp JOIN ok USING (fp_hash)),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b
        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared, ta.n_fp AS n_a, tb.n_fp AS n_b,
           CAST(p.n_shared AS DOUBLE) / least(ta.n_fp, tb.n_fp)
             AS containment
    FROM p
    JOIN tot ta ON ta.doc_id = p.doc_a
    JOIN tot tb ON tb.doc_id = p.doc_b
""")
def q_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint near-dup pairs over documents
    (operators/dedup.py:winnowing_fingerprints/_pairs): k=5 word-gram
    hashes, w=4 windows, rightmost-min selection via ONE
    min(struct(h, -pos)) window; pairs join through fingerprint-hash
    buckets (≤50 docs each), never all-pairs."""
    from ..operators.dedup import winnowing_fingerprints, winnowing_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = winnowing_fingerprints(docs, k=5, w=4, hash_mode="md5")
    return winnowing_pairs(fps, max_bucket=50, min_shared=2)
