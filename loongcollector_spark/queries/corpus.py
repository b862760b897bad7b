"""Corpus and tokenizer statistics over documents: vocabulary, BPE,
TF-IDF, PMI, Zipf, drift and overlap, BM25 retrieval, chunking and
sequence packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MD5_SQL
from .common import _NORM, _NORM_C
from .registry import query


@query("documents", oracle="""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN 0
                      ELSE len(string_split_regex(trim(coalesce(text, '')),
                                                  '\\s+')) END) AS BIGINT)
                 AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS td,
             CAST(sum(n_tokens) AS BIGINT) AS tt
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(n_docs AS DOUBLE) / td, 9) AS doc_share,
           round(CAST(n_tokens AS DOUBLE) / tt, 9) AS token_share
    FROM per CROSS JOIN tot
""")
def q_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report: per-source doc/token counts and corpus
    shares — the table sampling weights are chosen from."""
    from ..operators.text import mixture_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mixture_report(docs)
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("doc_share", 9).alias("doc_share"),
        F.round("token_share", 9).alias("token_share"),
    )


@query("documents", oracle=f"""
    WITH dl AS (
      SELECT doc_id, len(string_split({_NORM}, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, dl, unnest(tk) AS term
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS tk,
                   len(string_split({_NORM}, ' ')) AS dl
            FROM documents)
    ),
    m AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM toks WHERE term IN ('spark', 'window', 'hash')
      GROUP BY 1, 2
    ),
    tdf AS (SELECT term, count(*) AS df FROM m GROUP BY 1)
    SELECT m.doc_id,
           CAST(count(*) AS BIGINT) AS n_terms_matched,
           round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 9)
               AS score
    FROM m JOIN tdf USING (term) CROSS JOIN stats
    GROUP BY m.doc_id
""")
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: score every document matching ≥1 of the
    literal query terms (Lucene idf variant), value-checked against an
    exact DuckDB twin (score rounded 9 dp both sides)."""
    from ..operators.retrieval import bm25_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bm25_score(docs, ["spark", "window", "hash"])
    return out.select(
        "doc_id", "n_terms_matched", F.round("score", 9).alias("score")
    )


@query("documents", oracle=f"""
    WITH t AS (SELECT string_split({_NORM}, ' ') AS tk FROM documents),
    p AS (
      SELECT unnest([{{'l': tk[i], 'r': tk[i + 1]}}
                     for i in generate_series(1, len(tk) - 1)]) AS s
      FROM t
    )
    SELECT s.l AS lhs, s.r AS rhs, count(*) AS pair_count
    FROM p GROUP BY 1, 2 HAVING count(*) >= 2
""")
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training pair statistics: corpus-wide adjacent-token-pair
    counts (the per-round statistic of byte-pair-encoding tokenizer
    training), exact integer counts vs the DuckDB twin."""
    from ..operators.text import bpe_pair_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_pair_stats(docs, min_count=2).select(
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "pair_count",
    )


# Ordered BPE merge list trained ONCE on the sf0.01 documents corpus
# via operators.bpe.train_bpe(num_merges=24, max_words=50_000) —
# literal (like pq_ann's codebooks) so the DuckDB twin can replay the
# exact same merge fold; retraining live would learn different merges
# per scale factor and break cross-engine comparison.
_BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
]


def _bpe_fold_sql(col: str) -> str:
    expr = f"'||' || regexp_replace({col}, '(.)', '\\1||', 'g')"
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, '|{a}||{b}|', '|{a}{b}|')"
    return expr


@query("documents", oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split({_NORM_C}, ' ')) AS word
      FROM documents
    ),
    f AS (
      SELECT doc_id, word, {_bpe_fold_sql("word")} AS enc
      FROM w WHERE word <> ''
    )
    SELECT doc_id,
           count(*) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(length(enc) - length(replace(enc, '||', '|')) - 1)
                AS BIGINT) AS n_tokens
    FROM f GROUP BY doc_id
""")
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE tokenization (operators/bpe.py): apply the
    fixed 24-merge table to every normalized word and report word /
    char / post-merge token counts per document. The expr engine's
    merge fold is k literal ``replace`` calls on the ``||``-delimited
    word encoding — whole-stage codegen on Spark and replayed verbatim
    by the DuckDB twin, so token counts hash-match exactly."""
    from ..operators.bpe import bpe_tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_tokenize(docs, _BPE_MERGES).select(
        "doc_id", "n_words", "n_chars", "n_tokens"
    )


@query("documents", oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_append(regexp_extract_all(coalesce(text, ''),
                 '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'), '<eos>') AS tk
      FROM documents
    ),
    o AS (
      SELECT doc_id, tk,
             coalesce(sum(len(tk)) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS g_start
      FROM d
    ),
    t AS (
      SELECT unnest([{'g_pos': g_start + i - 1, 'tok': tk[i],
                      'doc_id': doc_id}
                     for i in generate_series(1, len(tk))]) AS s
      FROM o
    )
    SELECT CAST(s.g_pos // 512 AS BIGINT) AS seq_id,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(count(DISTINCT s.doc_id) AS INT) AS n_docs,
           min(s.doc_id) AS first_doc,
           md5(string_agg(s.tok, ' ' ORDER BY s.g_pos)) AS fp
    FROM t GROUP BY 1
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM sequence packing: concatenate the documents corpus in doc_id
    order with <eos> separators and chunk into 512-token training
    sequences; per-sequence token count, doc span, and md5 fingerprint
    of the packed tokens are value-matched token-for-token against the
    DuckDB twin (exact distributed prefix-sum, one data shuffle)."""
    from ..operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, seq_len=512)


@query("documents", oracle=f"""
    WITH t AS (
      SELECT unnest(string_split({_NORM_C}, ' ')) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    head AS (
      SELECT sum(c) AS hc FROM (
        SELECT c FROM v ORDER BY c DESC, tok ASC LIMIT 100)
    ),
    r AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM v
    )
    SELECT n_tokens, vocab_size, n_hapax,
           round(CAST(hc AS DOUBLE) / n_tokens, 9) AS head_share_r
    FROM r, head
""")
def q_vocab_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary report (tokenizer-design pass): total token
    occurrences, vocab size, hapax count, Zipf-head (top-100) share —
    one aggregation + a 100-row TakeOrdered, value-matched against the
    DuckDB twin (head ties broken (count desc, token asc) in both)."""
    from ..operators.text import vocab_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = vocab_report(docs, top_n=100)
    return out.select(
        "n_tokens",
        "vocab_size",
        "n_hapax",
        F.round("head_share", 9).alias("head_share_r"),
    )


_OOV_VOCAB = [
    "the", "and", "of", "to", "in", "is", "that", "with",
    "a", "an", "it", "on", "for", "as", "are",
]


@query("documents", oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_C}, ' ') AS tk,
             length({_NORM_C}) AS nl
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             CASE WHEN nl = 0 THEN 0 ELSE len(tk) END AS n_tokens,
             CASE WHEN nl = 0 THEN 0 ELSE
               len(list_filter(tk, x -> NOT list_contains(
                 ['the','and','of','to','in','is','that','with',
                  'a','an','it','on','for','as','are'], x)))
             END AS n_oov
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           round(CASE WHEN n_tokens > 0
                      THEN CAST(n_oov AS DOUBLE) / n_tokens
                      ELSE 0.0 END, 9) AS oov_frac_r
    FROM c
""")
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against a literal function-
    word vocabulary (the content-word fraction signal); counts and
    9 dp fractions value-matched against the DuckDB list twin."""
    from ..operators.text import oov_rate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = oov_rate(docs, _OOV_VOCAB)
    return out.select(
        "doc_id", "n_tokens", "n_oov", F.round("oov_frac", 9).alias("oov_frac_r")
    )


@query("documents", oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_C}, ' ') AS tk, {_NORM_C} AS nm
      FROM documents
    ),
    nn AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(nm) > 0),
    s AS (
      SELECT doc_id, tk, unnest(generate_series(1, n, 24)) AS st FROM nn
    )
    SELECT doc_id,
           CAST((st - 1) // 24 AS BIGINT) AS chunk_idx,
           CAST(len(tk[st:st + 31]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(tk[st:st + 31], ' ') AS chunk_text
    FROM s
""")
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG document chunking: fixed-size overlapping token windows
    (32-token chunks every 24 tokens) over the documents corpus —
    pure-codegen split→sequence→posexplode→slice, value-matched
    against a DuckDB generate_series twin."""
    from ..operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_size=32, stride=24)


@query("documents", oracle=f"""
    WITH tk AS (
      SELECT doc_id, string_split({_NORM_C}, ' ') AS t FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i + 2], ' ')
                       for i in generate_series(1, len(t) - 2)]) AS g
        FROM tk WHERE len(t) >= 3
      )
    ),
    pd AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
    fi AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY 1),
    nv AS (SELECT fd AS doc_id, count(*) AS n_novel FROM fi GROUP BY 1)
    SELECT pd.doc_id, CAST(pd.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
           round(coalesce(nv.n_novel, 0) * 1.0 / pd.n_grams, 9) AS novelty
    FROM pd LEFT JOIN nv USING (doc_id)
""")
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty: fraction of a doc's distinct
    3-grams whose corpus-wide first occurrence (min doc_id) is this
    doc; exact integer counts vs the DuckDB twin."""
    from ..operators.text import ngram_novelty

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_novelty(docs, k=3)
    return out.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round("novelty", 9).alias("novelty"),
    )


@query("documents", oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             len(string_split({_NORM_C}, ' ')) AS dl,
             unnest(string_split({_NORM_C}, ' ')) AS term
      FROM documents WHERE {_NORM_C} <> ''
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM tok GROUP BY doc_id, term
    ),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (
      SELECT count(*) AS n_docs FROM documents WHERE {_NORM_C} <> ''
    ),
    s AS (
      SELECT tf.doc_id, tf.term,
             (tf.tf * 1.0 / tf.dl) * ln(n.n_docs * 1.0 / dfr.df) AS tfidf
      FROM tf JOIN dfr USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
             ) AS rank
      FROM s
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term,
           round(tfidf, 9) AS tfidf
    FROM r WHERE rank <= 3
""")
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords over documents. Rank ties
    break on term ascending; scores rounded 9 dp. Cross-engine rank
    agreement relies on genuinely-different (tf, df) pairs never
    landing within one ulp of each other — exact ties share inputs,
    so both engines order them identically by the term tie-break."""
    from ..operators.retrieval import tfidf_topk_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tfidf_topk_terms(docs, k=3)
    return out.select(
        "doc_id", "rank", "term", F.round("tfidf", 9).alias("tfidf")
    )


@query("documents", oracle=f"""
    WITH tok AS (
      SELECT string_split({_NORM_C}, ' ') AS tk
      FROM documents WHERE {_NORM_C} <> ''
    ),
    pr AS (
      -- parallel unnests zip positionally in DuckDB: slice [1..n-1]
      -- pairs with slice [2..n] to give the adjacent bigrams
      SELECT unnest(tk[1:len(tk) - 1]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM tok WHERE len(tk) >= 2
    ),
    pc AS (SELECT w1, w2, count(*) AS pair_count FROM pr GROUP BY w1, w2),
    uni AS (
      SELECT w, count(*) AS uc
      FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY w
    ),
    tot AS (
      SELECT (SELECT sum(uc) FROM uni) AS n_tok,
             (SELECT sum(pair_count) FROM pc) AS n_pairs
    ),
    s AS (
      SELECT pc.w1, pc.w2, pc.pair_count,
             ln((pc.pair_count * tot.n_tok * 1.0 * tot.n_tok)
                / (tot.n_pairs * 1.0 * u1.uc * u2.uc)) AS pmi
      FROM pc
      JOIN uni u1 ON u1.w = pc.w1
      JOIN uni u2 ON u2.w = pc.w2
      CROSS JOIN tot
      WHERE pc.pair_count >= 2
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)
               AS rank
      FROM s
    )
    SELECT CAST(rank AS INT) AS rank, w1, w2, pair_count,
           round(pmi, 9) AS pmi
    FROM r WHERE rank <= 15
""")
def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 adjacent-word collocations by PMI (min pair count 2)
    over documents; scores rounded 9 dp. Cross-engine rank agreement
    rests on the tfidf_terms argument: identical integer (c_xy, c_x,
    c_y, N) inputs yield identical doubles, exact ties share inputs
    and break identically on (w1, w2)."""
    from ..operators.text import pmi_collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pmi_collocations(docs, k=15, min_count=2)
    return out.select(
        "rank", "w1", "w2", "pair_count", F.round("pmi", 9).alias("pmi")
    )


@query("documents", oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM_C}, ' ')) AS term
      FROM documents WHERE {_NORM_C} <> ''
    ),
    co AS (
      SELECT term, count(*) AS count_old FROM tok
      WHERE doc_id % 2 = 0 GROUP BY term
    ),
    cn AS (
      SELECT term, count(*) AS count_new FROM tok
      WHERE doc_id % 2 = 1 GROUP BY term
    ),
    j AS (
      SELECT coalesce(co.term, cn.term) AS term,
             coalesce(count_old, 0) AS count_old,
             coalesce(count_new, 0) AS count_new
      FROM co FULL OUTER JOIN cn ON co.term = cn.term
    ),
    tot AS (
      SELECT sum(count_old) AS n_old, sum(count_new) AS n_new,
             count(*) AS v
      FROM j
    ),
    s AS (
      SELECT term, count_old, count_new,
             ln(((count_new + 1.0) / (tot.n_new + tot.v))
                / ((count_old + 1.0) / (tot.n_old + tot.v)))
               AS log_ratio
      FROM j CROSS JOIN tot
    ),
    r AS (
      SELECT *, row_number() OVER (
               ORDER BY abs(log_ratio) DESC, term ASC) AS rank
      FROM s
    )
    SELECT CAST(rank AS INT) AS rank, term,
           CAST(count_old AS BIGINT) AS count_old,
           CAST(count_new AS BIGINT) AS count_new,
           round(log_ratio, 9) AS log_ratio
    FROM r WHERE rank <= 20
""")
def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between the even- and odd-doc_id
    halves of documents: top-20 terms by |add-1-smoothed log
    probability ratio|, rounded 9 dp — the corpus-language diff the
    per-doc corpus_delta can't see."""
    from ..operators.delta import token_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=20,
    )
    return out.select(
        "rank", "term", "count_old", "count_new",
        F.round("log_ratio", 9).alias("log_ratio"),
    )


_FIM_B1 = "({h} % 1000)".format(
    h=MD5_SQL.format(x="CAST(doc_id AS VARCHAR) || '#fimp'")
)
_FIM_B2 = "({h} % 1000)".format(
    h=MD5_SQL.format(x="CAST(doc_id AS VARCHAR) || '#fimm'")
)


@query("documents", oracle=f"""
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t,
             length(coalesce(text, '')) AS L
      FROM documents
      WHERE length(coalesce(text, '')) >= 3
    ),
    c AS (
      SELECT doc_id, t, L,
             1 + CAST(floor({_FIM_B1} * (L - 2) / 1000) AS INT) AS c1
      FROM d
    ),
    c2 AS (
      SELECT doc_id, t, L, c1,
             c1 + 1 + CAST(floor({_FIM_B2} * (L - 2 - c1) / 1000) AS INT)
               AS cc2
      FROM c
    )
    SELECT doc_id,
           CAST(L AS INT) AS n_chars,
           CAST(c1 AS INT) AS prefix_chars,
           CAST(cc2 - c1 AS INT) AS middle_chars,
           '<|fim_prefix|>' || substr(t, 1, c1)
             || '<|fim_suffix|>' || substr(t, cc2 + 1, L - cc2)
             || '<|fim_middle|>' || substr(t, c1 + 1, cc2 - c1) AS fim_text
    FROM c2
""")
def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle example construction over documents with the
    md5 oracle hash kernel: both cut points and all three substrings
    (rendered PSM) value-matched against a DuckDB twin — a one-char
    offset anywhere breaks the hash."""
    from ..operators.chunking import fim_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fim_split(docs, hash_mode="md5")


@query("documents", oracle="""
    WITH tok AS (
      SELECT unnest(string_split(
               trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    v AS (
      SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY t
    ),
    r AS (
      SELECT c,
             ln(CAST(row_number() OVER (ORDER BY c DESC, t ASC) AS DOUBLE))
               AS x,
             ln(CAST(c AS DOUBLE)) AS y
      FROM v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(CASE WHEN var_pop(x) = 0 THEN NULL
                 ELSE covar_pop(x, y) / var_pop(x) END, 6) AS slope,
           round(CASE WHEN var_pop(x) = 0 THEN NULL
                 ELSE avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x)
                 END, 6) AS intercept,
           round(CASE WHEN var_pop(x) * var_pop(y) = 0 THEN NULL
                 ELSE covar_pop(x, y) * covar_pop(x, y)
                      / (var_pop(x) * var_pop(y)) END, 6) AS r2
    FROM r
""")
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS over the documents vocabulary; both
    engines compute identical ln/covar_pop/var_pop/corr moments,
    rounded to 6 dp (the lm_perplexity convention for transcendental
    outputs)."""
    from ..operators.text import zipf_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs)


@query("documents", oracle="""
    WITH toks AS (
      SELECT source,
             string_split(
               trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS tk
      FROM documents
      WHERE length(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
              '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) > 0
    ),
    g AS (
      SELECT source,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
      FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS u(i)
    ),
    ps AS (SELECT DISTINCT gram, source FROM g),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS total
            FROM ps GROUP BY source),
    com AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS grams_common
      FROM ps a JOIN ps b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, ta.total AS grams_a, tb.total AS grams_b,
           grams_common,
           grams_common / (ta.total + tb.total - grams_common) AS jaccard,
           grams_common / least(ta.total, tb.total) AS containment
    FROM com
    JOIN tot ta ON ta.source = src_a
    JOIN tot tb ON tb.source = src_b
""")
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram overlap between document sources, value-matched
    against a DuckDB generate_series gram twin with a distinct
    self-join."""
    from ..operators.dedup import source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_overlap(docs, k=3)


@query("documents", oracle="""
    WITH t AS (
      SELECT lang,
             length(coalesce(text, '')) AS nc,
             CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(coalesce(text, '')),
                                              '\\s+')) END AS nw,
             len(regexp_extract_all(coalesce(text, ''),
                 '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS nr
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
           CAST(sum(nr) AS BIGINT) AS n_re_tokens,
           CASE WHEN sum(nw) = 0 THEN NULL
                ELSE sum(nc) / (1.0 * sum(nw)) END AS chars_per_ws_token,
           CASE WHEN sum(nr) = 0 THEN NULL
                ELSE sum(nc) / (1.0 * sum(nr)) END AS chars_per_re_token,
           CASE WHEN sum(nw) = 0 THEN NULL
                ELSE sum(nr) / (1.0 * sum(nw)) END AS re_per_ws
    FROM t GROUP BY lang
""")
def q_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language over the documents table,
    value-matched against a DuckDB conditional-aggregate twin with the
    same whitespace/regex token definitions."""
    from ..operators.text import fertility_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fertility_report(docs)
