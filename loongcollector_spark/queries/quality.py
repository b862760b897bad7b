"""Document and turn quality signals: heuristic and model-based
filters, perplexity, language ID, benchmark decontamination, URL,
charset and code hygiene, and PII scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.transcripts import load_transcripts
from .common import _LINED_SQL, _NORM, _TX, _lined_docs
from .registry import query


@query("documents", oracle="""
    SELECT doc_id,
           cast(length(text) AS INT) AS n_chars_calc,
           cast(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
             AS INT) AS n_ws_tokens,
           cast(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS INT) AS n_re_tokens
    FROM documents
""")
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per document."""
    from ..operators.text import token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_stats(docs).select(
        "doc_id", "n_chars_calc", "n_ws_tokens", "n_re_tokens"
    )


@query("documents", oracle="""
    SELECT doc_id,
           cast(length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
             AS INT) AS n_punct,
           cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             AS INT) AS n_digits,
           cast(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               t -> list_contains(['the','and','of','to','in','is','that',
                                   'with','a','an','it','on','for','as','are'],
                                  t)))
             AS INT) AS n_stopwords
    FROM documents
""")
def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score integer signals per document."""
    from ..operators.text import quality_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_signals(docs).select("doc_id", "n_punct", "n_digits", "n_stopwords")


@query("documents", oracle=f"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    base AS (SELECT doc_id, len({_NORM}) AS nchars FROM d),
    lines AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d
    ),
    lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line),
    lstats AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
             CAST(sum(c - 1) AS DOUBLE) / sum(c) AS dup_line_frac,
             CASE WHEN sum(len(line) * c) > 0
                  THEN CAST(sum(len(line) * (c - 1)) AS DOUBLE)
                       / sum(len(line) * c)
                  ELSE 0.0 END AS dup_line_char_frac
      FROM lc GROUP BY doc_id
    ),
    norm AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM d),
    g2 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 2
                    THEN [array_to_string(tk[i:i+1], ' ')
                          for i in generate_series(1, len(tk) - 1)]
                    ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM norm
    ),
    g2c AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
    top AS (
      SELECT doc_id, c AS topc, len(gram) AS topl FROM (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, gram) AS rn
        FROM g2c) WHERE rn = 1
    ),
    g3 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 3
                    THEN [array_to_string(tk[i:i+2], ' ')
                          for i in generate_series(1, len(tk) - 2)]
                    ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM norm
    ),
    g3c AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram),
    dup AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
             AS dup_ngram_frac
      FROM g3c GROUP BY doc_id
    )
    SELECT b.doc_id, n_lines,
           round(dup_line_frac, 9) AS dup_line_frac,
           round(dup_line_char_frac, 9) AS dup_line_char_frac,
           CASE WHEN nchars > 0
                THEN round(CAST(topc * topl AS DOUBLE) / nchars, 9)
                ELSE 0.0 END AS top_ngram_char_frac,
           round(dup_ngram_frac, 9) AS dup_ngram_frac
    FROM base b
    JOIN lstats USING (doc_id) JOIN top USING (doc_id) JOIN dup USING (doc_id)
""")
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (dup-line / dup-line-char
    / top-bigram-char / dup-trigram fractions) per document — the
    repetition family of training-data curation rules, value-checked
    against an exact DuckDB twin (doubles rounded to 9 dp both sides)."""
    from ..operators.text import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_signals(docs, top_n=2, dup_n=3)
    return out.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 9).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 9).alias("dup_line_char_frac"),
        F.round("top_ngram_char_frac", 9).alias("top_ngram_char_frac"),
        F.round("dup_ngram_frac", 9).alias("dup_ngram_frac"),
    )


@query("documents", oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(tk) >= 4
                    THEN [array_to_string(tk[i:i+3], ' ')
                          for i in generate_series(1, len(tk) - 3)]
                    ELSE [array_to_string(tk, ' ')] END) AS gr
      FROM norm
    ),
    bench AS (SELECT DISTINCT s FROM (
      SELECT unnest(gr) AS s FROM g WHERE doc_id % 29 = 0) WHERE s <> ''),
    docg AS (SELECT doc_id, unnest(gr) AS s FROM g WHERE doc_id % 29 != 0)
    SELECT d.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
           CAST(max(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
               AS contaminated
    FROM docg d LEFT JOIN bench b ON d.s = b.s
    GROUP BY d.doc_id
""")
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination: docs with doc_id % 29
    == 0 play the held-out eval benchmark; every other document is
    flagged if it shares any word 4-gram with that benchmark (4 not 13
    because the fixture documents are ~30 tokens)."""
    from ..operators.text import benchmark_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    scan = docs.filter(F.col("doc_id") % 29 != 0)
    return benchmark_contamination(scan, bench, n=4)


@query("documents", oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    dc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS vc FROM dc GROUP BY 1),
    tot AS (SELECT CAST(sum(vc) AS BIGINT) AS total FROM vocab)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(-sum(c * log2(CAST(vc AS DOUBLE) / total)) / sum(c), 9)
               AS cross_entropy_bits,
           round(pow(2.0, -sum(c * log2(CAST(vc AS DOUBLE) / total)) / sum(c)), 6)
               AS ppl
    FROM dc JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
""")
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM perplexity quality score per document
    (model = the corpus's own unigram distribution), value-checked
    against an exact DuckDB twin (bits 9 dp, ppl 6 dp)."""
    from ..operators.text import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = lm_perplexity(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy_bits", 9).alias("cross_entropy_bits"),
        F.round("ppl", 6).alias("ppl"),
    )


def _pii_scan_oracle_sql() -> str:
    """DuckDB twin of q_pii_scan, generated from the same PII_PATTERNS
    dict (single source of truth; patterns are Java∩RE2-safe and
    contain no quotes, so plain SQL-literal embedding is safe)."""
    from ..operators.text import PII_PATTERNS

    counts = ",\n           ".join(
        f"len(regexp_extract_all(coalesce(text, ''), '{pat}')) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items()
    )
    red = "text"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    return f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           {counts},
           {red} AS redacted
    FROM transcripts
    """


@query("events", oracle=_pii_scan_oracle_sql())
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over transcript text (emails / intl
    phones / credit-card-ish numbers / IPv4s): per-turn match counts on
    the raw text and the deterministically redacted text. The patterns
    are restricted to the Java∩RE2 regex subset so the DuckDB twin is
    exact; transcripts carry live IPv4s (nginx payload), the other
    detector kinds are exercised by unit fixtures."""
    from ..operators.text import pii_redact, pii_scan

    tx = load_transcripts(spark, sf_dir)
    out = pii_redact(pii_scan(tx), "text", dest="redacted")
    return out.select(
        "conv_id", "turn_idx", "n_cc", "n_phone", "n_email", "n_ipv4", "redacted"
    )


def _language_id_oracle_sql() -> str:
    """DuckDB oracle for language_id: marker-stopword hit counts per
    language, argmax with lexicographically-first tie-break (generated
    from the same _LANG_MARKERS table the operator uses)."""
    from ..operators.text import _LANG_MARKERS

    langs = sorted(_LANG_MARKERS)
    scores = ",\n      ".join(
        "len(list_filter(toks, t -> list_contains([{m}], t))) AS s_{lang}".format(
            m=", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    best = "greatest({})".format(", ".join(f"s_{lg}" for lg in langs))
    pick = " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs[:-1]
    )
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
      {scores}
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN best <= 0 THEN 'unknown'
                {pick}
                ELSE '{langs[-1]}' END AS lang_pred
    FROM (SELECT *, {best} AS best FROM s)
    """


@query("documents", oracle=_language_id_oracle_sql())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID vs the table's lang column; the
    argmax-with-lexicographic-ties heuristic has an exact SQL twin."""
    from ..operators.text import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs).select("doc_id", "lang", "lang_pred")


# hand-set English-quality weights for the correctness query (a real
# deployment trains these via text.train_quality_classifier; literal
# weights keep the oracle a pure-arithmetic twin)
_QC_WEIGHTS = [0.3, 0.1, 1.5, 6.0, -8.0, -4.0]
_QC_BIAS = -2.0


_QC_FEAT_SQL = """
      SELECT doc_id,
             ln(1 + length(text)) AS f1,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> length(t))) AS DOUBLE)
                       / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END AS f2,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(len(list_distinct(
                         regexp_split_to_array(trim(lower(text)), '\\s+')))
                       AS DOUBLE)
                       / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END AS f3,
             CAST(len(list_filter(
                    regexp_split_to_array(trim(lower(text)), '\\s+'),
                    t -> list_contains(['the','and','of','to','in','is','that',
                                        'with','a','an','it','on','for','as',
                                        'are'], t))) AS DOUBLE)
               / (CASE WHEN length(trim(text)) = 0 THEN 1.0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  END) AS f4,
             CAST(length(text)
                  - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS DOUBLE)
               / (CASE WHEN length(text) = 0 THEN 1.0
                       ELSE length(text) END) AS f5,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE)
               / (CASE WHEN length(text) = 0 THEN 1.0
                       ELSE length(text) END) AS f6
      FROM documents
"""


@query("documents", oracle=f"""
    WITH feat AS ({_QC_FEAT_SQL}),
    z AS (
      SELECT doc_id,
             ({_QC_BIAS}) + ({_QC_WEIGHTS[0]}) * f1 + ({_QC_WEIGHTS[1]}) * f2
               + ({_QC_WEIGHTS[2]}) * f3 + ({_QC_WEIGHTS[3]}) * f4
               + ({_QC_WEIGHTS[4]}) * f5 + ({_QC_WEIGHTS[5]}) * f6 AS z
      FROM feat
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-z)), 6) AS score_r,
           (1.0 / (1.0 + exp(-z))) >= 0.5 AS keep
    FROM z
""")
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (CCNet/fastText-classifier style):
    sigmoid linear model over six surface features (log-length, mean
    word length, unique-token ratio, stopword ratio, punct ratio,
    digit ratio) — scoring is ONE codegen projection, no ML runtime.
    Scores (6 dp) + keep decisions value-matched against the DuckDB
    arithmetic twin. Training path: text.train_quality_classifier
    (MLlib LR), probability-parity pinned in tests."""
    from ..operators.text import quality_classifier_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_classifier_score(docs, _QC_WEIGHTS, _QC_BIAS, threshold=0.5)
    return out.select(
        "doc_id",
        F.round("quality_score", 6).alias("score_r"),
        F.col("quality_keep").alias("keep"),
    )


@query("documents", oracle=f"""
    WITH t AS (
      SELECT doc_id, list_prepend('<s>', string_split({_NORM}, ' ')) AS tk
      FROM documents
    ),
    pr AS (
      SELECT doc_id,
             unnest([{{'w1': tk[i], 'w2': tk[i + 1]}}
                     for i in generate_series(1, len(tk) - 1)]) AS s
      FROM t
    ),
    db AS (
      SELECT doc_id, s.w1 AS w1, s.w2 AS w2, count(*) AS dc
      FROM pr GROUP BY 1, 2, 3
    ),
    mb AS (SELECT w1, w2, sum(dc) AS bc FROM db GROUP BY 1, 2),
    cx AS (SELECT w1, sum(bc) AS cc FROM mb GROUP BY 1),
    v AS (SELECT count(DISTINCT w2) AS vs FROM mb),
    sc AS (
      SELECT db.doc_id, db.dc, mb.bc, cx.cc, v.vs
      FROM db JOIN mb USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(sum(dc) AS BIGINT) AS n_bigrams,
           round(-sum(dc * log2((bc + 1.0) / (cc + 1.0 * vs))) / sum(dc), 6)
             AS ce_bits_r
    FROM sc GROUP BY doc_id
""")
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM (add-1 smoothed) perplexity per document — the
    order-2 CCNet-style quality signal; per-doc cross-entropy bits
    (6 dp) value-matched against the DuckDB twin."""
    from ..operators.text import bigram_lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bigram_lm_perplexity(docs, alpha=1.0)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("cross_entropy_bits", 6).alias("ce_bits_r"),
    )


def _url_oracle_sql() -> str:
    from ..operators.text import URL_REGEX

    pat = URL_REGEX.replace("'", "''")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '') || ' visit https://site' || (doc_id % 7)
                  || '.example.com/p/' || doc_id
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' see http://tracker.bad-ads.net/pix?u=1.'
                          ELSE '' END AS text
      FROM documents
    ),
    u AS (SELECT doc_id, regexp_extract_all(text, '{pat}') AS urls FROM aug),
    d AS (
      SELECT doc_id, len(urls) AS n_urls,
             list_sort(list_distinct(
               [regexp_replace(lower(regexp_extract(x,
                   'https?://([A-Za-z0-9.-]+)', 1)), '\\.+$', '')
                for x in urls])) AS domains
      FROM u
    )
    SELECT doc_id,
           CAST(n_urls AS INT) AS n_urls,
           CAST(len(domains) AS INT) AS n_domains,
           array_to_string(domains, ',') AS domains_csv,
           len([x for x in domains
                if x = 'bad-ads.net' OR suffix(x, '.bad-ads.net')]) > 0
             AS blocked
    FROM d
    """


@query("documents", oracle=_url_oracle_sql())
def q_url_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style URL hygiene: extract URLs + hostnames and
    apply a domain blocklist (suffix match at label boundaries). The
    corpus carries no URLs, so the query augments each document with
    deterministic doc_id-derived links (one per doc + a tracker URL on
    every third doc) — both engines build the same text, then run the
    same extraction/blocklist arithmetic. Per-doc URL count, distinct
    domains, and the blocked flag value-matched against DuckDB."""
    from ..operators.text import domain_blocklist_filter, url_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" visit https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" see http://tracker.bad-ads.net/pix?u=1."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # ONE extraction pass: the blocked flag is the same label-boundary
    # expression domain_blocklist_filter uses, evaluated over the
    # already-extracted domains (the operator itself is covered by
    # tests/test_review_fixes3.py) — no second regex pass, no join
    stats = url_stats(aug)
    blocked = F.exists(
        F.col("domains"),
        lambda d: (d == F.lit("bad-ads.net"))
        | d.endswith(F.lit(".bad-ads.net")),
    )
    return stats.select(
        "doc_id",
        "n_urls",
        "n_domains",
        F.concat_ws(",", "domains").alias("domains_csv"),
        blocked.alias("blocked"),
    )


@query("documents", oracle="""
    WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
    w AS (
      SELECT doc_id, t,
             CASE WHEN trim(t) = '' THEN []
                  ELSE regexp_split_to_array(trim(t), '\\s+') END AS ws,
             string_split(t, chr(10)) AS ls
      FROM base
    ),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CASE WHEN len(ws) > 0
                  THEN list_sum(list_transform(ws, x -> len(x))) * 1.0
                       / len(ws)
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN len(ws) > 0
                  THEN (len(t) - len(replace(t, '#', ''))
                        + len(t) - len(replace(t, chr(8230), ''))
                        + (len(t) - len(replace(t, '...', ''))) / 3.0)
                       / len(ws)
                  ELSE 0.0 END AS symbol_ratio,
             len(list_filter(ls, l ->
                 starts_with(ltrim(l), '- ')
                 OR starts_with(ltrim(l), '* ')
                 OR starts_with(ltrim(l), chr(8226)))) * 1.0
                 / len(ls) AS bullet_frac,
             len(list_filter(ls, l ->
                 suffix(rtrim(l), '...')
                 OR suffix(rtrim(l), chr(8230)))) * 1.0
                 / len(ls) AS ellipsis_frac,
             CASE WHEN len(ws) > 0
                  THEN len(list_filter(ws, x ->
                           regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)
                  ELSE 0.0 END AS alpha_frac,
             len(list_intersect(
                 list_distinct(list_transform(ws, x -> lower(x))),
                 ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']
             )) AS n_stop
      FROM w
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           (n_words >= 50 AND n_words <= 100000) AS pass_words,
           (mean_wl >= 3.0 AND mean_wl <= 10.0) AS pass_word_len,
           (symbol_ratio <= 0.1) AS pass_symbol,
           (bullet_frac <= 0.9) AS pass_bullet,
           (ellipsis_frac <= 0.3) AS pass_ellipsis,
           (alpha_frac >= 0.8) AS pass_alpha,
           (n_stop >= 1) AS pass_stopwords,
           (n_words >= 50 AND n_words <= 100000
            AND mean_wl >= 3.0 AND mean_wl <= 10.0
            AND symbol_ratio <= 0.1
            AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8
            AND n_stop >= 1) AS keep
    FROM m
""")
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality gate (Rae et al. 2021 §A1.1) at the paper's
    canonical thresholds except min_stopwords=1: the synthetic corpus
    vocabulary carries only one of the 8 Gopher stop words ('the'), so
    the canonical 2 would fail every document and the keep verdict
    would be an uninformative all-false hash. At 1 the verdict splits
    on the 50-word rule (corpus median is 56 words). Integer/boolean
    outputs so the value hash is exact."""
    from ..operators.text import gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_rules(docs, min_stopwords=1)


_CLEAN_KEEP = (
    "len(regexp_split_to_array(trim(x), '\\s+')) >= 3"
    " AND len(trim(x)) > 0"
    " AND (suffix(trim(x), '.') OR suffix(trim(x), '!')"
    "      OR suffix(trim(x), '?') OR suffix(trim(x), '\"'))"
    " AND NOT contains(lower(trim(x)), 'lorem ipsum')"
    " AND NOT contains(lower(trim(x)), 'javascript')"
    " AND NOT contains(trim(x), '{')"
)


@query("documents", oracle=f"""
    WITH lined AS ({_LINED_SQL}),
    l AS (SELECT doc_id, string_split(lt, chr(10)) AS ls FROM lined),
    k AS (
      SELECT doc_id, ls,
             list_filter(ls, x -> {_CLEAN_KEEP}) AS kept
      FROM l
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept
    FROM k
""")
def q_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning over the synthesized 6-line pages: keeps
    the terminal-punct ≥3-word lines (including the duplicate — clean
    does not dedup), drops the lorem-ipsum, short and punct-less
    lines."""
    from ..operators.text import clean_lines

    return clean_lines(_lined_docs(spark, sf_dir))


_CODE_AUG = (
    "concat(coalesce(text, ''), CASE WHEN doc_id % 5 = 0 THEN "
    "chr(10) || '```' || chr(10) || 'def f(x):' || chr(10) || "
    "'    return {x: (x + 1)};' || chr(10) || '```' ELSE '' END)"
)


@query("documents", oracle=f"""
    WITH aug AS (SELECT doc_id, {_CODE_AUG} AS text FROM documents),
    s AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '```')) AS n_fences,
        len(regexp_extract_all(text, '(?m)^(?:    |\t)')) AS n_code_lines,
        len(string_split(text, chr(10))) AS n_lines,
        length(text) - length(regexp_replace(text,
          '[{{}}();=<>\\[\\]]', '', 'g')) AS n_symbols,
        len(regexp_extract_all(lower(text),
          '\\b(?:def|return|import|class|function|const|var|lambda|printf|include|void|elif)\\b'))
          AS n_kw,
        length(text) AS n_chars
      FROM aug
    )
    SELECT doc_id, n_fences, n_code_lines, n_lines, n_symbols, n_kw,
           (n_fences > 0
            OR (n_lines >= 3 AND n_code_lines * 10 >= n_lines * 3)
            OR (n_symbols * 20 > n_chars AND n_kw >= 2)) AS is_code
    FROM s
""")
def q_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signals. The corpus is prose, so every
    fifth doc is augmented with a deterministic fenced code block (the
    url_hygiene augmentation convention) — both engines build the same
    text, then run the same counting arithmetic."""
    from ..operators.text import code_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(
                    "\n```\ndef f(x):\n    return {x: (x + 1)};\n```"
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return code_signals(aug).select(
        "doc_id", "n_fences", "n_code_lines", "n_lines", "n_symbols",
        "n_kw", "is_code",
    )


@query("documents", oracle="""
    WITH s AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
        END AS n_words,
        greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
          + CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(list_filter(
                        regexp_split_to_array(lower(trim(text)), '\\s+'),
                        x -> NOT regexp_matches(x, '[aeiouy]')))
            END AS n_syllables
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             round(206.835 - 1.015 * (n_words / n_sentences)
                           - 84.6 * (n_syllables / n_words), 3) + 0.0
           END AS flesch
    FROM s
""")
def q_reading_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease approximation per document (vowel-group
    syllables with a 1-per-word floor, [.!?]+ sentence runs)."""
    from ..operators.text import reading_level

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return reading_level(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    )


@query("documents", oracle="""
    WITH aug AS (
      SELECT doc_id,
             concat(coalesce(text, ''),
                    CASE WHEN doc_id % 7 = 0
                         THEN ' Ã© â€™ ' || chr(1) || ' �'
                         ELSE '' END) AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '�')) AS n_replacement,
        len(regexp_extract_all(text,
            '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS n_control,
        len(regexp_extract_all(text, '[^\\x00-\\x7F]')) AS n_nonascii,
        len(regexp_extract_all(text, '(?:Ã|â€)')) AS n_mojibake,
        len(regexp_extract_all(text, '[\\x00-\\x7F]')) AS n_ascii
      FROM aug
    )
    SELECT doc_id, n_replacement, n_control, n_nonascii, n_mojibake,
           CASE WHEN n_ascii + n_nonascii > 0 THEN
             round(n_ascii / (n_ascii + n_nonascii), 6)
           END AS ascii_ratio
    FROM s
""")
def q_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-hygiene scan. Clean synthetic corpus, so every seventh
    doc is augmented with deterministic mojibake + a control char + a
    replacement char; counts and the codepoint ascii_ratio match the
    DuckDB twin exactly."""
    from ..operators.text import charset_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" Ã© â€™ \x01 �"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return charset_stats(aug).select(
        "doc_id", "n_replacement", "n_control", "n_nonascii",
        "n_mojibake", "ascii_ratio",
    )


def _luhn_aug_spark() -> Column:
    """Deterministic card-number augmentation (a Column needs a live
    session, so this is a function, not a module constant)."""
    return (
        F.when(F.col("turn_idx") % 11 == 2, F.lit(" card=4111111111111111"))
        .when(F.col("turn_idx") % 11 == 3, F.lit(" card=4111-1111-1111-1111"))
        .when(F.col("turn_idx") % 11 == 5, F.lit(" card=4111111111111112"))
        .when(F.col("turn_idx") % 11 == 7, F.lit(" ref=12345678901234567890"))
        .when(F.col("turn_idx") % 11 == 9, F.lit(" alt=5500005555555559"))
        .otherwise(F.lit(""))
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    aug AS (
      SELECT conv_id, turn_idx,
        coalesce(text, '') ||
        CASE mod(turn_idx, 11)
          WHEN 2 THEN ' card=4111111111111111'
          WHEN 3 THEN ' card=4111-1111-1111-1111'
          WHEN 5 THEN ' card=4111111111111112'
          WHEN 7 THEN ' ref=12345678901234567890'
          WHEN 9 THEN ' alt=5500005555555559'
          ELSE '' END AS text
      FROM transcripts
    ),
    c AS (
      SELECT conv_id, turn_idx,
        list_filter(
          list_transform(
            regexp_extract_all(text, '[0-9]+(?:[- ][0-9]+)*'),
            s -> regexp_replace(s, '[- ]', '', 'g')),
          s -> length(s) BETWEEN 13 AND 19) AS cands
      FROM aug
    ),
    v AS (
      SELECT conv_id, turn_idx,
        CAST(len(cands) AS BIGINT) AS n_candidates,
        CAST(len(list_filter(cands, s ->
          list_sum(list_transform(range(1, length(s) + 1), i ->
            CASE WHEN i % 2 = 1
                 THEN CAST(substring(reverse(s), i, 1) AS INT)
                 ELSE CASE WHEN CAST(substring(reverse(s), i, 1) AS INT) * 2 > 9
                           THEN CAST(substring(reverse(s), i, 1) AS INT) * 2 - 9
                           ELSE CAST(substring(reverse(s), i, 1) AS INT) * 2
                      END END)) % 10 = 0)) AS BIGINT) AS n_valid
      FROM c
    )
    SELECT conv_id, turn_idx, n_candidates, n_valid, n_valid > 0 AS has_pan
    FROM v WHERE n_candidates > 0
""")
def q_luhn_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PAN detection over card-augmented turns
    (valid, Luhn-failing, and too-long digit runs are injected by
    turn_idx so every branch of the validator is exercised); counts
    cast to BIGINT for the cross-engine schema contract."""
    from ..operators.text import luhn_scan

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), _luhn_aug_spark())
    )
    out = luhn_scan(tx)
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_valid").cast("long").alias("n_valid"),
        "has_pan",
    )
