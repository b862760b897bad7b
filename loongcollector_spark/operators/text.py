"""Text analysis operators for training-data curation.

Additions beyond the reference's operator set (SURVEY.md §2.11):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure ``pyspark.sql.functions`` — JVM-side,
codegen'd, no Python in the data path. Designed to run over the
``documents`` table (doc_id, text, lang, source, n_chars) or any text
column at 100 TB scale (per-row expressions, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..cache import persisted
from ..functions import hashing, sqltext

__all__ = [
    "token_stats",
    "quality_signals",
    "repetition_signals",
    "language_id",
    "fingerprint",
    "stratified_sample",
    "pii_scan",
    "pii_redact",
    "benchmark_contamination",
    "quality_features",
    "quality_classifier_score",
    "train_quality_classifier",
    "QUALITY_FEATURES",
    "url_stats",
    "domain_blocklist_filter",
    "URL_REGEX",
    "vocab_report",
    "oov_rate",
    "lm_perplexity",
    "bigram_lm_perplexity",
    "mixture_report",
    "PII_PATTERNS",
    "clean_lines",
    "dedup_lines",
    "pmi_collocations",
    "zipf_fit",
    "fertility_report",
    "code_signals",
    "reading_level",
    "charset_stats",
    "luhn_scan",
    "luhn_redact",
]

# tiny public stopword lists per language for the n-gram/stopword
# language heuristic (hand-written; standard function words)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "dans"],
    "es": ["el", "la", "los", "que", "es", "no", "por", "con"],
}

_EN_STOPWORDS = _LANG_MARKERS["en"] + ["a", "an", "it", "on", "for", "as", "are"]

# BPE-ish token heuristic: word pieces, numbers, or single
# non-space symbols — a public-knowledge approximation of subword
# tokenizer segmentation for counting purposes.
_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def distinct_tokens(txt: Column) -> Column:
    """Distinct lowercase whitespace tokens of *txt* as an array —
    empty/blank text → empty array (``split`` alone would yield
    ``['']``). The shared tokenization of ``echo_rate`` (trajectory)
    and ``pair_overlap`` (assemble): one definition so the two
    operators cannot silently diverge."""
    return F.when(
        F.length(F.trim(txt)) == 0, F.array().cast("array<string>")
    ).otherwise(F.array_distinct(F.split(F.lower(F.trim(txt)), r"\s+")))


def _ws_token_count(txt):
    """Whitespace-token count of a (non-NULL) text expression — the
    repo-wide baseline tokenizer (token_stats, fertility_report)."""
    return F.when(F.length(F.trim(txt)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(txt), r"\s+"))
    )


def _re_token_count(txt):
    """BPE-ish regex-token count (``_TOKEN_REGEX`` pieces)."""
    return F.size(F.regexp_extract_all(txt, F.lit(_TOKEN_REGEX), 0))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + regex (BPE-ish) tokens +
    char length. Integer outputs (stable across engines)."""
    txt = sqltext.col(text_col)
    return (
        df.withColumn("n_chars_calc", F.length(txt))
        .withColumn("n_ws_tokens", _ws_token_count(txt))
        .withColumn("n_re_tokens", _re_token_count(txt))
    )


def quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring signals (length / punctuation / stopword /
    repetition), integer-or-ratio outputs:

    * ``n_punct``      — punctuation char count
    * ``n_digits``     — digit char count
    * ``n_stopwords``  — English stopword occurrences
    * ``mean_word_len``— avg whitespace-token length (double)
    * ``uniq_token_ratio`` — distinct/total whitespace tokens (double)
    """
    txt = sqltext.col(text_col)
    toks = F.split(F.trim(F.lower(txt)), r"\s+")
    n_toks = F.when(F.length(F.trim(txt)) == 0, 0).otherwise(F.size(toks))
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    return (
        df.withColumn(
            "n_punct", F.length(txt) - F.length(F.regexp_replace(txt, r"[^\w\s]", ""))
        )
        .withColumn(
            "n_digits", F.length(txt) - F.length(F.regexp_replace(txt, r"[0-9]", ""))
        )
        .withColumn(
            "n_stopwords",
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))),
        )
        .withColumn(
            "mean_word_len",
            F.when(
                n_toks > 0,
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
                )
                / n_toks,
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "uniq_token_ratio",
            F.when(n_toks > 0, F.size(F.array_distinct(toks)) / n_toks).otherwise(
                F.lit(0.0)
            ),
        )
    )


# PII detector patterns — deliberately restricted to syntax shared by
# Java regex (Spark) and RE2 (DuckDB oracle): no lookaround, no
# backrefs. Ordered dict = the fixed redaction order (most-specific
# first so a card number is masked before the phone rule can eat it).
PII_PATTERNS: dict[str, str] = {
    "cc": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "phone": r"\+\d{1,3}[- ]?\d{3}[- ]?\d{3,4}[- ]?\d{3,4}\b",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection counts per row: ``n_<kind>`` columns, one per
    :data:`PII_PATTERNS` entry (credit-card-ish, intl phone, email,
    IPv4). Counts are non-overlapping left-to-right matches of each
    pattern against the ORIGINAL text, independently per kind (a token
    matching two patterns counts in both — redaction order is where
    precedence is resolved). Pure JVM regexp expressions, no shuffle,
    NULL text counts 0."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(txt, F.lit(pat), 0))
        )
    return out


def pii_redact(
    df: DataFrame, text_col: str = "text", dest: str | None = None
) -> DataFrame:
    """PII redaction: sequentially replaces each :data:`PII_PATTERNS`
    match with ``<KIND>`` in the dict's fixed order (cc before phone
    before email before ipv4), so overlapping detectors resolve
    deterministically. In-place when *dest* is None. NULL text stays
    NULL (scan-side counts already treat it as empty)."""
    c = sqltext.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{kind.upper()}>")
    return df.withColumn(dest or text_col, c)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public
    paper) — the repetition family of training-data quality filters:

    * ``n_lines``            — newline-delimited line count
    * ``dup_line_frac``      — occurrences-after-the-first of each
      line / total lines (0 when every line is unique)
    * ``dup_line_char_frac`` — characters in those repeat occurrences
      / total line characters (0 when no line chars)
    * ``top_ngram_char_frac``— chars covered by the single most
      frequent word *top_n*-gram (count × gram length) / normalized
      text length; ties broken by lexicographically-smallest gram
    * ``dup_ngram_frac``     — occurrences of word *dup_n*-grams that
      appear more than once / total *dup_n*-gram occurrences

    Plan shape (the one that scales): TWO input scans total. Lines:
    explode → groupBy(id, line) → groupBy(id), with the normalized
    text length carried alongside (no separate base scan). Grams:
    ONE token posexplode + one window computing lead(1..max_n-1), so
    both the *top_n*- and *dup_n*-grams come from the same shuffle
    (`concat_ws` skips NULL leads, which reproduces the whole-text
    fallback of dedup._shingle_rows for short docs); a 2-element
    conditional array explode makes the rows tall, then
    groupBy(id, n, gram) → one groupBy(id) with conditional
    aggregates. Everything shuffles on *id_col* (or (id, key) refined
    from it) and both agg outputs arrive hash-partitioned on *id_col*,
    so the final join adds no exchange. No interpreted higher-order
    functions in the count paths (NOTES.md HOF lesson).
    """
    from .dedup import _norm_text

    # NULL text behaves as '' (one empty line, one empty gram) so every
    # input row gets a signal row — no NULL/None mixing downstream
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))

    nchars = F.length(_norm_text(F.col(text_col)))
    lines = df.select(
        F.col(id_col),
        nchars.alias("__nchars"),
        F.explode(F.split(F.col(text_col), "\n")).alias("__line"),
    )
    lc = lines.groupBy(id_col, "__line").agg(
        F.count("*").alias("__c"), F.first("__nchars").alias("__nchars")
    )
    line_chars = F.length("__line") * F.col("__c")
    dup_line_chars = F.length("__line") * (F.col("__c") - 1)
    lstats = lc.groupBy(id_col).agg(
        F.first("__nchars").alias("__nchars"),
        F.sum("__c").alias("n_lines"),
        (F.sum(F.col("__c") - 1) / F.sum("__c")).alias("dup_line_frac"),
        F.coalesce(
            F.try_divide(F.sum(dup_line_chars), F.sum(line_chars)), F.lit(0.0)
        ).alias("dup_line_char_frac"),
    )

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(_norm_text(F.col(text_col)), " ")).alias(
            "__pos", "__tok"
        ),
    )
    w = W.partitionBy(id_col).orderBy("__pos")
    ks = sorted({top_n, dup_n})
    max_k = ks[-1]
    # window outputs must be materialized before they can feed a
    # Generate (explode) — leads first, entry arrays in the next project
    led = toks.withColumn("__n", F.count("*").over(W.partitionBy(id_col)))
    for i in range(1, max_k):
        led = led.withColumn(f"__l{i}", F.lead("__tok", i).over(w))

    def _gram_entry(k: int):
        parts = [F.col("__tok")] + [F.col(f"__l{i}") for i in range(1, k)]
        valid = (F.col("__pos") + k <= F.col("__n")) | (
            (F.col("__pos") == 0) & (F.col("__n") < k)
        )
        entry = F.struct(F.lit(k).alias("k"), F.concat_ws(" ", *parts).alias("g"))
        return F.when(valid, F.array(entry)).otherwise(
            F.array().cast("array<struct<k:int,g:string>>")
        )

    tall = led.select(
        F.col(id_col),
        F.explode(F.concat(*[_gram_entry(k) for k in ks])).alias("__e"),
    ).select(F.col(id_col), F.col("__e.k").alias("__k"), F.col("__e.g").alias("__g"))
    gc = tall.groupBy(id_col, "__k", "__g").agg(F.count("*").alias("__c"))
    # most frequent top_n-gram: min over struct(-count, gram) picks the
    # highest count, smallest gram on ties — deterministic both engines
    is_top = F.col("__k") == top_n
    is_dup = F.col("__k") == dup_n
    best = F.min(
        F.when(is_top, F.struct((-F.col("__c")).alias("nc"), F.col("__g").alias("g")))
    )
    gstats = gc.groupBy(id_col).agg(
        (-best["nc"]).alias("__topc"),
        F.length(best["g"]).alias("__topl"),
        (
            F.sum(F.when(is_dup & (F.col("__c") > 1), F.col("__c")).otherwise(F.lit(0)))
            / F.sum(F.when(is_dup, F.col("__c")).otherwise(F.lit(0)))
        ).alias("dup_ngram_frac"),
    )

    out = lstats.join(gstats, id_col, "left")
    return out.select(
        F.col(id_col),
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        F.coalesce(
            F.try_divide(F.col("__topc") * F.col("__topl"), F.col("__nchars")),
            F.lit(0.0),
        ).alias("top_ngram_char_frac"),
        "dup_ngram_frac",
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination scan (the GPT-3 / PaLM technique,
    public papers: Brown et al. 2020 Appendix C, Chowdhery et al. 2022
    §6): flag every training document that shares at least one word
    *n*-gram with an evaluation-benchmark corpus, so eval contamination
    can be filtered before training. Default ``n=13`` is the GPT-3
    convention; shorter corpora want smaller *n*.

    Returns one row per *docs* row:
    ``(id_col, n_grams, n_hit, contaminated)`` where ``n_grams`` is the
    document's distinct-n-gram count, ``n_hit`` how many of those occur
    anywhere in *bench*, and ``contaminated`` is ``1`` iff any did.
    Input contract: *id_col* uniquely identifies a document (one row
    per document — every caller here satisfies this); duplicate-id
    rows would aggregate into one output row with grams deduplicated
    per ROW, not across the id.

    Scale design: per-document distinct n-grams are built ROW-LOCAL
    (the Arrow-batched :func:`..dedup._kgram_arrow` builder on the
    corpus side, the :func:`..dedup._kgram_fold` zip_with builder on
    the benchmark side; docs shorter than *n* tokens contribute one
    whole-text gram — the _shingle_rows fallback), so the corpus
    never shuffles by gram value and never sorts: the exploded grams
    flow straight into a BROADCAST left join against the
    distinct-projected benchmark (eval benchmarks are MBs against a
    100 TB corpus) and ONE skinny groupBy on *id_col* counts grams
    and hits together. The previous shingle-window + distinct shape
    sorted every corpus gram row by id — measured >10 min for 24 M
    turns where this shape needs one 24 M-row reduced shuffle. Drop
    the broadcast hint only if the benchmark outgrows executor
    memory.
    """
    from .dedup import _kgram_arrow, _kgram_fold, _norm_text

    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    tk = F.split(norm, " ")
    # the EVAL side uses the pure-Catalyst builder: it is
    # broadcast-small by definition so the interpreted fold costs
    # nothing, and python-eval nodes reset output partitioning — the
    # arrow builder here would insert a shingle-valued exchange before
    # the distinct that the codegen path provably avoids (plan-pinned:
    # test_benchmark_contamination_broadcasts_bench)
    bench_tk = bench.select(tk.alias("__tk"))
    bench_shingles = F.when(
        F.size(F.col("__tk")) < n,
        F.array(F.array_join(F.col("__tk"), " ")),
    ).otherwise(F.array_distinct(_kgram_fold(F.col("__tk"), n)))
    # the empty gram ('' — a NULL/blank benchmark row's whole-text
    # fallback) never enters the hit set: content-free documents must
    # not flag as contaminated just because the benchmark also
    # contains a blank row
    bench_grams = (
        bench_tk.select(F.explode(bench_shingles).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    doc_shingles = _kgram_arrow(norm, (n,), distinct=True, whole_fallback=True)
    flagged = docs.select(
        F.col(id_col), F.explode(doc_shingles).alias("shingle")
    ).join(F.broadcast(bench_grams), "shingle", "left")
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        F.max(F.coalesce(F.col("__hit"), F.lit(0))).cast("int").alias(
            "contaminated"
        ),
    )


def lm_perplexity(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM perplexity scoring (the CCNet-style quality filter,
    Wenzek et al. 2020, with the LM reduced to the corpus's own unigram
    distribution — a real deployment swaps in external LM scores
    through the same column contract): two aggregation passes derive a
    maximum-likelihood unigram model from the corpus itself, then score
    every document with its cross-entropy under that model. Low
    perplexity ≈ stereotypical/boilerplate text, high ≈ noise — the
    standard head/middle/tail split keys off this column.

    Returns ``(id_col, n_tokens, cross_entropy_bits, ppl)`` with
    ``ppl = 2**cross_entropy_bits``.

    Scale design: tokens are reduced to per-document counts FIRST
    (``groupBy(id, token)``) so the model join carries one row per
    distinct (doc, token) instead of one per occurrence — that single
    move shrinks both the join input and the hot-token skew (the "the"
    problem) by the in-document repetition factor; AQE skew-join
    handles the residual head. The global token total is a one-row
    aggregate broadcast back (no ``collect``), and the vocabulary
    itself is derived from the same per-doc counts (the corpus is
    scanned once). Cross-entropy is a weighted sum — plain codegen
    aggregates, no higher-order functions.
    """
    from .dedup import _norm_text

    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("__tok"),
    )
    # persist: vocab/total and the scored join each consume doc_tok —
    # without it Catalyst re-derives the corpus explode per consumer
    # (the tfidf lesson); the cached table is the REDUCED (doc, token)
    # distinct pairs
    doc_tok = persisted(
        toks.groupBy(id_col, "__tok").agg(F.count("*").alias("__dc"))
    )
    vocab = doc_tok.groupBy("__tok").agg(F.sum("__dc").alias("__vc"))
    total = vocab.agg(F.sum("__vc").alias("__total"))
    scored = doc_tok.join(vocab, "__tok").crossJoin(F.broadcast(total))
    bits = -F.sum(
        F.col("__dc") * F.log2(F.col("__vc") / F.col("__total"))
    ) / F.sum("__dc")
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__dc").alias("n_tokens"),
            bits.alias("cross_entropy_bits"),
        )
        .withColumn("ppl", F.pow(F.lit(2.0), F.col("cross_entropy_bits")))
    )


def mixture_report(
    docs: DataFrame,
    *,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Training-mix report: per-stratum document and whitespace-token
    counts plus each stratum's share of the corpus token budget — the
    table every pretraining-data pipeline publishes before sampling
    weights are chosen (pair with :func:`stratified_sample` to act on
    it). One aggregation pass; the global totals are a one-row
    broadcast back onto the per-stratum rows (no ``collect``)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_toks = _ws_token_count(txt)
    # persist: totals and the final share projection both consume per
    # (the tfidf recompute lesson)
    per = persisted(
        docs.groupBy(strata_col).agg(
            F.count("*").alias("n_docs"),
            F.sum(n_toks).alias("n_tokens"),
        )
    )
    totals = per.agg(
        F.sum("n_docs").alias("__td"), F.sum("n_tokens").alias("__tt")
    )
    return per.crossJoin(F.broadcast(totals)).select(
        strata_col,
        "n_docs",
        "n_tokens",
        (F.col("n_docs") / F.col("__td")).alias("doc_share"),
        (F.col("n_tokens") / F.col("__tt")).alias("token_share"),
    )


def temperature_mixture(
    docs: DataFrame,
    *,
    strata_col: str = "lang",
    alpha: float = 0.5,
    target_fraction: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "",
    hash_mode: str = "xxhash64",
    precision: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled mixture sampling (the multilingual-pretraining
    recipe from XLM-R / mC4): re-weight strata by
    ``q_i ∝ p_i^alpha`` so low-resource strata are boosted, then keep
    each document deterministically with per-stratum rate
    ``min(1, (q_i / p_i) · target_fraction)`` — the downsampling half of
    temperature sampling (upsampling past 1× is an epoch-repeat concern,
    not a filter). Training-data-pipeline addition (not in the
    reference; SURVEY §2.11); pairs with :func:`mixture_report` /
    :func:`stratified_sample`.

    Scale shape: one groupBy(strata) agg (map-side combined), a one-row
    totals broadcast, then a **broadcast** join of the ≤|strata|-row
    rates table back onto the corpus and a pure-expression hash filter —
    the corpus itself never shuffles, no collect. Deterministic: same
    row → same keep decision at any parallelism.

    Returns per-stratum ``(strata_col, n_docs, raw_share, temp_share,
    sample_rate, n_kept)``. A NULL stratum is a first-class stratum
    (null-safe joins throughout), matching ``groupBy``'s NULL key.
    """
    # persist: totals and rates both consume per (tfidf recompute lesson)
    per = persisted(
        docs.groupBy(strata_col).agg(F.count("*").alias("n_docs"))
    )
    totals = per.agg(
        F.sum("n_docs").alias("__n"),
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))).alias(
            "__z"
        ),
    )
    rates = per.crossJoin(F.broadcast(totals)).select(
        strata_col,
        "n_docs",
        (F.col("n_docs") / F.col("__n")).alias("raw_share"),
        (
            F.pow(F.col("n_docs").cast("double"), F.lit(alpha)) / F.col("__z")
        ).alias("temp_share"),
    )
    rates = rates.withColumn(
        "sample_rate",
        F.least(
            F.lit(1.0),
            F.col("temp_share") / F.col("raw_share") * F.lit(target_fraction),
        ),
    )
    # threshold snapped to the nearest ppm integer (not floor of the
    # raw double): a 1-ulp pow/sum accumulation wobble near an integer
    # boundary must not flip keep decisions run-to-run or cross-engine
    rate_ppm = F.round(F.col("sample_rate") * F.lit(precision)).cast("long")
    bucket = hashing.bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)),
        precision,
        hash_mode,
    )
    r = rates.select(
        F.col(strata_col).alias("__s"), rate_ppm.alias("__rate_ppm")
    )
    kept = (
        docs.select(strata_col, bucket.alias("__bucket"))
        .join(
            F.broadcast(r), F.col(strata_col).eqNullSafe(F.col("__s"))
        )
        .filter(F.col("__bucket") < F.col("__rate_ppm"))
        .groupBy(strata_col)
        .agg(F.count("*").alias("n_kept"))
    )
    k = kept.select(
        F.col(strata_col).alias("__s2"), "n_kept"
    )
    return (
        rates.join(
            F.broadcast(k),
            F.col(strata_col).eqNullSafe(F.col("__s2")),
            "left",
        )
        .select(
            strata_col,
            "n_docs",
            "raw_share",
            "temp_share",
            "sample_rate",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word *k*-grams whose corpus-wide FIRST occurrence (minimum
    document id over all documents containing the gram) is this
    document — a cheap "how much new text does this doc add" signal
    used to rank crawl snapshots and dedup residue. Documents with
    fewer than *k* normalized tokens carry no k-grams and are excluded.
    Training-data-pipeline addition (not in the reference; SURVEY
    §2.11).

    Scale shape: distinct (doc, gram) pairs → (a) per-doc gram counts
    and (b) per-gram ``min(doc_id)`` — both map-side-combinable
    aggregations; novel counts come from re-aggregating (b) by its
    min-doc (tiny), then a doc-keyed left join. Gram text shuffles
    once (hash it first at 100 TB if gram strings dominate the wire —
    the md5-digest trick exact dedup uses).

    Returns ``(id_col, n_grams, n_novel, novelty)``.
    """
    from .dedup import _kgram_arrow, _norm_text

    if k <= 0:
        raise ValueError("ngram_novelty: k must be positive")
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    # distinct applies Python-side so the Arrow transfer already
    # carries the deduplicated array; <k-token docs yield [] and
    # vanish at the explode
    g = docs.select(
        id_col,
        F.explode(_kgram_arrow(norm, (k,), distinct=True)).alias("__g"),
    )
    per_doc = g.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    firsts = (
        g.groupBy("__g")
        .agg(F.min(id_col).alias("__first"))
        .groupBy("__first")
        .agg(F.count("*").alias("n_novel"))
        .withColumnRenamed("__first", id_col)
    )
    return per_doc.join(firsts, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        (
            F.coalesce(F.col("n_novel"), F.lit(0))
            / F.col("n_grams")
        ).alias("novelty"),
    )


def language_id(
    df: DataFrame, text_col: str = "text", dest: str = "lang_pred"
) -> DataFrame:
    """Heuristic language ID: count marker-stopword hits per language,
    argmax (ties → lexicographically first language, deterministic).
    One pass, JVM-side. A real deployment would swap in a proper model
    via mapInPandas; the plumbing (column contract) is identical."""
    toks = F.split(F.trim(F.lower(sqltext.col(text_col))), r"\s+")
    scores = []
    for lang in sorted(_LANG_MARKERS):
        arr = F.array(*[F.lit(s) for s in _LANG_MARKERS[lang]])
        scores.append(
            F.struct(
                # negate the score so an ASCENDING sort puts the best
                # score first while ties fall back to lang ASCENDING —
                # deterministic "lexicographically first wins"
                (
                    -F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
                ).alias("nscore"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.sort_array(F.array(*scores)).getItem(0)
    return df.withColumn(
        dest, F.when(best["nscore"] < 0, best["lang"]).otherwise(F.lit("unknown"))
    )


_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher document-quality gate (Rae et al. 2021 §A1.1, the rule
    set RefinedWeb/Dolma adopted): per-document boolean flags for each
    canonical rule plus the combined keep verdict. Complements
    :func:`quality_signals` (raw signals) with the published
    THRESHOLDED filter a pretraining pipeline actually applies.

    Rules (defaults are the paper's): word count in [50, 100k]; mean
    word length in [3, 10]; symbol-to-word ratio ('#' + ellipsis)
    ≤ 0.1; ≤ 90% of lines starting with a bullet; ≤ 30% of lines
    ending with an ellipsis; ≥ 80% of words containing an alphabetic
    character; ≥ 2 of the 8 Gopher stop words present.

    Scale shape: one narrow codegen projection per document — splits,
    HOF filters whose lambdas touch only lambda variables, literal
    arrays. No shuffle, no Python; the keep flag pushes into the scan
    when used as a filter.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.when(F.length(F.trim(txt)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(txt), r"\s+")
    )
    d = df.select(F.col(id_col), txt.alias("__t"), words.alias("__w"))
    w = F.col("__w")
    t = F.col("__t")
    n_words = F.size(w)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        / n_words,
    ).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_uni_ell = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    n_dot_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_uni_ell + n_dot_ell) / n_words
    ).otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    is_bullet = lambda l: (  # noqa: E731 — shared by filter + oracle doc
        F.ltrim(l).startswith("- ")
        | F.ltrim(l).startswith("* ")
        | F.ltrim(l).startswith("•")
    )
    bullet_frac = F.size(F.filter(lines, is_bullet)) / n_lines
    ellipsis_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
            )
        )
        / n_lines
    )
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(w, F.lower)),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "pass_words": (n_words >= min_words) & (n_words <= max_words),
        "pass_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "pass_symbol": symbol_ratio <= max_symbol_ratio,
        "pass_bullet": bullet_frac <= max_bullet_frac,
        "pass_ellipsis": ellipsis_frac <= max_ellipsis_frac,
        "pass_alpha": alpha_frac >= min_alpha_frac,
        "pass_stopwords": n_stop >= min_stopwords,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return d.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", dest: str = "fingerprint"
) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key that survives formatting differences.
    (Rolling/content-defined chunking variants build on the same
    normalization; md5 is engine-portable for oracle checks.)"""
    norm = F.regexp_replace(F.trim(F.lower(sqltext.col(text_col))), r"\s+", " ")
    return df.withColumn(dest, F.md5(norm))


def stratified_sample(
    df,
    strata_col: str,
    fractions: dict[str, float],
    *,
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "",
    hash_mode: str = "xxhash64",
    precision: int = 1_000_000,
):
    """Deterministic per-stratum sampling — the training-mix operation
    (keep 50% of English, 10% of code, ...) done reproducibly at any
    scale: keep a row iff ``hash(id || salt) % precision <
    fraction(stratum) * precision``. No RNG state, no sampleBy
    seed-per-partition nondeterminism: the same row always makes the
    same decision, so reruns, resumes and two-cluster-size runs agree
    row-for-row. Changing *salt* draws an independent sample.

    ``hash_mode='xxhash64'`` (production, one JVM hash) or ``'md5'``
    (the engine-portable oracle kernel, :mod:`..functions.hashing`).
    Pure column expressions — the filter pushes into the scan."""
    from pyspark.sql import functions as F

    bucket = hashing.bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)),
        precision,
        hash_mode,
    )
    thresh = None
    for value, frac in sorted(fractions.items()):
        t = F.lit(int(frac * precision))
        cond = F.col(strata_col) == value
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = (
        thresh.otherwise(F.lit(int(default_fraction * precision)))
        if thresh is not None
        else F.lit(int(default_fraction * precision))
    )
    return df.filter(bucket < thresh)


def bpe_pair_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the counting step
    of byte-pair-encoding tokenizer training (Sennrich et al. 2016:
    each BPE merge round picks the most frequent adjacent pair; this
    operator is that round's statistics over a whole corpus) and a
    bigram collocation table for data analysis.

    Returns ``(left, right, pair_count)`` for every adjacent pair of
    normalized whitespace tokens occurring ≥ *min_count* times.

    Scale design: pairs are built per-row with pure array expressions
    (two ``slice`` + ``arrays_zip`` — no window, so no pre-shuffle on a
    doc key), then exploded straight into ONE count aggregate whose
    map-side partial aggregation collapses the Zipf head ("of the",
    "in the") before the shuffle — the pair-count shuffle carries
    distinct pairs per partition, not occurrences. An iterative BPE
    trainer re-runs this on re-segmented text; each round is this same
    single-shuffle shape.
    """
    from .dedup import _norm_text

    toks = F.split(_norm_text(F.col(text_col)), " ")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("left"),
        F.slice(toks, 2, n - 1).alias("right"),
    )
    return (
        df.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.left").alias("left"), F.col("__p.right").alias("right"))
        .groupBy("left", "right")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )


# model-based quality filtering (the public CCNet / fastText-classifier
# technique: score documents with a tiny linear model over cheap
# surface features, keep the high-scoring ones). The scorer is a pure
# JVM expression so it runs inside codegen at corpus scale and is
# reproducible in SQL engines; training is an MLlib helper that emits
# plain-float weights for it.

QUALITY_FEATURES = [
    "f_log_chars",
    "f_mean_word_len",
    "f_uniq_ratio",
    "f_stopword_ratio",
    "f_punct_ratio",
    "f_digit_ratio",
]


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The classifier's feature vector as six double columns —
    per-row expressions only (no shuffle, no Python):

    * ``f_log_chars``       — ln(1 + char length)
    * ``f_mean_word_len``   — avg whitespace-token length
    * ``f_uniq_ratio``      — distinct/total whitespace tokens
    * ``f_stopword_ratio``  — EN stopword tokens / tokens
    * ``f_punct_ratio``     — non-word chars / chars
    * ``f_digit_ratio``     — digits / chars
    """
    # NULL text == empty text: features (and the downstream score /
    # keep flag) must never go NULL, or keep-filters drop the doc from
    # BOTH sides of the split. Computed on a temp column so the
    # caller's text column comes back untouched.
    tmp = "__lc_q_text"
    sig = quality_signals(
        df.withColumn(tmp, F.coalesce(sqltext.col(text_col), F.lit(""))), tmp
    )
    txt = F.col(tmp)
    toks = F.split(F.trim(F.lower(txt)), r"\s+")
    n_toks = F.when(F.length(F.trim(txt)) == 0, 0).otherwise(F.size(toks))
    n_chars = F.length(txt)
    safe_t = F.when(n_toks > 0, n_toks.cast("double")).otherwise(F.lit(1.0))
    safe_c = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(1.0))
    return (
        sig.withColumn("f_log_chars", F.log1p(n_chars.cast("double")))
        .withColumn("f_mean_word_len", F.col("mean_word_len").cast("double"))
        .withColumn("f_uniq_ratio", F.col("uniq_token_ratio").cast("double"))
        .withColumn("f_stopword_ratio", F.col("n_stopwords") / safe_t)
        .withColumn("f_punct_ratio", F.col("n_punct") / safe_c)
        .withColumn("f_digit_ratio", F.col("n_digits") / safe_c)
        .drop(
            "n_punct",
            "n_digits",
            "n_stopwords",
            "mean_word_len",
            "uniq_token_ratio",
            tmp,
        )
    )


def quality_classifier_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    *,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Score each document with a linear quality model:
    ``quality_score = sigmoid(bias + w · features)``; adds
    ``quality_score`` (double) and ``quality_keep`` (boolean ≥
    *threshold*). Weights come from :func:`train_quality_classifier`
    or any external training run — they are plain floats, so the
    scorer stays a codegen'd expression with zero ML runtime
    dependency at inference time (score 10^12 docs = one projection).
    """
    if len(weights) != len(QUALITY_FEATURES):
        raise ValueError(
            f"expected {len(QUALITY_FEATURES)} weights "
            f"({QUALITY_FEATURES}), got {len(weights)}"
        )
    feat = quality_features(df, text_col)
    z = F.lit(float(bias))
    for w, name in zip(weights, QUALITY_FEATURES):
        z = z + F.lit(float(w)) * F.col(name)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feat.withColumn("quality_score", score).withColumn(
        "quality_keep", F.col("quality_score") >= F.lit(float(threshold))
    )


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    *,
    text_col: str = "text",
    max_iter: int = 64,
    reg_param: float = 0.001,
    max_train_rows: int = 1_000_000,
) -> tuple[list[float], float]:
    """Fit the linear quality model (MLlib LogisticRegression over
    :func:`quality_features`) on a labeled frame and return
    ``(weights, bias)`` for :func:`quality_classifier_score`.

    Training is bounded to *max_train_rows* (a quality classifier
    converges on a sample; the corpus-scale pass is the scoring
    projection, not the fit). The returned floats reproduce MLlib's
    own probabilities exactly — pinned by test."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feat = quality_features(df, text_col).limit(max_train_rows)
    vec = feat.withColumn(
        "__features",
        array_to_vector(F.array(*[F.col(c) for c in QUALITY_FEATURES])),
    ).select(F.col(label_col).cast("double").alias("__label"), "__features")
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol="__label",
        maxIter=max_iter,
        regParam=reg_param,
        standardization=True,
    )
    model = lr.fit(vec)
    return [float(c) for c in model.coefficients], float(model.intercept)


def bigram_lm_perplexity(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Bigram-LM perplexity scoring — the order-2 sibling of
    :func:`lm_perplexity`: derive an add-α (Laplace) smoothed bigram
    model from the corpus itself and score every document's
    cross-entropy under it. Catches word-salad that unigram perplexity
    misses (right words, wrong order). ``P(w2|w1) = (c(w1,w2) + α) /
    (c(w1·) + α·V)`` with V = |prediction vocabulary| and a ``<s>``
    sentinel starting every document.

    Returns ``(id_col, n_bigrams, cross_entropy_bits, ppl)``.

    Scale design mirrors lm_perplexity: bigrams are built per-row
    (slice + arrays_zip, no window), reduced to per-document counts
    FIRST so the model joins carry distinct (doc, bigram) rows — the
    Zipf head ("of the") collapses map-side by the in-doc repetition
    factor; residual hot bigrams are AQE skew-join territory. The
    model itself is re-aggregated from the same per-doc counts (one
    corpus scan), context totals join on w1, and V is a one-row
    broadcast. All codegen aggregates, no HOF lambdas.
    """
    from .dedup import _norm_text

    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed bigrams divide by zero)")
    tk = F.concat(
        F.array(F.lit("<s>")),
        F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " "),
    )
    n = F.size(tk)
    pairs = F.arrays_zip(
        F.slice(tk, 1, n - 1).alias("w1"), F.slice(tk, 2, n - 1).alias("w2")
    )
    pr = docs.select(F.col(id_col), F.explode(pairs).alias("__p")).select(
        F.col(id_col), F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2")
    )
    # persist: model/ctx/vsize and the scored join all consume doc_big
    # (the tfidf lesson — unpersisted, the corpus explode re-runs per
    # consumer); cached rows are the reduced (doc, w1, w2) pairs
    doc_big = persisted(
        pr.groupBy(id_col, "__w1", "__w2").agg(F.count("*").alias("__dc"))
    )
    model = doc_big.groupBy("__w1", "__w2").agg(F.sum("__dc").alias("__bc"))
    ctx = model.groupBy("__w1").agg(F.sum("__bc").alias("__cc"))
    vsize = model.agg(F.countDistinct("__w2").alias("__vs"))
    # fold the context totals INTO the model first: that join runs at
    # model volume (distinct corpus bigrams), so the doc-volume side
    # pays ONE (w1,w2) join instead of two (measured 2M short docs:
    # the extra doc-volume ctx join dominated the runtime)
    model_p = model.join(ctx, "__w1")
    scored = doc_big.join(model_p, ["__w1", "__w2"]).crossJoin(
        F.broadcast(vsize)
    )
    p = (F.col("__bc") + F.lit(alpha)) / (
        F.col("__cc") + F.lit(alpha) * F.col("__vs")
    )
    bits = -F.sum(F.col("__dc") * F.log2(p)) / F.sum("__dc")
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__dc").cast("long").alias("n_bigrams"),
            bits.alias("cross_entropy_bits"),
        )
        .withColumn("ppl", F.pow(F.lit(2.0), F.col("cross_entropy_bits")))
    )


# URL / domain hygiene (the C4 / RefinedWeb-style source filters).
# Regex kept RE2-compatible (no lookaround) so the DuckDB oracle runs
# the identical pattern — same constraint as PII_PATTERNS.
URL_REGEX = r"https?://[A-Za-z0-9._~:/?#\[\]@!$&'()*+,;=%-]+"
# optional userinfo skipped ([^/@]* cannot cross the first slash), so
# https://u@evil.com extracts evil.com, not the evasion-friendly "u";
# RE2-safe (non-capturing group, no lookaround)
_DOMAIN_REGEX = r"https?://(?:[^/@]*@)?([A-Za-z0-9.-]+)"


def url_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document URL signals: ``n_urls`` (occurrences), ``domains``
    (sorted distinct lowercased hostnames), ``n_domains``. Pure JVM
    expressions — extraction never leaves codegen, no shuffle."""
    urls = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(URL_REGEX), 0
    )
    # trailing dots stripped: sentence punctuation swallowed by the
    # URL regex ("see https://evil.com.") must not hide the hostname
    # from blocklist equality
    domains = F.array_sort(
        F.array_distinct(
            F.filter(
                F.transform(
                    urls,
                    lambda u: F.regexp_replace(
                        F.lower(F.regexp_extract(u, _DOMAIN_REGEX, 1)),
                        r"\.+$",
                        "",
                    ),
                ),
                lambda d: F.length(d) > 0,
            )
        )
    )
    return (
        df.withColumn("n_urls", F.size(urls))
        .withColumn("domains", domains)
        .withColumn("n_domains", F.size("domains"))
    )


def domain_blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    *,
    text_col: str = "text",
    keep_flag: str | None = None,
) -> DataFrame:
    """Drop (or flag) documents containing a URL whose hostname is on
    *blocklist* or any of its subdomains (``evil.com`` blocks
    ``a.b.evil.com`` — suffix match at a label boundary, the standard
    domain-blocklist rule). With *keep_flag* set, adds a boolean
    column instead of filtering — the audit mode.

    The blocklist ships as a literal array (config-sized, like the
    router's rules); matching is a per-row expression over the
    extracted domains — no join, no shuffle, filter pushes down."""
    if not blocklist:
        raise ValueError("domain_blocklist_filter: empty blocklist")
    with_d = url_stats(df, text_col)
    blocked_arr = F.array(*[F.lit(b.lower()) for b in blocklist])
    hit = F.exists(
        F.col("domains"),
        lambda d: F.exists(
            blocked_arr,
            lambda b: (d == b) | d.endswith(F.concat(F.lit("."), b)),
        ),
    )
    flagged = with_d.withColumn("__blocked", hit).drop(
        "n_urls", "domains", "n_domains"
    )
    if keep_flag is not None:
        return flagged.withColumnRenamed("__blocked", keep_flag)
    return flagged.filter(~F.col("__blocked")).drop("__blocked")


def vocab_report(
    docs: DataFrame,
    *,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Corpus vocabulary report — the one-row table a tokenizer-design
    pass starts from: total token occurrences, vocabulary size, hapax
    count (tokens seen once), and the corpus share covered by the
    *top_n* most frequent tokens (Zipf head coverage).

    Scale shape: ONE token-count aggregation (map-side partial agg
    collapses the Zipf head before the shuffle — same argument as
    bpe_pair_stats), then two tiny reductions over the vocab table;
    the head share is a TakeOrdered of *top_n* rows, never a full
    sort. Ties at the head boundary break by (count desc, token asc)
    so both engines pick the same *top_n* set.
    """
    from .dedup import _norm_text

    toks = docs.select(
        F.explode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("__tok")
    )
    # persist: head and report both consume the vocab table (the tfidf
    # recompute lesson — unpersisted, the token explode runs twice)
    vocab = persisted(toks.groupBy("__tok").agg(F.count("*").alias("__c")))
    head = (
        vocab.orderBy(F.desc("__c"), F.asc("__tok"))
        .limit(top_n)
        .agg(F.sum("__c").alias("__head"))
    )
    report = vocab.agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return report.crossJoin(F.broadcast(head)).select(
        "n_tokens",
        "vocab_size",
        "n_hapax",
        (F.col("__head") / F.col("n_tokens")).alias("head_share"),
    )


def oov_rate(
    docs: DataFrame,
    vocab: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a literal *vocab*
    (config-sized, like a tokenizer's special/function-word list):
    ``(id_col, n_tokens, n_oov, oov_frac)``. Pure per-row expressions
    — the vocab ships as a literal array, no join, no shuffle. Empty/
    NULL text scores 0 tokens and oov_frac 0.0."""
    from .dedup import _norm_text

    if not vocab:
        raise ValueError("oov_rate: empty vocab")
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.split(norm, " ")
    n = F.when(F.length(norm) == 0, 0).otherwise(F.size(toks))
    varr = F.array(*[F.lit(v) for v in vocab])
    oov = F.when(
        F.length(norm) == 0, 0
    ).otherwise(F.size(F.filter(toks, lambda t: ~F.array_contains(varr, t))))
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        oov.cast("long").alias("n_oov"),
        F.when(n > 0, oov / n).otherwise(F.lit(0.0)).alias("oov_frac"),
    )


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    min_line_words: int = 3,
    require_terminal_punct: bool = True,
    banned_substrings: tuple[str, ...] = ("lorem ipsum", "javascript"),
    drop_curly: bool = True,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep a
    line iff it has ≥ *min_line_words* words, ends in terminal
    punctuation (``. ! ? "``), and carries none of the (lowercased)
    *banned_substrings*; with *drop_curly*, lines containing ``{`` go
    too (C4's code-page heuristic). Kept lines are re-joined with
    newlines in original order.

    Returns ``(id, clean_text, n_lines, n_kept)`` — callers filter on
    ``n_kept`` for the page-level "≥ N sentences" rule rather than
    this operator hard-dropping documents.

    Scale shape: one narrow codegen projection per document — a line
    split plus a HOF filter whose lambda touches only the lambda
    variable (never an outer expression: the interpreted-HOF re-eval
    trap recorded in dsir.py). No shuffle, no Python.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    d = df.select(F.col(id_col), F.split(txt, "\n").alias("__ls"))

    def _keep(line):
        t = F.trim(line)
        c = F.size(F.split(t, r"\s+")) >= min_line_words
        c = c & (F.length(t) > 0)
        if require_terminal_punct:
            c = c & (
                t.endswith(".")
                | t.endswith("!")
                | t.endswith("?")
                | t.endswith('"')
            )
        low = F.lower(t)
        for s in banned_substrings:
            c = c & ~low.contains(s.lower())
        if drop_curly:
            c = c & ~t.contains("{")
        return c

    kept = F.filter(F.col("__ls"), _keep)
    return d.select(
        id_col,
        F.array_join(kept, "\n").alias("clean_text"),
        F.size("__ls").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document duplicate-line removal (the RefinedWeb/MassiveText
    repetition fix): drop every line that already appeared earlier in
    the SAME document, preserving first-occurrence order — boilerplate
    nav bars and repeated footers collapse to one copy; cross-document
    dedup stays :func:`~..operators.dedup.exact_dedup`'s job.

    ``array_distinct`` is NOT used: its order contract differs across
    engines (DuckDB's ``list_distinct`` reorders), so the kernel is the
    indexed HOF filter ``(l, i) -> array_position(lines, l) == i + 1``
    — identical semantics in Spark and the DuckDB oracle. The lambda
    references ``__ls`` as a bound column attribute (cheap re-read),
    never re-evaluates an expression; within-doc line counts bound the
    O(n²) position scans.

    Returns ``(id, dedup_text, n_lines, n_unique)``. No shuffle.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    d = df.select(F.col(id_col), F.split(txt, "\n").alias("__ls"))
    ls = F.col("__ls")
    uniq = F.filter(
        ls, lambda l, i: F.array_position(ls, l) == i + F.lit(1)
    )
    return d.select(
        id_col,
        F.array_join(uniq, "\n").alias("dedup_text"),
        F.size("__ls").cast("long").alias("n_lines"),
        F.size(uniq).cast("long").alias("n_unique"),
    )


def pmi_collocations(
    docs: DataFrame,
    k: int = 20,
    *,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level collocation extraction: the top-*k* adjacent word
    pairs by pointwise mutual information, ``pmi = ln((c_xy/N_pairs) /
    ((c_x/N_tok)·(c_y/N_tok)))`` — high-PMI pairs are multi-word
    expressions ("machine learning") worth protecting from chunkers /
    tokenizers, and low-count noise is cut by *min_count*. The
    corpus-statistics sibling of :func:`bpe_pair_stats` (which counts
    character pairs inside words for merge training; this measures
    word-pair association strength).

    Returns ``(rank, w1, w2, pair_count, pmi)``, ``rank ∈ [1, k]`` by
    ``pmi`` descending, ties broken by ``(w1, w2)`` ascending.

    Scale shape — same placement discipline as
    :func:`bigram_lm_perplexity`:

    * bigrams built per-row (slice + arrays_zip, no window) and
      reduced by one (w1, w2) groupBy with map-side partial agg — the
      Zipf head collapses before the shuffle.
    * unigram counts are a second narrow groupBy of the token stream;
      the pair⋈unigram joins key on w1 then w2 (vocab-sized, NOT
      broadcast — vocabulary grows with corpus; AQE skew-join splits
      stop-word keys, the bigram_perplexity contract).
    * N_tok / N_pairs are one-row aggregates broadcast via crossJoin.
    * the global top-k runs AFTER the min_count filter as orderBy +
      limit → TakeOrderedAndProject (per-partition partial top-k
      map-side; only k rows reach the driver-side final ordering).
    """
    from .dedup import _norm_text

    if k < 1:
        raise ValueError("pmi_collocations: k must be >= 1")
    if min_count < 1:
        raise ValueError("pmi_collocations: min_count must be >= 1")
    tk = F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    base = docs.select(tk.alias("__tk")).filter(
        (F.size("__tk") > 0) & (F.col("__tk")[0] != "")
    )
    n = F.size(F.col("__tk"))
    pairs = F.arrays_zip(
        F.slice(F.col("__tk"), 1, n - 1).alias("w1"),
        F.slice(F.col("__tk"), 2, n - 1).alias("w2"),
    )
    # persist both reduced tables: pc feeds totals + the scored join,
    # uni feeds totals + two joins — unpersisted, each consumer
    # re-derives the corpus explode (the tfidf lesson)
    pc = persisted(
        base.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
    )
    uni = persisted(
        base.select(F.explode(F.col("__tk")).alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").alias("__uc"))
    )
    totals = uni.agg(
        F.sum("__uc").alias("__n_tok"),
    ).crossJoin(pc.agg(F.sum("pair_count").alias("__n_pairs")))
    scored = (
        pc.filter(F.col("pair_count") >= min_count)
        .join(uni.select(F.col("__w").alias("w1"), F.col("__uc").alias("__c1")), "w1")
        .join(uni.select(F.col("__w").alias("w2"), F.col("__uc").alias("__c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("pair_count") * F.col("__n_tok").cast("double") * F.col("__n_tok"))
        / (F.col("__n_pairs").cast("double") * F.col("__c1") * F.col("__c2"))
    )
    top = (
        scored.select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )
    w = W.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    return top.select(
        F.row_number().over(w).alias("rank"), "w1", "w2", "pair_count", "pmi"
    )


def zipf_fit(
    docs: DataFrame,
    *,
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Zipf rank-frequency fit of the corpus token distribution: OLS of
    ``ln(count)`` on ``ln(rank)`` over the vocabulary — the one-row
    corpus-health check (natural language sits near slope −1; a slope
    far off flags template spam or truncated crawls before tokens are
    spent training on them). Complements :func:`vocab_report` (head
    coverage) with the whole-curve statistic.

    Ranks order by (count desc, token asc) — the vocab_report
    tie-break — so the fit is a pure function of the corpus in any
    engine. Returns ``(n_types, n_tokens, slope, intercept, r2)``;
    the regression moments use population covariance/variance
    (identical definitions in Spark and DuckDB), rounded to *round_dp*
    decimals so last-ulp ``ln`` differences between engines can't
    break value equality.

    Scale shape: one token-count aggregation with map-side partial
    aggregation (the Zipf head — the very thing being measured —
    collapses per map task before the shuffle), then a rank window and
    one moment aggregate over the REDUCED vocab table. Vocabulary is
    ~10^6-10^8 rows even for a 10^12-token corpus, so the global
    (partition-less) rank window sorts megabytes, not the corpus; the
    token payload never shuffles twice.
    """
    from .dedup import _norm_text

    toks = docs.select(
        F.explode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("__tok")
    ).filter(F.col("__tok") != "")
    vocab = toks.groupBy("__tok").agg(F.count("*").alias("__c"))
    ranked = vocab.select(
        F.col("__c"),
        F.row_number()
        .over(W.orderBy(F.desc("__c"), F.asc("__tok")))
        .alias("__rank"),
    ).select(
        F.col("__c"),
        F.log(F.col("__rank").cast("double")).alias("__x"),
        F.log(F.col("__c").cast("double")).alias("__y"),
    )
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("__c").cast("long").alias("n_tokens"),
        F.covar_pop("__x", "__y").alias("__cxy"),
        F.var_pop("__x").alias("__vx"),
        F.var_pop("__y").alias("__vy"),
        F.avg("__x").alias("__mx"),
        F.avg("__y").alias("__my"),
    )
    # try_divide, not corr/division: a degenerate corpus (one type, or
    # every count equal) has zero variance on an axis — the fit is
    # undefined there and must be NULL, not an ANSI divide-by-zero
    # (and DuckDB's corr returns NULL in the same case)
    slope = F.try_divide(F.col("__cxy"), F.col("__vx"))
    r2 = F.try_divide(
        F.col("__cxy") * F.col("__cxy"), F.col("__vx") * F.col("__vy")
    )
    return agg.select(
        "n_types",
        "n_tokens",
        F.round(slope, round_dp).alias("slope"),
        F.round(F.col("__my") - slope * F.col("__mx"), round_dp).alias(
            "intercept"
        ),
        F.round(r2, round_dp).alias("r2"),
    )


def fertility_report(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-fertility report per corpus stratum (language by
    default): characters per whitespace token and per BPE-ish regex
    token, and the regex/whitespace fertility ratio — the table a
    tokenizer-budget review reads to see which languages pay more
    tokens per character (the classic multilingual-fertility audit).

    Token definitions are the repo-wide baselines from
    :func:`token_stats` (whitespace split; ``_TOKEN_REGEX`` pieces).
    Returns ``(group_col, n_docs, n_chars, n_ws_tokens, n_re_tokens,
    chars_per_ws_token, chars_per_re_token, re_per_ws)``; ratio
    columns are NULL for a stratum with zero tokens.

    Scale shape: per-row codegen counting (no explode — counts only,
    never materialized token rows), then ONE map-side-combinable
    groupBy on the low-cardinality stratum. The cheapest whole-corpus
    pass in the module.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_ws = _ws_token_count(txt)
    n_re = _re_token_count(txt)
    agg = docs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(txt)).cast("long").alias("n_chars"),
        F.sum(n_ws).cast("long").alias("n_ws_tokens"),
        F.sum(n_re).cast("long").alias("n_re_tokens"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "n_chars",
        "n_ws_tokens",
        "n_re_tokens",
        F.try_divide(F.col("n_chars"), F.col("n_ws_tokens")).alias(
            "chars_per_ws_token"
        ),
        F.try_divide(F.col("n_chars"), F.col("n_re_tokens")).alias(
            "chars_per_re_token"
        ),
        F.try_divide(F.col("n_re_tokens"), F.col("n_ws_tokens")).alias(
            "re_per_ws"
        ),
    )


def code_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-likeness detection signals — the code-vs-prose router every
    mixed training corpus needs (code goes to a different tokenizer /
    quality gate than prose). All pure per-row JVM regex codegen; the
    regex subset is shared Java-regex/RE2 syntax so the DuckDB twin is
    byte-equivalent (no lookaround, no backrefs).

    * ``n_fences``     — markdown \\`\\`\\` fence marker count
    * ``n_code_lines`` — lines starting with 4 spaces or a tab
      (``(?m)`` multiline anchors; one pass, no split+filter)
    * ``n_lines``      — physical line count
    * ``n_symbols``    — structural symbol chars ``{}();=<>[]``
    * ``n_kw``         — word-bounded programming keyword hits
    * ``is_code``      — fence present, OR ≥30% indented lines over
      ≥3 lines, OR symbol density >5% with ≥2 keyword hits
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n_fences = F.size(F.regexp_extract_all(txt, F.lit("```"), 0))
    n_code_lines = F.size(
        F.regexp_extract_all(txt, F.lit(r"(?m)^(?:    |\t)"), 0)
    )
    n_lines = F.size(F.split(txt, "\n"))
    n_symbols = F.length(txt) - F.length(
        F.regexp_replace(txt, r"[{}();=<>\[\]]", "")
    )
    n_kw = F.size(
        F.regexp_extract_all(
            F.lower(txt),
            F.lit(
                r"\b(?:def|return|import|class|function|const|var|"
                r"lambda|printf|include|void|elif)\b"
            ),
            0,
        )
    )
    out = (
        df.withColumn("n_fences", n_fences)
        .withColumn("n_code_lines", n_code_lines)
        .withColumn("n_lines", n_lines)
        .withColumn("n_symbols", n_symbols)
        .withColumn("n_kw", n_kw)
    )
    is_code = (
        (F.col("n_fences") > 0)
        | (
            (F.col("n_lines") >= 3)
            & (F.col("n_code_lines") * 10 >= F.col("n_lines") * 3)
        )
        | (
            (F.col("n_symbols") * 20 > F.length(txt))
            & (F.col("n_kw") >= 2)
        )
    )
    # integer cross-multiplication, never a float threshold — the
    # ratio compares are exact on both engines
    return out.withColumn("is_code", is_code)


def reading_level(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease approximation per document — the classic
    readability quality signal (prose for a base LM skews 40-70;
    near-0 or >100 flags boilerplate/junk).

    Syllables ≈ vowel-group count with a 1-per-word floor: since
    ``[aeiouy]+`` can never span whitespace, the corpus-wide vowel
    group count EQUALS the per-word sum, so the heavy part is one
    codegen regex pass; only the no-vowel-word floor needs a token
    filter. Sentences = ``[.!?]+`` runs, floored at 1.

    flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    (3 dp; NULL for empty docs).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(F.trim(txt))
    toks = F.split(low, r"\s+")
    n_words = F.when(F.length(F.trim(txt)) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    n_sent_raw = F.size(F.regexp_extract_all(txt, F.lit(r"[.!?]+"), 0))
    vowel_groups = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), 0))
    no_vowel_words = F.when(F.length(F.trim(txt)) == 0, F.lit(0)).otherwise(
        F.size(F.filter(toks, lambda t: ~t.rlike("[aeiouy]")))
    )
    out = (
        df.withColumn("n_words", n_words.cast("bigint"))
        .withColumn(
            "n_sentences", F.greatest(n_sent_raw, F.lit(1)).cast("bigint")
        )
        .withColumn(
            "n_syllables", (vowel_groups + no_vowel_words).cast("bigint")
        )
    )
    # + 0.0 folds a rounded -0.0 into 0.0 (cross-engine hash safety)
    flesch = (
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
            - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words")),
            3,
        )
        + F.lit(0.0)
    )
    return out.withColumn(
        "flesch", F.when(F.col("n_words") > 0, flesch)
    )


def charset_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-hygiene scan — the mojibake/controls gate web corpora
    run before any tokenization (U+FFFD and double-encoded UTF-8
    markers mean the upstream byte decode already lost data).

    * ``n_replacement`` — U+FFFD replacement chars
    * ``n_control``     — C0 controls except tab/newline/CR
    * ``n_nonascii``    — chars outside 7-bit ASCII
    * ``n_mojibake``    — classic double-encode markers (``Ã``, ``â€``)
    * ``ascii_ratio``   — 6-dp share of ASCII chars (NULL on empty)

    Pure codegen regex counts; one projection, no shuffle.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))

    def _count(pat: str) -> Column:
        return F.size(F.regexp_extract_all(txt, F.lit(pat), 0))

    out = (
        df.withColumn("n_replacement", _count("�"))
        .withColumn(
            "n_control", _count(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
        )
        .withColumn("n_nonascii", _count(r"[^\x00-\x7F]"))
        .withColumn("n_mojibake", _count("(?:Ã|â€)"))
    )
    # denominator counts CODEPOINTS via the same regex engine (never
    # length(): Spark counts UTF-16 units, DuckDB codepoints — they
    # disagree on astral chars)
    n_ascii = _count(r"[\x00-\x7F]")
    return out.withColumn(
        "ascii_ratio",
        F.when(
            n_ascii + F.col("n_nonascii") > 0,
            F.round(n_ascii / (n_ascii + F.col("n_nonascii")), 6),
        ),
    )


def _luhn_valid(s: Column) -> Column:
    """Luhn checksum predicate over a digit-string column — ONE
    higher-order ``aggregate`` over the reversed digits (1-based
    position i; odd positions add the digit d, even positions add
    2d − 9·[2d > 9]), valid iff the total is ≡ 0 (mod 10). Pure JVM
    expression work, no UDF."""
    rev = F.reverse(s)

    def step(acc: Column, i: Column) -> Column:
        d = F.substr(rev, i, F.lit(1)).cast("int")
        twice = d * 2
        return acc + F.when(i % 2 == 1, d).otherwise(
            F.when(twice > 9, twice - 9).otherwise(twice)
        )

    total = F.aggregate(F.sequence(F.lit(1), F.length(s)), F.lit(0), step)
    return total % 10 == 0


def luhn_scan(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    min_len: int = 13,
    max_len: int = 19,
) -> DataFrame:
    """Checksum-validated payment-card detection — the upgrade over
    :func:`pii_scan`'s shape-only credit-card pattern (shape regexes
    flag order ids and tracking numbers too; the Luhn check separates
    plausible PANs from digit noise, which is what decides whether a
    row must be quarantined vs merely masked). Reference parity: the
    desensitize family (plugins/processor/desensitize/
    processor_desensitize.go:29-40) locates secrets by regex only;
    this adds the validation pass a compliance pipeline runs before
    routing to a quarantine flusher.

    A candidate is a MAXIMAL digit run — optionally interrupted by
    single ``-`` or space separators between digit groups, the common
    card formats ``4111-1111-1111-1111`` / ``4111 1111 1111 1111`` —
    whose SEPARATOR-STRIPPED length is *min_len*–*max_len* digits:
    runs are extracted at any length with ``[0-9]+(?:[- ][0-9]+)*``
    and then length-filtered, so a 20-digit run is correctly NOT a
    candidate (rather than yielding a spurious 19-digit prefix) — the
    lookaround-free boundary rule that also works in RE2-class
    engines. Each candidate's digit string is validated with
    :func:`_luhn_valid`.

    Returns one row per input row containing ≥ 1 candidate:
    ``(*id_cols, n_candidates, n_valid, has_pan)``.

    Scale shape: pure map-side projection + filter — zero shuffles,
    zero Python; output is the (rare) flagged subset, so the scan
    composes with a fan-out route or quarantine sink at full corpus
    width. Per-row cost is O(chars + candidate digits).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    runs = F.regexp_extract_all(
        txt, F.lit("[0-9]+(?:[- ][0-9]+)*"), 0
    )
    digits = F.transform(
        runs, lambda s: F.regexp_replace(s, "[- ]", "")
    )
    cands = F.filter(
        digits,
        lambda s: (F.length(s) >= min_len) & (F.length(s) <= max_len),
    )
    out = df.select(
        *[F.col(c) for c in id_cols],
        F.size(cands).alias("n_candidates"),
        F.size(F.filter(cands, _luhn_valid)).alias("n_valid"),
    )
    return out.filter(F.col("n_candidates") > 0).withColumn(
        "has_pan", F.col("n_valid") > 0
    )


def luhn_redact(
    df: DataFrame,
    text_col: str = "text",
    *,
    dest: str | None = None,
    mask: str = "<PAN>",
    min_len: int = 13,
    max_len: int = 19,
) -> DataFrame:
    """Masking counterpart of :func:`luhn_scan`: replace only the
    checksum-VALID card candidates with *mask*, leaving Luhn-failing
    digit runs (order ids, tracking numbers) intact — the precision
    upgrade over :func:`pii_redact`'s shape-only credit-card rule,
    for pipelines that must keep non-PAN identifiers joinable.

    Candidates are the same maximal (separator-tolerant) 13–19-digit
    runs as the scan, validated on their separator-stripped digits;
    each valid one is folded into a literal ``replace`` over the text
    using its ORIGINAL spelling (separators included), so
    ``4111-1111-1111-1111`` masks as written
    (one HOF ``aggregate`` whose accumulator is the string — bounded
    by the per-row candidate count, pure JVM). A valid PAN whose
    digit sequence also occurs inside a LONGER digit run elsewhere in
    the same row is masked there too (literal replacement semantics);
    that false positive requires the identical ≥13-digit sequence
    embedded in another number and is accepted + documented.

    In-place when *dest* is None; NULL text stays NULL (scan-side
    counts already treat it as empty). Zero shuffles, zero Python.
    """
    txt = F.col(text_col)
    runs = F.regexp_extract_all(
        F.coalesce(txt, F.lit("")), F.lit("[0-9]+(?:[- ][0-9]+)*"), 0
    )

    def _digits(s: Column) -> Column:
        return F.regexp_replace(s, "[- ]", "")

    cands = F.filter(
        runs,
        lambda s: (F.length(_digits(s)) >= min_len)
        & (F.length(_digits(s)) <= max_len),
    )
    valid = F.filter(cands, lambda s: _luhn_valid(_digits(s)))
    redacted = F.aggregate(
        valid, txt, lambda acc, c: F.replace(acc, c, F.lit(mask))
    )
    return df.withColumn(dest or text_col, redacted)
