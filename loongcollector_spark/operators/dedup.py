"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's operator set (SURVEY.md §2.11) — these are the
data-curation additions a 100 TB transcript/document corpus needs.
All operate on the driver-provided ``documents`` table
(doc_id:bigint, text:string, lang:string, source:string, n_chars:bigint).

Scale design notes:
* exact dedup — hash-groupBy with map-side partial agg; only hashes
  shuffle, never full text.
* MinHash+LSH — shingle→minhash via one JVM-side ``transform`` over a
  posexplode'd shingle array (xxhash64 with per-permutation seeds, no
  Python); LSH bands→ self-join on (band, bucket) so candidate pairs
  shuffle by bucket, never all-pairs.
* SimHash — 64-bit fingerprint from token hashes, hamming-ball
  candidate generation by band rotation.
* n-gram Jaccard — verification metric for candidate pairs.
* embedding cosine — see similarity.py (shared kernels).

Every hash comes from the shared kernel module
(:mod:`..functions.hashing`): the operators whose hash reaches their
output take its ``hash_mode`` (``xxhash64`` production, ``md5`` the
engine-portable oracle kernel); the ones that use a fingerprint only
as an equality key (exact-substring spans, split leakage) use
xxhash64 and take no option.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hashing

__all__ = [
    "duplicate_spans",
    "remove_duplicate_spans",
    "dedup_exact",
    "segment_dedup",
    "shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "simhash",
    "ngram_jaccard_pairs",
    "connected_components",
    "dedup_components",
    "split_leakage",
    "prefix_groups",
    "source_overlap",
    "hamming64",
    "edit_distance_pairs",
    "winnowing_fingerprints",
    "winnowing_pairs",
]

# deterministic odd seeds for minhash permutations (fixed, public math)
_SEED_A = 0x9E3779B97F4A7C15


def _norm_text(col):
    """Normalization used by all fuzzy-dedup paths: lowercase, collapse
    whitespace, strip punctuation-ish chars."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _kgram_fold(tk, k: int):
    """k-gram array via folded ``zip_with`` over k slices of a
    MATERIALIZED token-array column — the HOF-discipline shape
    (dsir._gram_rows lesson: lambdas touch only their lambda
    variables, never an outer expression, so nothing re-evaluates per
    element). Clamped to the empty array for inputs shorter than *k*.
    Shared by source_overlap and text.ngram_novelty."""
    n_g = F.greatest(F.size(tk) - (k - 1), F.lit(0))
    grams = F.slice(tk, 1, n_g)
    for j in range(2, k + 1):
        grams = F.zip_with(
            grams,
            F.slice(tk, j, n_g),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def _kgram_arrow(txt, ks, *, distinct: bool = False, whole_fallback: bool = False):
    """Arrow-batched twin of ``split + _kgram_fold`` over the
    NORMALIZED text column: the text ships to Python once per row in
    an Arrow batch, ``str.split``/``str.join`` (C level) build the
    gram arrays, and Spark explodes the result. Output contract is
    byte-identical to the zip_with kernel (parity-pinned in
    tests/test_round5_fixes.py): per k in *ks*, fewer than k tokens
    contributes nothing; with *whole_fallback*, a doc shorter than
    every k contributes the single whole-text gram
    (benchmark_contamination's short-doc rule); *distinct* keeps the
    first occurrence per doc (``array_distinct`` semantics).

    Exists because the k-1 interpreted ``zip_with`` folds dominate the
    heavy corpus passes (SCALE.md round-4: dsir 337 s, source_overlap
    382 s, contamination 380 s per 2M docs / 24M turns) — Catalyst
    evaluates HOF lambdas per element in the interpreter, while the
    Python join is one C call per gram. Normalization stays JVM-side:
    callers pass the already-normalized text expression, which
    evaluates once in codegen before the Arrow transfer.
    """
    ks = tuple(ks)

    @F.pandas_udf("array<string>")
    def _grams(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            t = ("" if v is None else v).split(" ")
            n = len(t)
            g: list[str] = []
            for k in ks:
                if k == 1:
                    g.extend(t)
                elif n >= k:
                    join = " ".join
                    g.extend(join(t[i : i + k]) for i in range(n - k + 1))
            if whole_fallback and not g:
                g = [" ".join(t)]
            if distinct:
                g = list(dict.fromkeys(g))
            out.append(g)
        return pd.Series(out)

    return _grams(txt)


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the smallest id per identical text.

    The grouping key is ``md5(text)`` so the shuffle carries a 32-byte
    digest + (min id, count) per group instead of the full document
    text (at 100 TB the difference between shuffling ~3 TB of digests
    and the whole corpus). md5 collisions are negligible at any
    realistic corpus size; recover full winner rows with a semi-join
    on the returned ids when needed.
    """
    winners = df.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("dup_count")
    )
    return winners.select(id_col, "dup_count")


def segment_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_segment: int = 10,
    delim: str = " ",
) -> DataFrame:
    """Corpus-wide segment-level exact dedup (the MassiveText /
    RefinedWeb "paragraph dedup" technique, chunk-granular): split each
    document into consecutive ``tokens_per_segment``-token segments,
    drop every segment whose exact text already occurred earlier in the
    corpus (first occurrence = smallest ``(doc_id, seg_idx)``), and
    reassemble the surviving segments in order. Unlike document-level
    ``dedup_exact`` this removes boilerplate *within* otherwise-unique
    documents.

    Returns ``(id_col, text_dedup, n_segments, n_kept)`` — one row per
    input document; a document whose every segment was seen before
    comes back with ``text_dedup = ''`` and ``n_kept = 0``.

    Scale design: segmentation is a pure per-row expression
    (``transform`` over a ``sequence`` of chunk starts slicing one
    token array — no shuffle, no Python). First-occurrence is an
    AGGREGATION (``min(struct(doc_id, seg_idx))`` grouped by segment),
    NOT a ``row_number`` window: map-side partial aggregation collapses
    hot segments (empty/boilerplate text repeated billions of times)
    before the shuffle, where a window would sort the whole hot key in
    one partition. Reassembly is one groupBy on ``id_col``.
    """
    import re as _re

    k = int(tokens_per_segment)
    if k < 1:
        raise ValueError("tokens_per_segment must be >= 1")
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(delim), -1)
    n_segs = F.ceil(F.size(toks) / F.lit(float(k))).cast("long")
    seg_arr = F.transform(
        F.sequence(F.lit(0), (n_segs - 1).cast("int")),
        lambda i: F.concat_ws(delim, F.slice(toks, i * k + 1, k)),
    )
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(seg_arr).alias("seg_idx", "seg"),
    )
    first_occ = exploded.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("seg_idx").alias("s"))).alias(
            "fo"
        )
    )
    kept = (
        exploded.join(first_occ, "seg")
        .filter((F.col(id_col) == F.col("fo.d")) & (F.col("seg_idx") == F.col("fo.s")))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("seg_idx"), F.col("seg")))
                    ),
                    lambda x: x["seg"],
                ),
                delim,
            ).alias("text_dedup"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        docs.select(F.col(id_col), n_segs.alias("n_segments"))
        .join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def shingles(
    df: DataFrame, text_col: str = "text", k: int = 5, dest: str = "shingles"
) -> DataFrame:
    """Word k-shingles as an array column (JVM-side, no Python).

    HOF discipline: the token array materializes as a column FIRST and
    grams build via ``_kgram_fold`` (zip_with over top-level slices) —
    the previous ``transform(idx, i -> slice(toks, ...))`` shape
    re-evaluated the normalize-regex + split subtree once per shingle
    (the dsir._gram_rows lesson; caught again by the round-5 winnowing
    campaign, 12-min-stuck → 65 s after the rewrite)."""
    out = df.withColumn("__tk", F.split(_norm_text(F.col(text_col)), " "))
    tk = F.col("__tk")
    sh = F.when(F.size(tk) >= k, _kgram_fold(tk, k)).otherwise(
        F.array(F.concat_ws(" ", tk))
    )
    return out.withColumn(dest, sh).drop("__tk")


def minhash_signatures(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_perm: int = 64,
    dest: str = "minhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document: ``sig[p] = min over shingles of
    perm_hash(shingle, p)`` with ``perm_hash = xxhash64(xxhash64(s), p)``.

    Plan shape (the one that scales): explode shingles → hash each
    string ONCE → ``groupBy(id).agg(min(xxhash64(h, p)) for p in
    1..num_perm)``. All `num_perm` min-aggregates are whole-stage
    codegen'd with map-side partial aggregation, so the shuffle
    carries one 8·num_perm-byte row per (doc × partition).

    Two rejected shapes, both measured pathological: nested
    higher-order functions run INTERPRETED (no codegen) — a fold with
    transform+zip_with per element took 17 s for 15M hashes — and
    ``transform(seeds, p -> array_min(transform(shingles, ...)))``
    additionally re-inlines the shingle construction into every
    permutation branch after projection collapse (64× recompute).

    Returns one row per *id_col* with the signature array (other
    columns are dropped — join back on id when needed).
    """
    wide = _minhash_wide(df, shingle_col, num_perm, id_col)
    return wide.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{p}") for p in range(1, num_perm + 1)]).alias(dest),
    )


def _shingle_rows(
    df: DataFrame, text_col: str, k: int, id_col: str
) -> DataFrame:
    """(id, shingle) rows via posexplode + window ``lead`` — fully
    whole-stage-codegen'd, unlike the array-building ``shingles``
    expression (higher-order functions are interpreted; measured
    ~4 ms/doc there vs microseconds here). Shuffles once on *id_col*,
    which the downstream signature groupBy needs anyway.

    Documents shorter than *k* tokens contribute one whole-text
    shingle (parity with :func:`shingles`' fallback).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(_norm_text(F.col(text_col)), " ")).alias(
            "__pos", "__tok"
        ),
    )
    w = W.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", i).over(w) for i in range(1, k)]
    n = F.count("*").over(W.partitionBy(id_col))
    return (
        toks.withColumn("__n", n)
        .withColumn("__sh", F.concat_ws(" ", *parts))
        .filter(
            (F.col("__pos") + k <= F.col("__n"))
            | ((F.col("__pos") == 0) & (F.col("__n") < k))
        )
        .select(F.col(id_col), F.col("__sh").alias("shingle"))
    )


def _minhash_wide(
    df: DataFrame, shingle_col: str, num_perm: int, id_col: str
) -> DataFrame:
    """Signature as ``num_perm`` FLAT long columns ``__m1..__mN`` from
    an array-of-shingles column.

    Flat columns keep downstream band bucketing and agreement counting
    codegen'd with no array re-inlining. Prefer
    :func:`_minhash_wide_from_text` (no arrays at any point) when
    starting from raw text.
    """
    exploded = df.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("shingle")
    )
    return _min_aggs(exploded, num_perm, id_col)


def _min_aggs(
    rows: DataFrame, num_perm: int, id_col: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """``sig[p] = min over shingles of perm_hash(shingle, p)`` from
    (id, shingle) rows, perm_hash from :func:`hashing.permutations`.
    The shared string hash of the xxhash64 family is one common
    subexpression of all ``num_perm`` aggregates, so the codegen'd
    aggregate hashes each shingle once. The md5 family costs
    ``num_perm`` md5s per shingle; every one is reproducible in
    DuckDB, so the whole pipeline value-matches its oracle."""
    perms = hashing.permutations(F.col("shingle"), num_perm, hash_mode)
    return rows.groupBy(id_col).agg(
        *[F.min(h).alias(f"__m{p}") for p, h in enumerate(perms, 1)]
    )


def _minhash_wide_from_text(
    df: DataFrame,
    text_col: str,
    k: int,
    num_perm: int,
    id_col: str,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Text → shingle rows → hash → ``num_perm`` min-aggregates, every
    stage whole-stage-codegen'd, one shuffle (on *id_col*).

    ``hash_mode`` picks the permutation family (:func:`_min_aggs`).
    """
    rows = _shingle_rows(df, text_col, k, id_col)
    return _min_aggs(rows, num_perm, id_col, hash_mode)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: two docs are candidates iff some band of their
    signatures is identical.

    Plan shape: posexplode bands → bucket = hash(band slice) →
    self-join on (band, bucket). The shuffle key is the bucket, so
    near-duplicate clusters co-locate; all-pairs never materializes.
    Returns distinct (a, b) with a < b.
    """
    if bands < 1 or rows_per_band < 1:
        raise ValueError("lsh_candidate_pairs: bands and rows_per_band must be >= 1")
    band_idx = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ),
        )
    )
    buckets = df.select(F.col(id_col), band_idx.alias("band", "bucket"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("a"),
            F.col(f"b.{id_col}").alias("b"),
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → LSH
    candidates → exact-Jaccard verify on candidates only (estimated
    from signature agreement). Returns (a, b, jaccard_est ≥ threshold).

    ``hash_mode='md5'`` switches the signature hashes to the
    DuckDB-reproducible md5 kernel (:mod:`..functions.hashing`), so
    the whole pipeline — candidate set AND estimates — value-matches
    the SQL oracle. Production use keeps the default xxhash64 kernel.
    """
    if bands < 1 or num_perm % bands != 0:
        # bands > num_perm would give zero-width bands: every band
        # bucket becomes the empty string and the candidate join
        # degenerates to a full quadratic self-join — the exact blowup
        # LSH exists to avoid. Fail loudly instead.
        raise ValueError(
            f"minhash_dedup_pairs: bands ({bands}) must divide "
            f"num_perm ({num_perm})"
        )
    rows_per_band = num_perm // bands
    # flat-column signature path: cache because three consumers read
    # it (band bucketing + both sides of the verify join). Tracked by
    # cache.persisted: callers release via cache.release_persisted()
    # between corpora; the signature table is 8·num_perm B/doc.
    from ..cache import persisted

    sigs = persisted(
        _minhash_wide_from_text(
            df.select(id_col, text_col), text_col, k, num_perm, id_col, hash_mode
        )
    )
    mcols = [f"__m{p}" for p in range(1, num_perm + 1)]
    # band buckets as flat xxhash64 of each band's columns in either
    # mode: the bucket is only a join key (equal buckets ⇔ equal band
    # signatures, up to a 64-bit collision), never output; stack the
    # (band, bucket) pairs with a small posexplode
    band_hashes = [
        F.xxhash64(*map(F.col, mcols[b * rows_per_band : (b + 1) * rows_per_band]))
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.col(id_col), F.posexplode(F.array(*band_hashes)).alias("band", "bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("a"), *[F.col(c).alias(f"a_{c}") for c in mcols]
    )
    sb = sigs.select(
        F.col(id_col).alias("b"), *[F.col(c).alias(f"b_{c}") for c in mcols]
    )
    joined = cand.join(sa, "a").join(sb, "b")
    agree = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in mcols
    )
    est = agree / F.lit(num_perm)
    return joined.select("a", "b", est.alias("jaccard_est")).filter(
        F.col("jaccard_est") >= threshold
    )


def _sim_fingerprint(counts, n, bits: int):
    """Majority-vote per-bit counts into a signed-64 fingerprint.
    Bit 63 is the sign bit: its two's-complement contribution is
    negative, so add -(1<<63) instead of an overflowing literal."""
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)
        fingerprint = fingerprint + F.when(
            counts[b] * 2 > n, F.lit(mask).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return fingerprint


def simhash(
    df: DataFrame,
    text_col: str = "text",
    dest: str = "simhash",
    bits: int = 64,
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document — the whole-stage-codegen
    shape: explode distinct tokens → hash each once →
    ``groupBy(id).agg(sum(getbit(h, b)) for b in 0..bits)`` → majority
    vote per bit. Mirrors the minhash ``_min_aggs`` recipe: all
    ``bits`` conditional-sum aggregates codegen with map-side partial
    aggregation, one shuffle on *id_col* carrying ~8·bits B/doc.

    Returns one row per *id_col*: (id_col, dest). Near-dup detection =
    hamming distance on the fingerprint (:func:`hamming64`).

    ``hash_mode='md5'`` uses the DuckDB-reproducible 60-bit kernel
    (:mod:`..functions.hashing`; bits 60..63 vote 0) so the
    fingerprints value-match the SQL oracle.
    """
    # explode_outer: a NULL text column must still yield a row per doc
    # (all-NULL bit sums majority-vote to 0 → fingerprint 0, matching
    # the per-row HOF expression's NULL behavior) — plain explode would
    # silently drop those docs from the output
    toks = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(F.split(_norm_text(F.col(text_col)), " "))
        ).alias("__t"),
    )
    # xxhash64(NULL) yields the SEED (42), not NULL — guard so the
    # explode_outer NULL-token row contributes NULL bit sums and
    # NULL-text docs fingerprint to 0, not to hash(seed)'s bits
    h = F.when(F.col("__t").isNotNull(), hashing.hash64(F.col("__t"), hash_mode))
    aggs = [F.sum(F.getbit(h, F.lit(b))).alias(f"__c{b}") for b in range(bits)] + [
        F.count("*").alias("__n")
    ]
    wide = toks.groupBy(id_col).agg(*aggs)
    counts = [F.col(f"__c{b}") for b in range(bits)]
    return wide.select(
        F.col(id_col), _sim_fingerprint(counts, F.col("__n"), bits).alias(dest)
    )


def hamming64(a, b):
    """Hamming distance between two 64-bit fingerprints (bit_count of
    xor) — JVM built-in."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage):
    join texts to (a,b) pairs, compute |A∩B|/|A∪B| over distinct
    n-grams with array_intersect/array_union — JVM-side."""
    g = shingles(df.select(id_col, text_col), text_col, k=n, dest="g").select(
        id_col, F.array_distinct("g").alias("g")
    )
    ga = g.select(F.col(id_col).alias("a"), F.col("g").alias("ga"))
    gb = g.select(F.col(id_col).alias("b"), F.col("g").alias("gb"))
    out = pairs.join(ga, "a").join(gb, "b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return out.select(
        "a", "b", (inter / union).alias("jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_chars: int = 2000,
) -> DataFrame:
    """Levenshtein verification for candidate pairs — the exact-edit
    companion to :func:`ngram_jaccard_pairs` for the stage after LSH:
    join texts to (a, b) pairs and score
    ``1 − lev(a, b) / max(|a|, |b|, 1)`` over the first ``max_chars``
    of the NORMALIZED text. The cap bounds the O(|a|·|b|) DP per pair
    (2000² ≈ 4M cell worst case) — raise it only for short-document
    corpora. JVM ``levenshtein``; pair volume is LSH-bounded, the two
    text joins are id-keyed.

    Returns ``(a, b, edit_distance, edit_similarity)``.
    """
    t = df.select(
        F.col(id_col),
        F.substring(
            _norm_text(F.coalesce(F.col(text_col), F.lit(""))), 1, max_chars
        ).alias("__t"),
    )
    ta = t.select(F.col(id_col).alias("a"), F.col("__t").alias("__ta"))
    tb = t.select(F.col(id_col).alias("b"), F.col("__t").alias("__tb"))
    out = pairs.join(ta, "a").join(tb, "b")
    lev = F.levenshtein("__ta", "__tb")
    sim = 1 - lev / F.greatest(
        F.length("__ta"), F.length("__tb"), F.lit(1)
    )
    return out.select(
        "a",
        "b",
        lev.cast("long").alias("edit_distance"),
        sim.alias("edit_similarity"),
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "doc_id",
    src_col: str = "a",
    dst_col: str = "b",
    max_iterations: int = 50,
) -> DataFrame:
    """Near-dup clustering: connected components over candidate pairs
    by hash-min label propagation — the step a curation pipeline runs
    AFTER LSH so each duplicate CLUSTER keeps one canonical document
    (pairwise winners alone mis-keep docs in chained clusters
    a~b, b~c: dropping max(a,b) and max(b,c) loses c's content link).

    Training-data-pipeline addition (not in the reference; SURVEY
    §2.11). Algorithm: every node starts labeled with its own id; each
    round every node takes the min label over itself and its
    neighbors; converged when no label changes. O(component diameter)
    rounds — near-dup clusters are shallow (stars/chains of a few
    hops), so this terminates in a handful of rounds at any corpus
    size. Each round is one shuffle (groupBy node); labels are
    (long, long) pairs — text never moves. The convergence check rides
    the same job as the update (count of changed labels), and each
    round's result is localCheckpoint()-ed to stop Catalyst re-deriving
    an ever-deeper iterative plan.

    Returns ``(id_col, component)`` where component = min doc id in
    the node's component; singleton nodes keep their own id.
    """
    from pyspark import StorageLevel

    sym = (
        edges.select(F.col(src_col).alias("n"), F.col(dst_col).alias("m"))
        .union(edges.select(F.col(dst_col).alias("n"), F.col(src_col).alias("m")))
        .filter(F.col("n") != F.col("m"))
        .distinct()
        # every iteration joins against the SAME edge set — without
        # this persist each round would recompute the full upstream
        # DAG (for dedup_components: the whole MinHash+LSH pipeline)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select(
        F.col(id_col).alias("n"), F.col(id_col).alias("component")
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["m"] == labels["n"])
            .select(sym["n"].alias("n"), F.col("component"))
            .groupBy("n")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "n", "left")
            .select(
                "n",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("component"))
                    < F.col("component")
                ).cast("long").alias("__chg"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.agg(F.sum("__chg")).first()[0] or 0
        labels = updated.drop("__chg")
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} iterations (a component chain longer "
            f"than the budget); raise max_iterations — returning "
            f"unconverged labels would silently split clusters"
        )
    # labels are checkpointed (no lineage through sym) — safe to free
    sym.unpersist()
    return labels.select(F.col("n").alias(id_col), "component")


def dedup_components(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_mode: str = "xxhash64",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs → connected components → per-doc
    cluster assignment: ``(doc_id, component, is_canonical)`` where
    the canonical document of each cluster is its min doc id. The full
    pipeline a curation job runs to drop near-duplicates without
    losing chained-cluster members."""
    pairs = minhash_dedup_pairs(
        docs, text_col, id_col, threshold=threshold, hash_mode=hash_mode,
        num_perm=num_perm, bands=bands, k=k,
    )
    comp = connected_components(docs, pairs, id_col=id_col)
    return comp.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def _window_rows(
    df: DataFrame, text_col: str, k: int, id_col: str
) -> DataFrame:
    """(id, pos, window-text) for every SLIDING k-token window of the
    normalized text — the positional sibling of :func:`_shingle_rows`
    (same posexplode + ``lead`` codegen shape; keeps ``pos`` so span
    arithmetic downstream can map windows back into the document).
    Documents shorter than *k* tokens contribute no windows (they
    cannot hold a k-token duplicate).

    Deliberately NOT merged with ``_shingle_rows`` despite the shared
    shape: both kernels are plan-pinned and scale-measured, and their
    NULL handling differs BY DESIGN — here NULL text coalesces to ''
    (a span-dedup doc must stay addressable by position), while the
    minhash path lets split(NULL) drop the doc (no shingles → no
    signature → correctly absent from candidates)."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("__pos", "__tok"),
    )
    w = W.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", i).over(w) for i in range(1, k)]
    n = F.count("*").over(W.partitionBy(id_col))
    return (
        toks.withColumn("__n", n)
        .withColumn("__win", F.concat_ws(" ", *parts))
        .filter(F.col("__pos") + k <= F.col("__n"))
        .select(F.col(id_col), F.col("__pos").alias("pos"), "__win")
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate spans (the public ExactSubstr dedup of
    Lee et al. 2021, re-expressed relationally): find every k-token
    window of the normalized corpus that occurs more than once, keep
    the globally-first occurrence (smallest ``(doc_id, pos)``), and
    merge the remaining occurrences into maximal per-document token
    intervals ``[span_start, span_end)`` (0-based, end-exclusive).

    The suffix-array of the paper is a single-machine construction;
    the relational equivalent is: window rows → hash → first-occurrence
    aggregation → interval merge. Matching semantics: any duplicated
    substring of length ≥ k is covered by duplicated k-windows, and
    merging overlapping windows reconstructs the maximal span.

    Scale shape: window rows shuffle ONCE by window hash (8 bytes per
    window, never text) into a groupBy whose map-side partial agg
    collapses hot boilerplate windows before the wire; duplicated
    hashes join back (inner — unique windows never cross), where AQE's
    skew-join split handles billion-fold boilerplate keys (a window
    function over the hash would sort each hot key in one task).
    Interval merge is one shuffle on *id_col*: running-max-end boundary
    flags → running-sum group ids → per-group min/max.

    The window hash is only a grouping and join key, so its kernel
    cannot change the spans (up to a 64-bit collision): xxhash64.
    """
    if k < 2:
        raise ValueError("k must be >= 2 tokens")
    # persisted: consumed TWICE below (the dup aggregation and the
    # join-back probe) — without the cache the posexplode + lead-window
    # tokenize pass runs twice over the corpus. Lifetime: until the
    # caller's action completes and Spark evicts LRU; same contract as
    # the minhash signature cache (minhash_dedup_pairs).
    from ..cache import persisted

    wins = persisted(
        _window_rows(docs, text_col, k, id_col)
        .select(F.col(id_col), "pos", F.xxhash64(F.col("__win")).alias("__wh"))
    )
    dup = (
        wins.groupBy("__wh")
        .agg(
            F.count("*").alias("__cnt"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first"),
        )
        .filter(F.col("__cnt") > 1)
        .select("__wh", "__first")
    )
    to_remove = (
        wins.join(dup, "__wh")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__first.{id_col}"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select(F.col(id_col), F.col("pos").alias("__s"), (F.col("pos") + k).alias("__e"))
    )
    wd = W.partitionBy(id_col).orderBy("__s")
    prev_max_e = F.max("__e").over(wd.rowsBetween(W.unboundedPreceding, -1))
    flagged = to_remove.withColumn(
        "__grp",
        F.sum(
            F.when(F.col("__s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0)
        ).over(wd.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "__grp")
        .agg(
            F.min("__s").cast("long").alias("span_start"),
            F.max("__e").cast("long").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply :func:`duplicate_spans`: cut every duplicated span out of
    the (normalized) text, keeping the corpus-first occurrence intact.

    Returns one row per input document:
    ``(id_col, text_dedup, n_tokens, n_kept, n_removed)`` where
    ``text_dedup`` is the surviving tokens of the NORMALIZED text
    re-joined by single spaces (same contract as segment_dedup).

    The cut is a codegen'd anti-join: spans explode to their token
    positions and remove matching ``(id, pos)`` token rows — no
    per-token interpreted lambda over span arrays. Reassembly is one
    groupBy on *id_col*; fully-removed and window-less documents both
    come back (right-join against the input ids).

    Contract: a single DOCUMENT's kept tokens are reassembled as one
    array, so documents must individually fit executor memory (the
    normal case — unlike conversations, documents aren't Zipf-hot;
    same bounded-document contract as segment_dedup/merge_multiline).
    Measured: 2M docs / 81M tokens in 32 s on local[32].
    """
    spans = duplicate_spans(docs, k=k, id_col=id_col, text_col=text_col)
    removed_pos = spans.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("span_start"), F.col("span_end") - 1)).alias(
            "__pos"
        ),
    )
    # NULL text coalesces to '' so every input doc emits its one empty
    # token and survives to the output (the documented one-row-per-doc
    # contract)
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("__pos", "__tok"),
    )
    totals = toks.groupBy(id_col).agg(F.count("*").cast("long").alias("n_tokens"))
    kept = (
        toks.join(removed_pos, [id_col, "__pos"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda s: s["__tok"],
                ),
            ).alias("text_dedup"),
        )
    )
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def split_leakage(
    docs: DataFrame,
    *,
    split_col: str = "split",
    train_split: str = "train",
    text_col: str = "text",
) -> DataFrame:
    """Cross-split contamination audit after :func:`~loongcollector_
    spark.operators.sketch.split_assign`: for every non-train split,
    how many docs share a normalized-text fingerprint with ANY train
    doc — the train/test leakage check every eval pipeline must run
    before trusting held-out numbers (exact-match flavor; pair with
    ``contamination_scan`` for n-gram overlap leakage).

    Returns ``(split, n_docs, n_leaked, leak_ratio)`` for each split
    ≠ *train_split*.

    Scale shape: text never shuffles — docs reduce to an 8-byte
    xxhash64 fingerprint (only a grouping key), one groupBy on
    (fp, split) with map-side partial agg (exact-dup clusters collapse
    per task), then a max-over-fp window
    marks fingerprints present in train. The window's exchange
    re-hashes the REDUCED fingerprint table (one row per (fp, split)
    ≈ distinct docs × splits-present), not the corpus; the final
    per-split rollup is a few rows.
    """
    from pyspark.sql import Window as W

    fp = F.xxhash64(_norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    per = (
        docs.select(fp.alias("__fp"), F.col(split_col))
        .groupBy("__fp", split_col)
        .agg(F.count("*").alias("__n"))
    )
    wfp = W.partitionBy("__fp")
    in_train = F.max(
        F.when(F.col(split_col) == train_split, 1).otherwise(0)
    ).over(wfp)
    flagged = per.withColumn("__in_train", in_train).filter(
        F.col(split_col) != train_split
    )
    out = flagged.groupBy(split_col).agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__in_train") == 1, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("n_leaked"),
    )
    return out.withColumn("leak_ratio", F.col("n_leaked") / F.col("n_docs"))


def prefix_groups(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    k: int = 3,
    mask_templates: bool = True,
    hash_mode: str = "xxhash64",
    min_convs: int = 2,
    dense: bool = False,
) -> DataFrame:
    """Shared-prefix conversation grouping: conversations whose first
    *k* turns carry the same text (template-masked by default) are one
    family — the branching structure DPO/best-of-n data has when many
    rollouts continue the same context, and a dedup unit of its own
    (training on every branch of one prefix over-weights that
    context). With ``mask_templates=True`` the per-turn unit is
    :func:`..loganalytics.mask_log_line` of the text (digits/IPs/hex
    masked), so mechanically-varied replays of one flow group
    together; ``False`` groups on exact text.

    Returns ``(prefix_fp, n_convs, rep_conv)`` for families with ≥
    *min_convs* conversations — ``rep_conv`` the smallest conv id (the
    deterministic representative to keep). Conversations shorter than
    *k* turns group by their full prefix.

    Turn-index contract (ADVICE r4): the default path selects the
    prefix with ``idx_col < k``, which REQUIRES 0-based contiguous
    turn indices (the transcripts-table contract). For inputs with
    1-based or offset indices, pass ``dense=True``: turns are ranked
    by ``row_number`` over *idx_col* per conversation and the first
    *k* dense positions form the prefix. The dense path windows the
    whole conversation (one extra exchange; per-key state is still
    one row at a time through the rank), so prefer the default when
    the 0-based contract holds — the filter there prunes at the scan
    and bounds pre-aggregation state to k rows per conversation.

    Scale shape: the ``turn_idx < k`` filter bounds per-conversation
    state BEFORE any aggregation (pushes into the scan), so the
    collect_list holds ≤ k 16-byte structs per conversation — a
    Zipf-hot 10^6-turn conversation contributes k rows like everyone
    else. Two exchanges: groupBy conv over (conv, idx, fp) rows, then
    groupBy signature over the conversation-count-sized table. Text
    never shuffles; per-turn units travel as 8-byte hashes
    (*hash_mode*: ``xxhash64`` production, ``md5`` the engine-portable
    oracle kernel; ``prefix_fp`` is the signature's hash). The
    signature transform's lambda touches only its lambda variable (the
    dsir re-eval lesson) on a ≤ k array.
    """
    from .loganalytics import mask_log_line

    if k < 1:
        raise ValueError("prefix_groups: k must be >= 1")
    if min_convs < 1:
        raise ValueError("prefix_groups: min_convs must be >= 1")
    unit = F.coalesce(F.col(text_col), F.lit(""))
    if mask_templates:
        unit = mask_log_line(unit)
    fp = hashing.hash64(unit, hash_mode)

    if dense:
        from pyspark.sql import Window as W

        # fingerprint tiebreak: duplicate turn_idx values (dirty data)
        # would otherwise rank arbitrarily per execution, making the
        # prefix signature non-deterministic across runs
        rk = F.row_number().over(
            W.partitionBy(conv_col).orderBy(
                F.col(idx_col).cast("long"), F.col("__f")
            )
        )
        heads = (
            tx.select(F.col(conv_col), F.col(idx_col), fp.alias("__f"))
            .withColumn("__i", (rk - 1).cast("long"))
            .filter(F.col("__i") < k)
            .select(conv_col, "__i", "__f")
        )
    else:
        heads = tx.filter(F.col(idx_col) < k).select(
            F.col(conv_col),
            F.col(idx_col).cast("long").alias("__i"),
            fp.alias("__f"),
        )
    sig = F.concat_ws(
        "|",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__i").alias("i"), F.col("__f").alias("f")))
            ),
            lambda x: F.concat(
                x["i"].cast("string"), F.lit(":"), x["f"].cast("string")
            ),
        ),
    )
    sigs = heads.groupBy(conv_col).agg(sig.alias("__sig"))
    return (
        sigs.select(
            hashing.hash64(F.col("__sig"), hash_mode).alias("prefix_fp"),
            F.col(conv_col),
        )
        .groupBy("prefix_fp")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.min(conv_col).alias("rep_conv"),
        )
        .filter(F.col("n_convs") >= min_convs)
    )


def source_overlap(
    docs: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus sources — the provenance
    analytics a mixture designer runs before weighting sources: two
    crawls/dumps with high gram overlap are near-copies and should not
    both be upweighted (the cross-source complement of in-corpus
    dedup). Unit is the distinct *k*-token gram of the normalized
    text.

    Returns one row per unordered source pair that shares at least
    one gram — ``(src_a, src_b, grams_a, grams_b, grams_common,
    jaccard, containment)`` with ``src_a < src_b``; ``containment``
    is ``common / min(a, b)`` (the near-copy signal even when sizes
    differ wildly). Fully disjoint pairs are ABSENT from the output
    (jaccard 0 — at web scale materializing the zero cells of the
    |sources|² matrix is the caller's choice, not the default).

    Scale shape: grams build per-row as ``zip_with`` over k slices of
    a materialized token array (the dsir HOF-discipline shape — no
    outer-expression re-eval), dedup to (gram, source) with map-side
    partial aggregation (the boilerplate gram shared by 10^6 docs of
    one source collapses per map task), then ONE groupBy gram
    collecting the ≤ |sources| set — per-gram state is bounded by the
    source count, NOT the corpus, so the hottest gram costs the same
    as any other. Pair expansion and the final pair count run on the
    gram-vocabulary table; per-source totals are a broadcast join of
    |sources| rows. The corpus text never shuffles.
    """
    if k < 1:
        raise ValueError("source_overlap: k must be >= 1")
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    tokenized = docs.filter(F.length(norm) > 0).select(
        F.col(source_col).alias("__src"), F.split(norm, " ").alias("__tk")
    )
    gram_rows = tokenized.select(
        "__src", F.explode(_kgram_fold(F.col("__tk"), k)).alias("__g")
    )
    pairs = gram_rows.distinct()
    totals = pairs.groupBy("__src").agg(
        F.count("*").cast("long").alias("__total")
    )
    per_gram = pairs.groupBy("__g").agg(
        F.sort_array(F.collect_set("__src")).alias("__srcs")
    )
    # unordered pairs from the sorted ≤|sources| array; lambdas touch
    # only lambda variables and the materialized __srcs column
    expanded = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("__srcs"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("__srcs"),
                            i + 2,
                            F.greatest(
                                F.size(F.col("__srcs")) - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("__p")
    )
    common = expanded.groupBy(
        F.col("__p.a").alias("src_a"), F.col("__p.b").alias("src_b")
    ).agg(F.count("*").cast("long").alias("grams_common"))
    ta = totals.select(
        F.col("__src").alias("src_a"), F.col("__total").alias("grams_a")
    )
    tb = totals.select(
        F.col("__src").alias("src_b"), F.col("__total").alias("grams_b")
    )
    out = common.join(F.broadcast(ta), "src_a").join(F.broadcast(tb), "src_b")
    union = F.col("grams_a") + F.col("grams_b") - F.col("grams_common")
    return out.select(
        "src_a",
        "src_b",
        "grams_a",
        "grams_b",
        "grams_common",
        (F.col("grams_common") / union).alias("jaccard"),
        (
            F.col("grams_common")
            / F.least(F.col("grams_a"), F.col("grams_b"))
        ).alias("containment"),
    )


# ----------------------------------------------------------- winnowing


def winnowing_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash the
    word *k*-grams, slide a window of *w* consecutive gram hashes, and
    select each window's minimum (rightmost occurrence on ties). The
    guarantee: any match of at least w+k-1 tokens shares a fingerprint;
    expected density 2/(w+1).

    Spark-first shape: ONE window partitioned by document — the
    rightmost-min-of-window argmin is a single ``min(struct(h, -pos))``
    over ``ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING`` (struct
    ordering gives the tie-break for free), so a corpus pass costs one
    doc-keyed exchange + sort, then a distinct on the selected
    (doc, pos, hash) triples. No all-pairs, no Python.

    Docs with fewer than w full windows still emit fingerprints (the
    single all-grams window); docs shorter than *k* tokens contribute
    their whole normalized text as one gram (the shingles() fallback).
    ``hash_mode`` picks the gram-hash kernel
    (:mod:`..functions.hashing`).

    Returns one row per fingerprint: (id_col, fp_pos, fp_hash).
    """
    # HOF discipline (the dsir._gram_rows lesson, NOTES.md): materialize
    # the token array FIRST, build grams with _kgram_fold (zip_with over
    # top-level slices; lambdas touch only lambda vars) — a transform
    # whose lambda slices the outer split(norm(text)) expression re-runs
    # the normalization regex once PER GRAM (measured: 2M-doc campaign
    # leg went from stuck-at-12-min to seconds after this rewrite).
    base = df.select(
        F.col(id_col),
        F.split(
            _norm_text(F.coalesce(F.col(text_col), F.lit(""))), " "
        ).alias("__tk"),
    )
    tk = F.col("__tk")
    grams = F.when(F.size(tk) >= k, _kgram_fold(tk, k)).otherwise(
        F.array(F.concat_ws(" ", tk))
    )
    g = base.select(F.col(id_col), F.posexplode(grams).alias("__p0", "__gram"))
    pos = (F.col("__p0") + 1).alias("__pos")
    g = g.select(id_col, pos, hashing.hash64(F.col("__gram"), hash_mode).alias("__h"))
    win = W.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    part = W.partitionBy(id_col)
    sel = F.min(F.struct(F.col("__h").alias("h"), (-F.col("__pos")).alias("np")))
    g = g.select(
        id_col,
        "__pos",
        sel.over(win).alias("__sel"),
        F.count("*").over(part).alias("__n"),
    )
    # full windows only (plus the single short-doc window at pos 1)
    g = g.filter(
        F.col("__pos") <= F.greatest(F.col("__n") - (w - 1), F.lit(1))
    )
    return g.select(
        F.col(id_col),
        (-F.col("__sel.np")).alias("fp_pos"),
        F.col("__sel.h").alias("fp_hash"),
    ).distinct()


def winnowing_pairs(
    fps: DataFrame,
    *,
    id_col: str = "doc_id",
    max_bucket: int = 50,
    min_shared: int = 1,
) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints — the MOSS match step, banded-LSH style: join docs
    through the fingerprint-hash buckets, never all-pairs. Buckets
    with more than *max_bucket* distinct docs are dropped
    deterministically (shared boilerplate saturates them; same cap
    discipline as the LSH ops — mirror the HAVING in any oracle).

    Returns (doc_a, doc_b, n_shared, n_a, n_b, containment) where
    containment = shared fingerprint hashes / the smaller doc's
    distinct fingerprint hashes.
    """
    dh = fps.select(F.col(id_col).alias("__doc"), "fp_hash").distinct()
    totals = dh.groupBy("__doc").agg(F.count("*").cast("long").alias("__n_fp"))
    ok = (
        dh.groupBy("fp_hash")
        .agg(F.countDistinct("__doc").alias("__b"))
        .filter(F.col("__b") <= max_bucket)
        .select("fp_hash")
    )
    kept = dh.join(ok, "fp_hash")
    a = kept.select(F.col("fp_hash"), F.col("__doc").alias("doc_a"))
    b = kept.select(F.col("fp_hash"), F.col("__doc").alias("doc_b"))
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    ta = totals.select(F.col("__doc").alias("doc_a"), F.col("__n_fp").alias("n_a"))
    tb = totals.select(F.col("__doc").alias("doc_b"), F.col("__n_fp").alias("n_b"))
    out = pairs.join(ta, "doc_a").join(tb, "doc_b")
    return out.select(
        "doc_a",
        "doc_b",
        "n_shared",
        "n_a",
        "n_b",
        (F.col("n_shared") / F.least(F.col("n_a"), F.col("n_b"))).alias(
            "containment"
        ),
    )
