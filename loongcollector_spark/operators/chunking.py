"""Document chunking for retrieval / context-window preparation.

A RAG or long-context training pipeline slices each document into
fixed-size token windows with overlap before embedding or packing.
Training-data-pipeline addition (not in the reference; SURVEY §2.11 —
same family as packing.py / assemble.py).

Scale shape: one narrow projection — ``split`` → ``sequence`` →
``posexplode`` → ``slice`` — entirely whole-stage codegen, no shuffle,
no Python. Output size is input tokens × (size/stride) overlap factor;
the text column is re-materialised per chunk (inherent to chunking),
so at 100 TB this runs as a streaming map over the scan with output
proportional to the overlap factor, never a wide plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hashing
from .dedup import _norm_text


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Slice each document into token windows of ``chunk_size`` whitespace
    tokens starting every ``stride`` tokens (``stride < chunk_size`` ⇒
    overlapping windows, the usual RAG setting).

    Windows start at token offsets ``0, stride, 2·stride, …`` while the
    offset is inside the document; the final window may be shorter than
    ``chunk_size`` (the tail suffix). Documents whose normalized text is
    empty produce no chunks. Tokenization is the corpus-wide
    ``_norm_text`` whitespace split shared with the dedup/text family.

    Returns ``(id_col, chunk_idx, n_chunk_tokens, chunk_text)`` with
    ``chunk_idx`` counting windows from 0 within each document.
    """
    if chunk_size <= 0 or stride <= 0:
        raise ValueError("chunk_documents: chunk_size and stride must be > 0")
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.split(norm, " ")
    starts = F.sequence(
        F.lit(0), F.size(F.col("__tk")) - 1, F.lit(stride)
    )
    return (
        docs.select(id_col, norm.alias("__norm"), toks.alias("__tk"))
        .filter(F.length("__norm") > 0)
        .select(
            id_col,
            "__tk",
            F.posexplode(starts).alias("chunk_idx", "__start"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.slice(
                F.col("__tk"), F.col("__start") + 1, F.lit(chunk_size)
            ).alias("__chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("__chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def truncate_context(
    tx: DataFrame,
    max_tokens: int,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Context-window trimming: keep the maximal SUFFIX of turns per
    conversation whose total whitespace-token count fits *max_tokens*
    — what an inference or SFT-export job does when a conversation
    outgrows the model context ("keep the most recent turns that
    fit"). The final turn is always kept even if it alone exceeds the
    budget (dropping it would emit an empty conversation).

    Tokens are raw whitespace splits of the trimmed text (NULL/blank
    → 0) — truncation must not re-normalize the text it keeps, unlike
    the ``_norm_text`` analysis family.

    Returns the kept rows as ``(conv_col, idx_col, n_tokens,
    tokens_from_end)`` where ``tokens_from_end`` is the running total
    counted from the last turn backwards (≤ *max_tokens* except
    possibly on the single always-kept final turn).

    One shuffle on *conv_col*: the reverse cumulative sum and the
    last-turn row_number share one descending window spec, so Spark
    plans a single Exchange + single Window. No Python, no second
    pass; at 10^12 turns this is sort-within-conversation work, and a
    1M-turn hot conversation is one window partition — the same
    accepted bound as stable_order / sessionize (window sorts spill,
    they don't OOM).
    """
    if max_tokens < 1:
        raise ValueError("truncate_context: max_tokens must be >= 1")
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    n_tok = F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    w = W.partitionBy(conv_col).orderBy(F.col(idx_col).desc())
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    out = tx.select(
        F.col(conv_col),
        F.col(idx_col),
        n_tok.cast("long").alias("n_tokens"),
    ).select(
        conv_col,
        idx_col,
        "n_tokens",
        F.sum("n_tokens").over(wsum).alias("tokens_from_end"),
        F.row_number().over(w).alias("__rn_from_end"),
    )
    return out.filter(
        (F.col("tokens_from_end") <= max_tokens) | (F.col("__rn_from_end") == 1)
    ).drop("__rn_from_end")


def fim_split(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "psm",
    hash_mode: str = "xxhash64",
    prefix_token: str = "<|fim_prefix|>",
    suffix_token: str = "<|fim_suffix|>",
    middle_token: str = "<|fim_middle|>",
) -> DataFrame:
    """Fill-in-the-middle training-example construction (Bavarian et
    al. 2022): split each document's text at two pseudo-random
    character cuts into (prefix, middle, suffix) and render the PSM
    (``<pre>P<suf>S<mid>M``) or SPM (``<pre><suf>S<mid>P M`` analog:
    suffix first) sentinel layout the FIM objective trains on. The
    cuts are a pure function of ``hash(doc_id)`` — reproducible across
    runs and engines, never ``rand()`` (which would break resume and
    the oracle): two independent buckets in ``[0,1000)`` place
    ``cut1 ∈ [1, L-2]`` and ``cut2 ∈ [cut1+1, L-1]`` so all three
    parts are non-empty. Docs shorter than 3 characters cannot be
    split and are excluded.

    ``hash_mode='xxhash64'`` is the production path;
    ``'md5'`` the DuckDB-reproducible oracle kernel (the shared
    ``hashing.bucket`` contract). Character arithmetic is
    codepoint-based and exact for the ASCII fixtures; both engines
    count codepoints, so the oracle holds on any well-formed UTF-8.

    Returns ``(id_col, n_chars, prefix_chars, middle_chars,
    fim_text)``.

    Scale shape: ONE narrow codegen projection — two hashes, two
    substrings, one concat; no shuffle, no Python, output ≈ input
    bytes + sentinel overhead. At 100 TB this is a streaming map over
    the scan.
    """
    if mode not in ("psm", "spm"):
        raise ValueError(f"fim_split: unknown mode {mode!r}")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    L = F.length(txt)
    b1 = hashing.bucket(
        F.concat(F.col(id_col).cast("string"), F.lit("#fimp")), 1000, hash_mode
    )
    b2 = hashing.bucket(
        F.concat(F.col(id_col).cast("string"), F.lit("#fimm")), 1000, hash_mode
    )
    cut1 = (F.lit(1) + F.floor(b1 * (L - 2) / F.lit(1000))).cast("int")
    cut2 = (
        cut1 + F.lit(1) + F.floor(b2 * (L - 2 - cut1) / F.lit(1000))
    ).cast("int")
    base = docs.filter(L >= 3).select(
        F.col(id_col),
        L.cast("int").alias("n_chars"),
        txt.alias("__t"),
        cut1.alias("__c1"),
        cut2.alias("__c2"),
    )
    prefix = F.expr("substring(__t, 1, __c1)")
    middle = F.expr("substring(__t, __c1 + 1, __c2 - __c1)")
    suffix = F.expr("substring(__t, __c2 + 1, n_chars - __c2)")
    if mode == "psm":
        rendered = F.concat(
            F.lit(prefix_token), prefix,
            F.lit(suffix_token), suffix,
            F.lit(middle_token), middle,
        )
    else:  # spm: suffix context first, then prefix, then middle
        rendered = F.concat(
            F.lit(suffix_token), suffix,
            F.lit(prefix_token), prefix,
            F.lit(middle_token), middle,
        )
    return base.select(
        id_col,
        "n_chars",
        F.col("__c1").alias("prefix_chars"),
        (F.col("__c2") - F.col("__c1")).alias("middle_chars"),
        rendered.alias("fim_text"),
    )
