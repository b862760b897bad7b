"""LM-pretraining sequence packing: concatenate a document corpus into
one deterministic token stream and cut it into fixed-length training
sequences (the GPT-style "pack then chunk" dataloader transform).

This is the step between curation and training: after dedup/filtering,
documents are tokenized, joined by an EOS marker in a deterministic
corpus order, and the stream is sliced into ``seq_len``-token blocks so
every training example is exactly full (no padding waste).  The op
reports, per output sequence, its token count, how many documents it
spans, and an engine-portable md5 fingerprint of the packed tokens so
cross-engine value equality is checkable token-for-token.

Scale design (the whole point at 100 TB):

* Tokenisation and per-doc length are **per-row JVM expressions**
  (``regexp_extract_all`` + ``size``) — no Python, no shuffle.
* The global token offset of every document is an **exact distributed
  prefix sum**: deterministic monotone blocks on ``doc_id``
  (:func:`monotone_block_id` — literal cut points from one bounded
  sample, NOT the physical partition id, which proved inconsistent
  across plan subtrees), per-block running sum, plus a broadcast join
  against the tiny per-block totals table cum-summed on the driver
  side of the plan (N_blocks rows — the only single-partition window
  touches that N-row table, never the data).  This is the textbook
  scalable prefix-sum; a naive ``Window.orderBy(doc_id)`` with no
  partitionBy would sort the whole corpus into ONE task and is exactly
  what this implementation avoids.
* Each document then knows which sequences it overlaps and emits one
  *fragment* per overlapped sequence (``slice`` of its token array —
  per-row, no re-tokenisation).  The single data shuffle is the
  groupBy on ``seq_id`` that assembles fragments — any packer must
  move each token across the wire once; this one moves it exactly
  once.
* Output is parallelism-invariant: offsets are exact, so the result is
  byte-identical at any partition count (tested).

Reference relation: LoongCollector has no trainer-facing packer; this
extends the curation surface (SURVEY.md §2.11) the same way dedup/
quality ops do.  Semantics follow the public GPT-2/3 data pipeline
description (concatenate with EOS, chunk fixed-length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = ["pack_sequences", "TOKEN_REGEX", "EOS_TOKEN"]

# same BPE-ish public segmentation used by text.token_stats
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"
EOS_TOKEN = "<eos>"


def monotone_block_id(
    df: DataFrame, order_col: str, blocks: int, *, sample_cap: int = 65536
):
    """Deterministic, data-derived block id for block-decomposed prefix
    sums: monotone non-decreasing in *order_col* (binary/ANSI
    ordering), identical in every plan subtree that evaluates it, and
    approximately balanced.

    Replaces the previous ``spark_partition_id()`` over
    ``repartitionByRange`` scheme, which was silently WRONG whenever
    the blocked DataFrame fed more than one plan subtree: exchange
    reuse is an optimization, not a guarantee, and Spark's range
    partitioner seeds its boundary sampler with the RDD id — two
    executions of the "same" exchange draw DIFFERENT boundaries, the
    per-row block ids and the per-block totals then disagree, and the
    cum-sum join silently corrupts every offset. Caught by the round-5
    24M-row campaign (trailing_zscore block≠window on every run once
    the upstream plan held a broadcast join; 31/32 blocks had different
    row counts between the two consumers of one DataFrame);
    regression-pinned through :func:`_global_offsets` in
    tests/test_packing.py.

    Mechanics: ONE bounded driver-side sampling job (hash-systematic
    1-in-211 sample capped at *sample_cap*; small inputs collect whole
    and the cuts are exact quantiles) freezes up to ``blocks - 1``
    ascending cut points as plan LITERALS, and the returned Column is
    a codegen sum of ``value >= cut`` comparisons. Cut quality affects
    only block BALANCE — downstream prefix sums are exact under ANY
    monotone cut, so a lopsided or partition-order-dependent sample
    can never corrupt values (parallelism-invariance of consumers is
    preserved). Timestamp/date order columns compare through
    ``unix_micros``/``unix_date`` images; NULL order values land in
    block 0 (Spark sorts NULLS FIRST ascending).
    """
    c = F.col(order_col)
    dt = dict(df.dtypes)[order_col]
    if dt.startswith("timestamp"):
        v = F.unix_micros(c.cast("timestamp"))
    elif dt == "date":
        v = F.unix_date(c)
    else:
        v = c
    if blocks <= 1:
        return F.lit(0)
    sample = [
        r[0]
        for r in df.select(v.alias("_v"))
        .filter(F.pmod(F.xxhash64(F.col("_v")), F.lit(211)) == 0)
        .limit(sample_cap)
        .collect()
        if r[0] is not None
    ]
    if len(sample) < 4 * blocks:
        # small table (or ultra-low-cardinality order values): collect
        # up to the cap directly — for tables under the cap the cuts
        # are exact quantiles
        sample = [
            r[0]
            for r in df.select(v.alias("_v")).limit(sample_cap).collect()
            if r[0] is not None
        ]
    sample.sort()
    cuts: list = []
    for i in range(1, blocks):
        if not sample:
            break
        cut = sample[(i * len(sample)) // blocks]
        if not cuts or cut > cuts[-1]:
            cuts.append(cut)
    if not cuts:
        return F.lit(0)
    blk = F.lit(0)
    for cut in cuts:
        blk = blk + (v >= F.lit(cut)).cast("int")
    return F.coalesce(blk, F.lit(0))


def _global_offsets(df: DataFrame, n_col: str, order_col: str, parts: int) -> DataFrame:
    """Exact distributed prefix sum of *n_col* in *order_col* order.

    Adds ``g_start`` = sum of *n_col* over all rows strictly before
    this one in *order_col* order.  Deterministic monotone block id
    (:func:`monotone_block_id` — literal cut points, NOT the physical
    partition id) + local window per block + broadcast of per-block
    totals; no global sort, and the only driver traffic is the bounded
    cut-point sample.
    """
    ranged = df.withColumn(
        "_pid", monotone_block_id(df, order_col, parts)
    )
    local = W.partitionBy("_pid").orderBy(order_col).rowsBetween(W.unboundedPreceding, -1)
    ranged = ranged.withColumn("_local_off", F.coalesce(F.sum(n_col).over(local), F.lit(0)))

    totals = ranged.groupBy("_pid").agg(F.sum(n_col).alias("_ptotal"))
    # N_partitions rows: the single-partition window below touches only
    # this tiny table, never the data
    prefix = totals.withColumn(
        "_prefix",
        F.coalesce(
            F.sum("_ptotal").over(
                W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_prefix")

    return (
        ranged.join(F.broadcast(prefix), "_pid")
        .withColumn("g_start", (F.col("_prefix") + F.col("_local_off")).cast("long"))
        .drop("_pid", "_local_off", "_prefix")
    )


def pack_sequences(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    eos: str = EOS_TOKEN,
    parts: int = 32,
) -> DataFrame:
    """Pack the corpus into fixed-length token sequences.

    Documents are tokenized with :data:`TOKEN_REGEX`, terminated with
    *eos*, concatenated in ascending *id_col* order, and chunked into
    *seq_len*-token sequences (the last one may be short). *id_col*
    must be a corpus primary key — duplicate ids would make the corpus
    order (and the offset join) ambiguous.  Returns one
    row per sequence::

        seq_id:    long   -- 0-based chunk index in the global stream
        n_tokens:  int    -- seq_len except possibly the last
        n_docs:    int    -- documents contributing tokens
        first_doc: <id>   -- smallest contributing doc id
        fp:        string -- md5 of the space-joined packed tokens
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")

    toks = F.array_append(
        F.regexp_extract_all(F.coalesce(F.col(text_col), F.lit("")), F.lit(TOKEN_REGEX), 0),
        F.lit(eos),
    )
    with_tk = df.select(F.col(id_col).alias("doc_id"), toks.alias("tk")).withColumn(
        "n", F.size("tk")
    )
    # prefix-sum over the SKINNY (doc_id, n) projection: the offset
    # machinery's two shuffles carry 16 bytes/doc, never token arrays
    # (tokenizing twice is CPU; shuffling tokens twice is the wire).
    # Token payload then moves exactly twice: the offset join here and
    # the fragment groupBy below.
    lens = with_tk.select("doc_id", "n")
    offs = _global_offsets(lens, "n", "doc_id", parts).select("doc_id", "g_start")
    docs = with_tk.join(offs, "doc_id")

    L = F.lit(seq_len)
    first_seq = (F.col("g_start") / L).cast("long")
    last_seq = ((F.col("g_start") + F.col("n") - 1) / L).cast("long")

    # fragments are built as a per-row array FIRST, then exploded:
    # exploding seq ids and slicing afterwards would carry the whole
    # token array through every exploded row (O(n²/seq_len) copying on
    # a huge document); the fragment array totals exactly n tokens, so
    # the explode emits each token once
    def frag_struct(s):
        fstart = F.greatest(s * L - F.col("g_start"), F.lit(0))
        fend = F.least((s + 1) * L - F.col("g_start"), F.col("n"))
        return F.struct(
            s.cast("long").alias("seq_id"),
            (F.col("g_start") + fstart).alias("g_pos"),
            F.slice(
                F.col("tk"), (fstart + 1).cast("int"), (fend - fstart).cast("int")
            ).alias("frag"),
        )

    frag_arr = F.transform(F.sequence(first_seq, last_seq), frag_struct)
    frags = docs.select(
        "doc_id", F.explode(frag_arr).alias("__f")
    ).select(
        F.col("__f.seq_id").alias("seq_id"),
        "doc_id",
        F.col("__f.g_pos").alias("g_pos"),
        F.col("__f.frag").alias("frag"),
    )

    assembled = frags.groupBy("seq_id").agg(
        F.sum(F.size("frag")).cast("int").alias("n_tokens"),
        F.count("*").cast("int").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("g_pos", "frag"))), lambda s: s["frag"]
            )
        ).alias("_toks"),
    )
    return assembled.select(
        "seq_id",
        "n_tokens",
        "n_docs",
        "first_doc",
        F.md5(F.concat_ws(" ", "_toks")).alias("fp"),
    )
