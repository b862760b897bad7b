"""Byte-pair-encoding tokenizer: distributed training counts, exact
merge application.

The 100 TB architecture (how real tokenizer training scales):

* The only pass that touches the corpus is a **word-frequency count**
  — ``groupBy(word).count()`` with map-side combine, one shuffle whose
  volume is the *vocabulary*, not the corpus.
* Merge training runs **driver-side on the aggregated dictionary**
  (bounded: top ``max_words`` by frequency — the classic
  subword-nmt/GPT-2 recipe trains on a word-count dict, never on raw
  text). The collect is capped the same way the IVF training collect
  is (similarity.py): you cannot accidentally pull a corpus onto the
  driver.
* Tokenization broadcasts the merge list. The merge count picks one
  of two kernels:

  - up to ``MAX_EXPR_MERGES`` merges — the merge fold compiles to
    ``k`` literal ``replace`` calls on a delimiter-encoded word,
    entirely whole-stage-codegen JVM (and reproducible verbatim in
    DuckDB — this is the oracle kernel AND the production path for
    moderate ``k``);
  - beyond it — Arrow-batched UDF with an explicit per-batch word
    cache, for large merge tables where compiling thousands of
    replaces into the plan stops being sensible.

The delimiter trick that makes ``expr`` exact: a word is encoded
``||h||e||l||l||o||`` (every token wrapped in ``||``). One merge
``(a, b) → ab`` is the literal replacement ``|a||b| → |ab|``: the
pattern consumes only the *inner* pipes of the shared boundary, so
consecutive matches keep their delimiters and a plain left-to-right
non-overlapping ``replace`` is exactly BPE's leftmost-greedy merge
scan — including runs (``aaaa → (aa)(aa)``) and cross-merge chaining.
Token identity stays unambiguous because normalized words cannot
contain ``|``.

Merges apply **sequentially in training order** — identical to how
the training loop itself evolves the vocabulary (round *t* applies
merge *t* everywhere, then recounts). This matches min-rank-iterate
encoders except on output-string collisions (two different merges
producing the same symbol string), which training itself resolves the
same sequential way.

Reference behavior: LoongCollector has no tokenizer; this implements
the standard BPE algorithm (Sennrich et al. 2016, subword-nmt) as a
training-data-pipeline operator over the documents table.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _norm_text

__all__ = [
    "word_frequencies",
    "bpe_train_from_counts",
    "train_bpe",
    "encode_word_expr",
    "bpe_apply_expr",
    "token_count_expr",
    "tokens_expr",
    "bpe_tokenize",
]

#: expr-fold guard: each merge is one more nested replace in the
#: projection; past this, whole-stage codegen's 64 KB method limit and
#: plan-compile time make the word-cache UDF the right tool.
MAX_EXPR_MERGES = 128

#: training-collect cap, same rationale as the IVF training cap
#: (similarity.py): the driver sees a bounded dictionary, never a
#: corpus-sized collect.
MAX_TRAIN_WORDS = 200_000


# ------------------------------------------------------------ counts


def word_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """``(word, freq)`` over the normalized corpus — the ONE
    corpus-sized pass of BPE training. Explode → groupBy(word) is
    map-side combined; the shuffle carries one row per distinct word
    per partition."""
    words = df.select(
        F.explode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("word")
    ).filter(F.col("word") != "")
    out = words.groupBy("word").agg(F.count("*").alias("freq"))
    if min_count > 1:
        out = out.filter(F.col("freq") >= min_count)
    return out


# ------------------------------------------------------------ training


def _merge_word(
    word: tuple[str, ...], a: str, b: str
) -> tuple[str, ...]:
    """One leftmost-greedy non-overlapping merge pass — THE merge
    semantics, shared by training (vocab update) and the word-cache
    apply kernel so the two can never diverge."""
    out: list[str] = []
    j = 0
    while j < len(word):
        if j + 1 < len(word) and word[j] == a and word[j + 1] == b:
            out.append(a + b)
            j += 2
        else:
            out.append(word[j])
            j += 1
    return tuple(out)


def bpe_train_from_counts(
    counts: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge training on a word-frequency dictionary
    (driver-side, no Spark). Deterministic: ties break on the
    lexicographically smallest pair. Incremental pair-count updates —
    per merge, only words containing the merged pair are revisited —
    so cost is O(merges × affected words), not O(merges × vocab).

    Returns the ordered merge list ``[(left, right), ...]``.
    """
    vocab: list[tuple[str, ...]] = [tuple(w) for w, _ in counts]
    freqs = [int(f) for _, f in counts]
    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, word in enumerate(vocab):
        f = freqs[i]
        for pair in zip(word, word[1:]):
            pair_counts[pair] += f
            where[pair].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        # deterministic argmax: highest count, then lexicographically
        # SMALLEST pair (stable across hash orders and Python versions)
        best = None
        best_c = 0
        for pair, c in pair_counts.items():
            if c > best_c or (c == best_c and best is not None and pair < best):
                best, best_c = pair, c
        if best is None or best_c < 1:
            break
        a, b = best
        merges.append(best)
        for i in list(where[best]):
            word, f = vocab[i], freqs[i]
            for pair in zip(word, word[1:]):
                pair_counts[pair] -= f
                where[pair].discard(i)
                # prune zeroed pairs so the per-merge argmax scan stays
                # proportional to LIVE pairs (the documented
                # O(merges × affected words) bound, not the ever-seen
                # pair universe)
                if pair_counts[pair] <= 0:
                    del pair_counts[pair]
                    where.pop(pair, None)
            word = _merge_word(word, a, b)
            vocab[i] = word
            for pair in zip(word, word[1:]):
                pair_counts[pair] += f
                where[pair].add(i)
        pair_counts.pop(best, None)
        where.pop(best, None)
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Distributed count pass + driver-side merge loop.

    ``max_words`` bounds the training dictionary to the most frequent
    words (count desc, word asc — deterministic), hard-capped at
    ``MAX_TRAIN_WORDS``: at 100 TB the dictionary a driver trains on
    is a top-K slice, never the full tail.
    """
    max_words = min(max_words, MAX_TRAIN_WORDS)
    top = (
        word_frequencies(df, text_col)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    return bpe_train_from_counts([(r.word, r.freq) for r in top], num_merges)


# ------------------------------------------------------------ apply


def encode_word_expr(word: Column) -> Column:
    """Word → delimiter encoding ``||c1||c2||...||`` (see module doc).
    Empty word encodes ``||`` (zero tokens)."""
    return F.concat(F.lit("||"), F.regexp_replace(word, r"(.)", r"$1||"))


def bpe_apply_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Fold the ordered merge list over an encoded word as ``k``
    literal replaces — whole-stage codegen, reproducible in any engine
    with ``replace()``."""
    if len(merges) > MAX_EXPR_MERGES:
        raise ValueError(
            f"expr fold caps at {MAX_EXPR_MERGES} merges "
            f"(got {len(merges)}); bpe_tokenize takes larger tables"
        )
    s = encode_word_expr(word)
    for a, b in merges:
        s = F.replace(s, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    return s


def token_count_expr(encoded: Column) -> Column:
    """Tokens in an encoded word: ``#('||' occurrences) - 1``; each
    ``'||'→'|'`` shortens the string by exactly 1."""
    return (
        F.length(encoded) - F.length(F.replace(encoded, F.lit("||"), F.lit("|")))
        - F.lit(1)
    )


def tokens_expr(encoded: Column) -> Column:
    """Encoded word → space-joined token string (``'||ab||c||'`` →
    ``'ab c'``)."""
    return F.trim(F.replace(encoded, F.lit("||"), F.lit(" ")))


def _apply_word_py(
    word: str, merges: list[tuple[str, str]]
) -> list[str]:
    """Python twin of the expr fold: the same ``_merge_word`` pass the
    trainer uses, folded over the merge list in training order."""
    toks: tuple[str, ...] = tuple(word)
    for a, b in merges:
        toks = _merge_word(toks, a, b)
    return list(toks)


def _per_word_expr(
    words: DataFrame, merges: list[tuple[str, str]], id_col: str
) -> DataFrame:
    """``(id, n_chars, n_tokens)`` per word via the codegen expr fold."""
    enc = bpe_apply_expr(F.col("word"), merges)
    return words.select(
        F.col(id_col),
        F.length("word").alias("n_chars"),
        token_count_expr(enc).alias("n_tokens"),
    )


def _per_word_cached(
    words: DataFrame, merges: list[tuple[str, str]], id_col: str
) -> DataFrame:
    """``(id, n_chars, n_tokens)`` per word via an Arrow-batched UDF
    with a per-batch word cache (duplicate words — the common case by
    Zipf — tokenize once per batch)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            cache: dict[str, int] = {}

            def n_tok(w: str) -> int:
                n = cache.get(w)
                if n is None:
                    n = len(_apply_word_py(w, merges))
                    cache[w] = n
                return n

            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_chars": pdf["word"].str.len().astype("int32"),
                    "n_tokens": pdf["word"].map(n_tok).astype("int32"),
                }
            )

    fields = words.schema[id_col].dataType.simpleString()
    return words.mapInPandas(
        run,
        schema=f"{id_col} {fields}, n_chars int, n_tokens int",
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE tokenization stats: ``(id, n_words, n_chars,
    n_tokens)`` — ``n_tokens`` is the post-merge count, the number a
    training-data pipeline budgets sequences with.

    Plan shape: explode normalized words (no shuffle — stays in the
    scan stage), apply the merge fold per word, re-aggregate by id
    (one shuffle, map-side combined). Up to ``MAX_EXPR_MERGES`` merges
    the fold stays in codegen; larger tables move it to an
    Arrow-batched UDF with a per-batch word cache.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(_norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("word"),
    ).filter(F.col("word") != "")
    kernel = _per_word_expr if len(merges) <= MAX_EXPR_MERGES else _per_word_cached
    per_word = kernel(words, merges, id_col)
    return per_word.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
