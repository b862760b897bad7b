"""BPE tokenizer: training golden, kernel agreement, kernel dispatch."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import bpe


def test_train_matches_sennrich_example():
    """The worked example from Sennrich et al. 2016 (no </w> variant):
    es → est → lo → low."""
    counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe.bpe_train_from_counts(counts, 4)
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]
    assert bpe._apply_word_py("lowest", merges) == ["low", "est"]
    assert bpe._apply_word_py("widest", merges) == ["w", "i", "d", "est"]


def test_train_deterministic_ties():
    """Equal-count pairs break on the lexicographically smallest."""
    # genuine tie: (b,a) and (a,c) each occur exactly twice, disjoint
    # words so no overlap effects; (a,c) < (b,a) lexicographically
    merges = bpe.bpe_train_from_counts([("ba", 2), ("ac", 2)], 1)
    assert merges == [("a", "c")]
    # and the mirror ordering of the input must not change the winner
    merges = bpe.bpe_train_from_counts([("ac", 2), ("ba", 2)], 1)
    assert merges == [("a", "c")]


def test_apply_leftmost_greedy_runs():
    """aaaa → (aa)(aa); aaa → (aa)(a); chaining across merges."""
    m1 = [("a", "a")]
    assert bpe._apply_word_py("aaaa", m1) == ["aa", "aa"]
    assert bpe._apply_word_py("aaa", m1) == ["aa", "a"]
    m2 = [("a", "a"), ("aa", "aa")]
    assert bpe._apply_word_py("aaaa", m2) == ["aaaa"]
    assert bpe._apply_word_py("aaaaa", m2) == ["aaaa", "a"]


def test_expr_kernel_agrees_with_python(spark):
    """The ||-delimited replace fold == the Python twin on adversarial
    words (runs, overlaps, chains, empties)."""
    merges = [
        ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"),
        ("a", "a"), ("aa", "aa"), ("t", "h"), ("th", "e"),
    ]
    words = [
        "lowest", "widest", "aaaa", "aaaaa", "aaa", "the", "thethe",
        "x", "estest", "lotslow", "aabaa", "threst",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    enc = bpe.bpe_apply_expr(F.col("word"), merges)
    rows = df.select(
        "word",
        bpe.token_count_expr(enc).alias("n"),
        bpe.tokens_expr(enc).alias("toks"),
    ).collect()
    for r in rows:
        py = bpe._apply_word_py(r.word, merges)
        assert r.n == len(py), r.word
        assert r.toks == " ".join(py), r.word


MERGES = [("e", "r"), ("i", "n"), ("s", "t"), ("a", "t"), ("t", "h")]


def test_tokenize_engines_agree(spark, sf_dir):
    """The expr kernel (codegen fold) and the cached-UDF kernel produce
    identical per-word stats on the real documents table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.explode(F.split(bpe._norm_text(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    a, b = (
        sorted(tuple(r) for r in kernel(words, MERGES, "doc_id").collect())
        for kernel in (bpe._per_word_expr, bpe._per_word_cached)
    )
    assert a == b
    assert len(a) > 0
    # merges only ever shrink token counts, never below one per word
    assert all(1 <= n_tokens <= n_chars for _, n_chars, n_tokens in a)


def test_tokenize_past_expr_cap_uses_cached_kernel(spark, sf_dir):
    """More than MAX_EXPR_MERGES merges tokenizes instead of raising;
    merges that never fire leave the stats of the effective ones."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inert = [(f"#{i}", "#") for i in range(bpe.MAX_EXPR_MERGES + 1 - len(MERGES))]
    big = bpe.bpe_tokenize(docs, MERGES + inert)
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()
    small = bpe.bpe_tokenize(docs, MERGES)
    rows = [sorted(tuple(r) for r in df.collect()) for df in (big, small)]
    assert rows[0] == rows[1]
    assert len(rows[0]) > 0
    # merges only ever shrink token counts, never below n_words
    for _, n_words, n_chars, n_tokens in rows[0]:
        assert n_words <= n_tokens <= n_chars


def test_train_bpe_end_to_end(spark, sf_dir):
    """Distributed count pass + driver training is deterministic and
    learns corpus-frequent merges; tokenizing with more merges never
    increases the token count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = bpe.train_bpe(docs, num_merges=8, max_words=10_000)
    m2 = bpe.train_bpe(docs, num_merges=8, max_words=10_000)
    assert m1 == m2 and len(m1) == 8
    t0 = bpe.bpe_tokenize(docs, []).agg(F.sum("n_tokens")).first()[0]
    t8 = bpe.bpe_tokenize(docs, m1).agg(F.sum("n_tokens")).first()[0]
    assert t8 < t0  # the learned merges actually compress


def test_expr_merge_cap():
    with pytest.raises(ValueError, match="expr fold caps"):
        bpe.bpe_apply_expr(
            F.lit("x"), [(f"a{i}", "b") for i in range(bpe.MAX_EXPR_MERGES + 1)]
        )


def test_train_collect_is_capped(spark, sf_dir):
    """max_words is clamped to MAX_TRAIN_WORDS — the driver never
    collects an unbounded dictionary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the call must succeed (clamped) even with an absurd request
    m = bpe.train_bpe(docs, num_merges=2, max_words=10**9)
    assert len(m) == 2
