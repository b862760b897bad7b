"""Round-5 ADVICE fixes: numeric 5xx range in the shared error flag,
Unicode-apostrophe + word-boundary refusal matching, the dense
(index-offset-tolerant) prefix_groups path, and the streaming loop
alert's out-of-order regression counter."""

import os

from pyspark.sql import functions as F

from loongcollector_spark.operators.dedup import prefix_groups
from loongcollector_spark.operators.trajectory import refusal_scan, tool_errors

TX_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string"
)


# ------------------------------------------------------------ _error_flag


def test_error_flag_is_numeric_range_not_lexicographic(spark):
    """Codes 600-999 are not errors (ADVICE r4: old string >= '500'
    flagged them); 500 and 599 are; 499 is not."""
    rows = [
        ("c1", 0, "t", 'GET /x HTTP/1.1" 600 9', "a"),
        ("c1", 1, "t", 'GET /x HTTP/1.1" 999 9', "a"),
        ("c1", 2, "t", "code=700 odd", "a"),
        ("c1", 3, "t", 'GET /x HTTP/1.1" 500 9', "a"),
        ("c1", 4, "t", "code=599 bad", "a"),
        ("c1", 5, "t", 'GET /x HTTP/1.1" 499 9', "a"),
    ]
    r = tool_errors(spark.createDataFrame(rows, TX_SCHEMA)).collect()[0]
    assert r["n_errors"] == 2


# ----------------------------------------------------------- refusal_scan


def test_refusal_curly_apostrophe_matches(spark):
    rows = [
        ("c1", 0, "assistant", "I can’t help with that", None),
        ("c1", 1, "assistant", "I’m sorry, but no", None),
        ("c2", 0, "assistant", "sure thing", None),
    ]
    out = {
        r["conv_id"]: r
        for r in refusal_scan(spark.createDataFrame(rows, TX_SCHEMA)).collect()
    }
    assert out["c1"]["n_refusals"] == 2
    assert out["c2"]["n_refusals"] == 0


def test_refusal_as_an_ai_is_word_bounded(spark):
    rows = [
        # false-positive phrases under the old bare-substring form
        ("c1", 0, "assistant", "I work as an airline dispatcher", None),
        ("c1", 1, "assistant", "serving as an aid to the team", None),
        ("c1", 2, "assistant", "hired as an aide last year", None),
        # genuine refusal forms still hit
        ("c2", 0, "assistant", "As an AI, I must decline", None),
        ("c2", 1, "assistant", "as an ai I cannot do this", None),
        ("c2", 2, "assistant", "I speak as an AI.", None),
        # punctuation-adjacent forms (missed by the literal-space
        # enumeration the regex boundary class replaced)
        ("c3", 0, "assistant", "(As an AI) I must decline", None),
        ("c3", 1, "assistant", 'He said "as an ai" again', None),
        ("c3", 2, "assistant", "as an ai—no can do", None),
    ]
    out = {
        r["conv_id"]: r
        for r in refusal_scan(spark.createDataFrame(rows, TX_SCHEMA)).collect()
    }
    assert out["c1"]["n_refusals"] == 0
    assert out["c2"]["n_refusals"] == 3
    assert out["c3"]["n_refusals"] == 3


# ---------------------------------------------------------- prefix_groups


def test_prefix_groups_dense_handles_offset_indices(spark):
    """Two conversations with identical first-3 texts but 1-based vs
    100-based turn indices: the dense path groups them; the default
    0-based-contract path cannot see the 100-based prefix at all."""
    rows = [
        ("a", 1, "u", "hello", None),
        ("a", 2, "a", "world", None),
        ("a", 3, "u", "again", None),
        ("a", 4, "a", "tail-a", None),
        ("b", 100, "u", "hello", None),
        ("b", 101, "a", "world", None),
        ("b", 102, "u", "again", None),
        ("b", 103, "a", "tail-b", None),
    ]
    tx = spark.createDataFrame(rows, TX_SCHEMA)
    fams = prefix_groups(tx, k=3, dense=True).collect()
    assert len(fams) == 1
    assert fams[0]["n_convs"] == 2 and fams[0]["rep_conv"] == "a"
    # default path: conv b contributes no rows (all idx >= 3)
    assert prefix_groups(tx, k=3).count() == 0


def test_prefix_groups_dense_parity_on_zero_based_input(spark):
    """On contract-conforming (0-based contiguous) input the dense and
    default paths produce identical families."""
    rows = [
        (c, i, "u", t, None)
        for c, texts in [
            ("x", ["p", "q", "r", "s"]),
            ("y", ["p", "q", "r", "t"]),
            ("z", ["p", "q", "DIFF", "u"]),
        ]
        for i, t in enumerate(texts)
    ]
    tx = spark.createDataFrame(rows, TX_SCHEMA)
    a = {
        (r["prefix_fp"], r["n_convs"], r["rep_conv"])
        for r in prefix_groups(tx, k=3).collect()
    }
    b = {
        (r["prefix_fp"], r["n_convs"], r["rep_conv"])
        for r in prefix_groups(tx, k=3, dense=True).collect()
    }
    assert a == b and len(a) == 1


# ------------------------------------------------------- stream_loop_alert


def test_stream_loop_alert_flags_out_of_order_batches(spark, tmp_path):
    """Turns (2,3) arriving one micro-batch BEFORE turns (0,1) must
    surface in ooo_regressions; an ordered split reports zero."""
    from loongcollector_spark.streaming.stream import (
        read_transcript_stream,
        stream_loop_alert,
    )

    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    later = [("cx", 2, "a", "retry 3", "t"), ("cx", 3, "a", "retry 4", "t")]
    earlier = [("cx", 0, "a", "retry 1", "t"), ("cx", 1, "a", "retry 2", "t")]
    src = str(tmp_path / "ooo")
    spark.createDataFrame(later, schema).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).coalesce(1).write.parquet(src)
    first = {f for f in os.listdir(src) if f.endswith(".parquet")}
    spark.createDataFrame(earlier, schema).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:01"))
    ).coalesce(1).write.mode("append").parquet(src)
    second = {f for f in os.listdir(src) if f.endswith(".parquet")} - first
    # mtime order = processing order for maxFilesPerTrigger=1: the
    # high-turn file first, the low-turn file second
    for i, f in enumerate(sorted(first) + sorted(second)):
        os.utime(os.path.join(src, f), (1700000000 + i, 1700000000 + i))
    q = (
        stream_loop_alert(read_transcript_stream(spark, src, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("loop_ooo")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_ooo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql(
        "select max(ooo_regressions) as o, max(max_run) as m from loop_ooo"
    ).collect()[0]
    assert row.o == 2  # turns 0 and 1 both arrived after turn 3 was folded
    assert row.m >= 2  # counts remain a lower bound, not garbage


# ------------------------------------------------------- persist tracking


def test_persisted_operators_release_cleanly(spark, sf_dir):
    """Every operator that persists a reduced intermediate routes it
    through cache.persisted; after the consuming action +
    release_persisted() no persisted RDDs remain (VERDICT r4 item 4)."""
    from loongcollector_spark.cache import persisted, release_persisted
    from loongcollector_spark.operators.delta import token_drift
    from loongcollector_spark.operators.retrieval import tfidf_topk_terms
    from loongcollector_spark.operators.text import (
        bigram_lm_perplexity,
        lm_perplexity,
        mixture_report,
        pmi_collocations,
        temperature_mixture,
        vocab_report,
    )

    def cached_ids() -> set[int]:
        return {
            int(str(k))
            for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }

    release_persisted()
    spark.catalog.clearCache()
    # Track SPECIFIC RDD ids, not counts: localCheckpoint RDDs from
    # unrelated earlier tests survive clearCache() AND may be removed
    # asynchronously by the ContextCleaner mid-test (observed flake),
    # so absolute-count deltas are racy. The contract is that each
    # operator's OWN persists appear and that release frees exactly
    # those — assert on the id sets.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    runs = [
        lambda: lm_perplexity(docs).count(),
        lambda: mixture_report(docs).count(),
        lambda: temperature_mixture(docs).count(),
        lambda: bigram_lm_perplexity(docs).count(),
        lambda: vocab_report(docs).count(),
        lambda: pmi_collocations(docs).count(),
        lambda: tfidf_topk_terms(docs).count(),
        lambda: token_drift(old, docs).count(),
    ]
    for run in runs:
        before = cached_ids()
        run()
        new = cached_ids() - before
        assert new  # the persist actually happened
        released = release_persisted()
        assert released >= 1
        assert not (new & cached_ids())  # and the release freed it


def test_persist_scope_releases_on_exit(spark):
    from loongcollector_spark.cache import persist_scope, persisted

    def n_cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    df = spark.range(10)
    with persist_scope():
        persisted(df).count()
        assert n_cached() == base + 1
    assert n_cached() == base


# ------------------------------------------------- Arrow gram kernel parity


_GRAM_TEXTS = [
    (0, None),
    (1, ""),
    (2, "one"),
    (3, "Alpha beta"),
    (4, "a b c"),
    (5, "a b c d e f g"),
    (6, "x x x x x"),  # repeated grams — exercises distinct semantics
    (7, "Hello, WORLD!  multi   space punct."),
    (8, " ".join(f"t{i}" for i in range(20))),
]


def _gram_df(spark):
    return spark.createDataFrame(_GRAM_TEXTS, "doc_id long, text string")


def test_kgram_arrow_matches_zipwith_kernel(spark):
    """The Arrow kernel's output arrays are byte-identical to
    split + _kgram_fold for every k, including distinct and the
    whole-text fallback (benchmark_contamination's short-doc rule)."""
    from loongcollector_spark.operators.dedup import (
        _kgram_arrow,
        _kgram_fold,
        _norm_text,
    )

    df = _gram_df(spark)
    norm = _norm_text(F.coalesce(F.col("text"), F.lit("")))
    tk = F.split(norm, " ")
    for k in (1, 2, 3, 13):
        got = df.select("doc_id", _kgram_arrow(norm, (k,)).alias("g"))
        want = df.select("doc_id", _kgram_fold(tk, k).alias("g"))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"plain k={k}"
        got_d = df.select(
            "doc_id", _kgram_arrow(norm, (k,), distinct=True).alias("g")
        )
        want_d = df.select(
            "doc_id", F.array_distinct(_kgram_fold(tk, k)).alias("g")
        )
        assert sorted(map(tuple, got_d.collect())) == sorted(
            map(tuple, want_d.collect())
        ), f"distinct k={k}"
        got_w = df.select(
            "doc_id",
            _kgram_arrow(norm, (k,), distinct=True, whole_fallback=True).alias(
                "g"
            ),
        )
        want_w = df.select(
            "doc_id",
            F.when(
                F.size(tk) < k, F.array(F.array_join(tk, " "))
            ).otherwise(F.array_distinct(_kgram_fold(tk, k))).alias("g"),
        )
        assert sorted(map(tuple, got_w.collect())) == sorted(
            map(tuple, want_w.collect())
        ), f"whole_fallback k={k}"
    # the dsir unigram+bigram shape: concat(tk, bigrams)
    n_bi = F.size(tk) - 1
    bigrams = F.zip_with(
        F.slice(tk, 1, n_bi),
        F.slice(tk, 2, n_bi),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    got_ub = df.select("doc_id", _kgram_arrow(norm, (1, 2)).alias("g"))
    want_ub = df.select("doc_id", F.concat(tk, bigrams).alias("g"))
    assert sorted(map(tuple, got_ub.collect())) == sorted(
        map(tuple, want_ub.collect())
    )
