"""Tests for training-data curation operators: dedup, similarity,
text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_dedup_exact(spark, docs):
    out = dedup.dedup_exact(docs)
    n_docs = docs.count()
    n_uniq_text = docs.select("text").distinct().count()
    assert out.count() == n_uniq_text
    assert out.agg(F.sum("dup_count")).collect()[0][0] == n_docs


def test_segment_dedup_semantics(spark):
    # doc 1 is the first occurrence of every segment; doc 2 repeats
    # doc 1's first segment (boilerplate) but has a unique tail; doc 3
    # is an exact copy of doc 1 and must come back empty.
    boiler = "a b c"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} d e f"),
            (2, f"{boiler} x y z"),
            (3, f"{boiler} d e f"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.segment_dedup(df, tokens_per_segment=3).collect()
    }
    assert out[1]["text_dedup"] == "a b c d e f"
    assert (out[1]["n_segments"], out[1]["n_kept"]) == (2, 2)
    # doc 2 loses the boilerplate chunk, keeps its unique tail
    assert out[2]["text_dedup"] == "x y z"
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (2, 1)
    # exact copy fully deduped but still present in the output
    assert out[3]["text_dedup"] == ""
    assert (out[3]["n_segments"], out[3]["n_kept"]) == (2, 0)


def test_segment_dedup_plan_has_no_window(spark, docs):
    # first-occurrence must stay an aggregation (map-side partial agg
    # collapses hot boilerplate segments) — never a row_number window
    plan = (
        dedup.segment_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Python" not in plan  # pure JVM expressions end to end


def test_shingles_and_minhash(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w q r t")],
        ["doc_id", "text"],
    )
    sh = dedup.shingles(df, k=3)
    row = {r.doc_id: r.shingles for r in sh.collect()}
    assert row[1][0] == "a b c"
    assert row[1] == row[2] != row[3]
    sig = dedup.minhash_signatures(sh, num_perm=16)
    s = {r.doc_id: r.minhash for r in sig.collect()}
    assert s[1] == s[2]
    assert s[1] != s[3]
    assert len(s[1]) == 16


def test_minhash_dedup_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base.replace("lazy", "sleepy")),  # near dup
        (4, "completely different content about spark sql engines and columnar io"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_dedup_pairs(
        df, k=3, num_perm=64, bands=16, threshold=0.5
    ).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (1, 2) in got
    assert all(4 not in p for p in got)


def test_simhash_and_hamming(spark):
    df = spark.createDataFrame(
        [
            (1, "spark makes distributed data processing simple and fast today"),
            (2, "spark makes distributed data processing simple and fast now"),
            (3, "an entirely unrelated musing on cooking pasta with tomatoes"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.simhash(df).select("doc_id", "simhash")
    sh = {r.doc_id: r.simhash for r in out.collect()}
    a = out.alias("a")
    b = out.alias("b")
    d = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "a.doc_id",
            "b.doc_id",
            dedup.hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        )
        .collect()
    )
    dist = {(r[0], r[1]): r.ham for r in d}
    assert dist[(1, 2)] < dist[(1, 3)]
    assert dist[(1, 2)] < dist[(2, 3)]


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "f g h i j")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["a", "b"])
    out = {(r.a, r.b): r.jaccard for r in dedup.ngram_jaccard_pairs(df, pairs).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] == 0.0


def test_brute_force_topk(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3, 4, 5]
        assert all(r.neighbor_id != q for r in rs)
        sims = [r.cos_sim for r in sorted(rs, key=lambda x: x.rank)]
        assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_ann_topk(emb, queries, k=5, n_planes=8, n_tables=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_embedding_near_dups_finds_self_clusters(spark, emb):
    # duplicate a few vectors with new ids -> must be found at cos≈1
    dup = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(dup)
    out = similarity.embedding_near_dups(both, threshold=0.999)
    got = {(r.a, r.b) for r in out.collect()}
    for i in [r.vec_id for r in emb.limit(3).collect()]:
        assert (i, i + 100000) in got


def test_token_stats_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times."), (2, "")], ["doc_id", "text"]
    )
    r = {x.doc_id: x for x in text.token_stats(df).collect()}
    assert r[1].n_ws_tokens == 4
    assert r[2].n_ws_tokens == 0
    # regex tokens: Hello , world ! 42 times . = 7
    assert r[1].n_re_tokens == 7
    q = {x.doc_id: x for x in text.quality_signals(df).collect()}
    assert q[1].n_punct == 3
    assert q[1].n_digits == 2
    assert q[2].mean_word_len == 0.0


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b c\nx\nx\nx"),
            (2, "one two three four"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in text.repetition_signals(df).collect()}
    # doc 1: lines [a b a b a b c, x, x, x] -> 2 repeat occurrences / 4
    assert r[1].n_lines == 4
    assert r[1].dup_line_frac == 0.5
    # repeat chars 2*len('x') / (13 + 3*1) = 2/16
    assert r[1].dup_line_char_frac == 0.125
    # top bigram 'a b' x3, len 3; norm text len 19 -> 9/19
    assert abs(r[1].top_ngram_char_frac - 9 / 19) < 1e-12
    # trigrams: 'a b a' x2 + 'b a b' x2 duplicated of 8 total
    assert r[1].dup_ngram_frac == 0.5
    # doc 2: all bigrams count 1 -> tie broken by smallest gram
    # ('one two', len 7) over norm length 18
    assert r[2].dup_line_frac == 0.0
    assert abs(r[2].top_ngram_char_frac - 7 / 18) < 1e-12
    # empty and NULL text behave identically (all-zero signals)
    for d in (3, 4):
        assert r[d].n_lines == 1
        assert r[d].dup_line_frac == 0.0
        assert r[d].top_ngram_char_frac == 0.0
        assert r[d].dup_ngram_frac == 0.0


def test_pii_scan_and_redact(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user+x@example.co.uk from 10.0.0.1 now"),
            (2, "card 4111 1111 1111 1111 call +1 555 867 5309"),
            (3, "nothing here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in text.pii_scan(df).collect()}
    assert (r[1].n_email, r[1].n_ipv4, r[1].n_cc, r[1].n_phone) == (1, 1, 0, 0)
    assert (r[2].n_cc, r[2].n_phone, r[2].n_email, r[2].n_ipv4) == (1, 1, 0, 0)
    assert (r[3].n_cc, r[3].n_phone, r[3].n_email, r[3].n_ipv4) == (0, 0, 0, 0)
    assert (r[4].n_cc, r[4].n_phone, r[4].n_email, r[4].n_ipv4) == (0, 0, 0, 0)

    red = {x.doc_id: x.text for x in text.pii_redact(df).collect()}
    assert red[1] == "mail <EMAIL> from <IPV4> now"
    assert red[2] == "card <CC> call <PHONE>"
    assert red[3] == "nothing here"
    assert red[4] is None
    # dest= keeps the original column
    both = text.pii_redact(df, dest="redacted").collect()[0]
    assert both.text != both.redacted


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist nicht in das haus und die katze"),
            (3, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "unknown"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.fingerprint for r in text.fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_multimodal_plumbing(spark):
    png = b"\x89PNG\r\n\x1a\n" + b"fakepayload"
    wav = b"RIFF" + b"fakeaudio"
    df = spark.createDataFrame([(1, png), (2, wav), (3, b"junk")], ["id", "media"])
    meta = multimodal.attach_media_metadata(df)
    m = {r.id: r.media_meta for r in meta.collect()}
    assert m[1].format == "png" and m[1].media_type == "image"
    assert m[2].format == "wav" and m[2].media_type == "audio"
    assert m[3].format == "unknown"
    assert m[1].size_bytes == len(png)
    feats = multimodal.extract_features(df, dim=8)
    f = {r.id: r.features for r in feats.collect()}
    assert len(f[1]) == 8
    assert f[1] != f[2]
    # determinism
    f2 = {r.id: r.features for r in multimodal.extract_features(df, dim=8).collect()}
    assert f == f2
    frames = multimodal.sample_frames(df, n_frames=3)
    fr = {r.id: r.frames for r in frames.collect()}
    assert len(fr[1]) == 3

def test_simhash_codegen_agrees_with_hof(spark):
    """The explode→conditional-sum rewrite must reproduce the original
    per-row HOF expression bit-for-bit (same tokens, same xxhash64,
    same majority rule, same sign-bit handling)."""
    rows = [
        (1, "spark makes distributed data processing simple and fast today"),
        (2, "Mixed CASE, punctuation!! and   whitespace\tnoise 123"),
        (3, ""),  # empty text → single '' token both paths
        (4, "repeated repeated repeated tokens tokens collapse"),
        (5, "a"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    new = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    old = {
        r.doc_id: r.simhash
        for r in dedup._simhash_hof(df).select("doc_id", "simhash").collect()
    }
    assert new == old


def test_simhash_md5_mode_is_60_bit(spark):
    df = spark.createDataFrame([(1, "one two three")], ["doc_id", "text"])
    [r] = dedup.simhash(df, hash_mode="md5").collect()
    assert 0 <= r.simhash < 1 << 60


def test_minhash_md5_mode_finds_same_planted_pairs(spark):
    """Oracle (md5) and production (xxhash64) kernels are different
    hash families but must both surface the planted exact/near dups
    and never the unrelated doc."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base),
        (3, base.replace("lazy", "sleepy")),
        (4, "completely different content about spark sql engines and columnar io"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for mode in ("md5", "xxhash64"):
        pairs = dedup.minhash_dedup_pairs(
            df, k=3, num_perm=64, bands=16, threshold=0.5, hash_mode=mode
        ).collect()
        got = {(r.a, r.b) for r in pairs}
        assert (1, 2) in got, mode
        assert all(4 not in p for p in got), mode
        est = {(r.a, r.b): r.jaccard_est for r in pairs}
        assert est[(1, 2)] == 1.0


def test_semantic_dedup_drops_planted_duplicates(spark, emb):
    from pyspark.sql import functions as F

    dup = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(dup)
    out = similarity.semantic_dedup(both, threshold=0.999, n_clusters=8)
    # identical vectors always share a k-means cell, so every planted
    # copy loses to its lower-id original
    assert out.count() == emb.count()
    assert out.filter("vec_id >= 100000").count() == 0
    assert "cluster" in out.columns
    # survivors keep original columns intact
    assert set(emb.columns) <= set(out.columns)


def test_connected_components_chained_clusters(spark):
    """a~b and b~c must land in ONE component (the pairwise-winner
    trap this operator exists to fix); separate clusters and
    singletons keep distinct labels; label = min id in component."""
    from loongcollector_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6), (7, 0)], ["a", "b"]
    )
    out = {r.doc_id: r.component for r in connected_components(nodes, edges).collect()}
    assert out == {0: 0, 7: 0, 1: 1, 3: 1, 5: 1, 2: 2, 6: 2, 4: 4}


def test_dedup_components_vs_pair_winners(spark, sf_dir):
    """dedup_components keeps exactly one canonical doc per near-dup
    cluster; every non-canonical doc's component points at an existing
    canonical doc."""
    from loongcollector_spark.operators.dedup import dedup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comp = dedup_components(docs, threshold=0.5, hash_mode="md5").collect()
    by_comp = {}
    for r in comp:
        by_comp.setdefault(r.component, []).append((r.doc_id, r.is_canonical))
    for c, members in by_comp.items():
        canon = [d for d, is_c in members if is_c]
        assert canon == [c]  # exactly one canonical == the min id
        assert min(d for d, _ in members) == c


def test_stratified_sample_deterministic_and_rate(spark, sf_dir):
    """Same salt → identical row set across runs and parallelism;
    different salt → different draw; rates land near target; xxhash64
    and md5 kernels implement the same contract."""
    from loongcollector_spark.operators.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frac = {"en": 0.5, "de": 0.0}
    a = {r.doc_id for r in stratified_sample(docs, "lang", frac).collect()}
    b = {
        r.doc_id
        for r in stratified_sample(
            docs.repartition(7), "lang", frac
        ).collect()
    }
    assert a == b  # parallelism-independent
    c = {r.doc_id for r in stratified_sample(docs, "lang", frac, salt="x").collect()}
    assert a != c  # independent draw per salt
    n_en = docs.filter("lang = 'en'").count()
    kept_en = (
        stratified_sample(docs, "lang", frac)
        .filter("lang = 'en'")
        .count()
    )
    assert abs(kept_en / n_en - 0.5) < 0.15
    assert stratified_sample(docs, "lang", frac).filter("lang = 'de'").count() == 0
    # default_fraction=0 drops unlisted strata entirely
    assert (
        stratified_sample(docs, "lang", {"en": 1.0})
        .filter("lang <> 'en'")
        .count()
        == 0
    )


def test_benchmark_contamination_semantics(spark):
    # doc 10 shares a 3-gram with the benchmark, doc 11 shares none,
    # doc 12 is shorter than n (whole-text gram, no benchmark match)
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (10, "zz alpha beta gamma yy"),
            (11, "one two three four five"),
            (12, "alpha beta"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in text.benchmark_contamination(docs, bench, n=3).collect()
    }
    assert out[10]["contaminated"] == 1 and out[10]["n_hit"] == 1
    assert out[10]["n_grams"] == 3
    assert out[11]["contaminated"] == 0 and out[11]["n_hit"] == 0
    assert out[12]["contaminated"] == 0 and out[12]["n_grams"] == 1


def test_benchmark_contamination_empty_docs_never_flag(spark):
    """A NULL/blank document and a NULL/blank benchmark row share the
    degenerate '' whole-text gram; content-free docs must NOT flag as
    contaminated (the empty gram never enters the hit set)."""
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "   ")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [(10, None), (11, ""), (12, "  "), (13, "alpha beta gamma zz")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in text.benchmark_contamination(docs, bench, n=3).collect()
    }
    assert len(out) == 4  # one row per doc, empties included
    for d in (10, 11, 12):
        assert out[d]["contaminated"] == 0 and out[d]["n_hit"] == 0
    assert out[13]["contaminated"] == 1


def test_benchmark_contamination_broadcasts_bench(spark, docs):
    # the benchmark probe must be a broadcast join and the corpus must
    # never shuffle or sort by gram value at 100 TB — the only hash
    # exchange is the final skinny per-doc rollup
    bench = docs.limit(5)
    plan = (
        text.benchmark_contamination(docs, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(shingle" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # groupBy(doc_id)


def test_lm_perplexity_semantics(spark):
    # corpus: 'a' x3, 'b' x1 -> p(a)=3/4, p(b)=1/4
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in text.lm_perplexity(docs).collect()}
    import math

    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 1
    assert out[1]["cross_entropy_bits"] == pytest.approx(-math.log2(0.75))
    assert out[2]["cross_entropy_bits"] == pytest.approx(2.0)
    assert out[2]["ppl"] == pytest.approx(4.0)
    # the all-majority-token doc scores LOWER perplexity than the rare one
    assert out[1]["ppl"] < out[2]["ppl"]


def test_mixture_report_shares_sum_to_one(spark, docs):
    rows = text.mixture_report(docs).collect()
    assert {r["source"] for r in rows} == {
        r["source"] for r in docs.select("source").distinct().collect()
    }
    assert sum(r["doc_share"] for r in rows) == pytest.approx(1.0)
    assert sum(r["token_share"] for r in rows) == pytest.approx(1.0)
    assert sum(r["n_docs"] for r in rows) == docs.count()
