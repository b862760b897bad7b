"""Regression tests for the fourth review batch (checkpoint job-id
contamination, NaN cosine, LSH dim inference, sessionize_counts
default)."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import similarity
from loongcollector_spark.operators.enrich import (
    _desensitize_md5_resub,
    desensitize as enrich_desensitize,
)
from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.plans.checkpoint import run_with_checkpoint

from similarity_reference import sql_brute_force_topk


def test_checkpoint_jobid_prefix_no_contamination(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"c{i}", i, "x") for i in range(8)], ["conv_id", "turn_idx", "v"]
    )
    lin = str(tmp_path / "lineage")
    # job 'run_2' commits its units first
    run_with_checkpoint(
        spark, df, lambda d: d,
        out_dir=str(tmp_path / "o2"), lineage_dir=lin, job_id="run_2", n_units=2,
    )
    # job 'run' must NOT see run_2's units as its own
    out = run_with_checkpoint(
        spark, df, lambda d: d,
        out_dir=str(tmp_path / "o1"), lineage_dir=lin, job_id="run", n_units=2,
    )
    assert out.count() == 8  # all units processed, none skipped


def test_zero_vector_never_tops_ranking(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero vector
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = spark.createDataFrame([(1, [1.0, 0.0, 0.0])], ["query_id", "embedding"])
    for name, topk in (
        ("numpy", similarity.brute_force_topk),
        ("sql reference", sql_brute_force_topk),
    ):
        top = topk(emb, q, k=2).collect()
        ranked = sorted(top, key=lambda r: r.rank)
        assert ranked[0].neighbor_id == 2, name
        assert ranked[1].neighbor_id == 3 and ranked[1].cos_sim == 0.0, name


def test_lsh_dim_inferred_from_data(spark):
    # 8-dim embeddings, no dim argument: buckets must differentiate
    import random

    rng = random.Random(1)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.embedding_near_dups(emb, threshold=0.99)
    assert out.count() == 0  # random vectors: no near-dups, no blowup
    # duplicated vector is still found
    dup = emb.limit(1).withColumn("vec_id", F.lit(999))
    out2 = similarity.embedding_near_dups(emb.unionByName(dup), threshold=0.999)
    assert {(r.a, r.b) for r in out2.collect()} == {(0, 999)}


def test_sessionize_counts_default_keys(spark, sf_dir):
    from loongcollector_spark.sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    pipe = Pipeline({
        "processors": [],
        "aggregates": [{"type": "sessionize_counts", "gap_seconds": 3600}],
    })
    aggs = pipe.aggregates(tx)
    assert aggs["sessionize_counts"].count() > 0


def test_resize_upscale_no_black_cells():
    import numpy as np

    from loongcollector_spark.functions import codecs

    img = np.full((2, 2, 1), 200, dtype=np.uint8)
    up = codecs.resize_block_mean(img, 4, 4)
    assert (up == 200).all()  # binning-only impl left zero-filled cells
    # mixed: shrink rows, grow cols
    img2 = np.full((4, 2, 1), 100, dtype=np.uint8)
    mixed = codecs.resize_block_mean(img2, 2, 4)
    assert mixed.shape == (2, 4, 1) and (mixed == 100).all()


def test_resize_images_corrupt_png_yields_null(spark):
    from loongcollector_spark.operators import multimodal

    corrupt = b"\x89PNG\r\n\x1a\n" + b"\x00" * 40  # magic but garbage chunks
    df = spark.createDataFrame([(1, bytearray(corrupt))], "id long, media binary")
    out = multimodal.resize_images(df).first()
    assert out.resized is None  # zlib/struct errors must not kill the job


def test_encrypt_gcm_default_iv_works(spark):
    from loongcollector_spark.operators.enrich import decrypt_fields, encrypt_fields

    key = "00112233445566778899aabbccddeeff"
    df = spark.createDataFrame([("v1",)], ["v"])
    enc = encrypt_fields(df, ["v"], key, mode="GCM")  # default IV path
    dec = decrypt_fields(enc, ["v"], key, mode="GCM")
    assert dec.first().v == "v1"


def test_gotime_epoch_dest_is_location_independent(spark):
    from loongcollector_spark.operators.parse import parse_gotime

    df = spark.createDataFrame([("2024-01-01 00:00:00",)], ["t"])
    outs = [
        parse_gotime(
            df, "t", "2006-01-02 15:04:05", "o", "seconds",
            source_location=0, dest_location=loc,
        ).first().o
        for loc in (0, 8, -5)
    ]
    assert outs == ["1704067200"] * 3  # Go t.In(loc).Unix() ignores loc


def test_gotime_optional_fraction_parses_both(spark):
    from loongcollector_spark.operators.parse import parse_gotime

    df = spark.createDataFrame(
        [("2024-03-05 10:30:00",), ("2024-03-05 10:30:00.250",)], ["t"]
    )
    out = parse_gotime(
        df, "t", "2006-01-02 15:04:05.999", "o", "seconds", source_location=0
    )
    assert [r.o for r in out.collect()] == ["1709634600", "1709634600"]


def test_simhash_null_text_keeps_doc(spark):
    from loongcollector_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert set(out) == {1, 2}
    assert out[2] == 0  # matches the per-row HOF expression's NULL result


def test_checkpoint_empty_input(spark, tmp_path):
    from loongcollector_spark.plans.checkpoint import run_with_checkpoint

    df = spark.createDataFrame([], "conv_id string, turn_idx long")
    out = run_with_checkpoint(
        spark, df, lambda d: d,
        out_dir=str(tmp_path / "o"), lineage_dir=str(tmp_path / "lin"),
        job_id="empty", n_units=2,
    )
    assert out.count() == 0
    assert set(out.columns) == {"conv_id", "turn_idx"}

# ---------------------------------------------------------------- round-3
# regression tests for the round-3 self-review findings


def test_otlp_packed_wrong_wiretype_returns_none():
    """A packed field with a scalar wire type or truncated fixed-width
    payload is rejected (None), never a TypeError crash or a
    fabricated value from the tail."""
    import struct

    from loongcollector_spark.functions import protowire as w
    from loongcollector_spark.functions.otlp_wire import decode_metrics

    def metric_payload(dp_body):
        hist = w.write_len_delimited(1, dp_body)
        m = w.write_string_field(1, "x") + w.write_len_delimited(9, hist)
        return w.write_len_delimited(
            1, w.write_len_delimited(2, w.write_len_delimited(2, m))
        )

    # bucketCounts (field 6, packed fixed64) as a varint record
    assert decode_metrics(metric_payload(w.write_varint_field(6, 5))) is None
    # explicitBounds (field 7, packed doubles) with a 4-byte tail
    bad = w.write_len_delimited(7, struct.pack("<d", 1.5) + b"\x01\x02\x03\x04")
    assert decode_metrics(metric_payload(bad)) is None
    # well-formed singular unpacked double still accepted
    ok = w.write_tag(7, 1) + struct.pack("<d", 1.5)
    assert decode_metrics(metric_payload(ok)) is not None


def test_sls_serializer_null_topic_and_null_time(spark):
    """NULL topic values keep their logs (empty topic) and NULL times
    encode as 0 — nothing silently dropped, nothing crashes."""
    from datetime import datetime

    from loongcollector_spark.sources.sls_pb import (
        decode_loggroup,
        serialize_sls_loggroups,
    )

    rows = [
        ("a", "s1", datetime(2024, 1, 1)),
        ("b", None, None),
    ]
    df = spark.createDataFrame(
        rows, "text string, sink string, ts timestamp"
    ).coalesce(1)
    out = serialize_sls_loggroups(df, topic_key="sink", time_key="ts").collect()
    by_topic = {r.topic: decode_loggroup(bytes(r.value)) for r in out}
    assert set(by_topic) == {"s1", ""}
    assert by_topic[""]["logs"][0]["contents"] == [("text", "b")]
    assert by_topic[""]["logs"][0]["time"] == 0


def test_split_log_regex_carries_unorderable_map_column(spark):
    """A map-typed carry column (parse_json output) must survive the
    split — grouping must not put it in the grouping key."""
    from loongcollector_spark.operators.parse import split_log_regex

    df = spark.createDataFrame(
        [("ERR a\n x\nERR b", {"k": "v"})],
        "text string, parsed map<string,string>",
    )
    out = split_log_regex(df, "text", r"^ERR ")
    rows = sorted((r.text, dict(r.parsed)) for r in out.collect())
    assert rows == [("ERR a\n x", {"k": "v"}), ("ERR b", {"k": "v"})]
    assert out.columns == ["parsed", "text"]


def test_dedup_components_honors_id_and_text_cols(spark):
    from loongcollector_spark.operators.dedup import dedup_components

    df = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "the quick brown fox jumps over the lazy dog today"),
            (12, "completely different content with no overlap at all"),
        ],
        "my_id long, body string",
    )
    out = {
        r.my_id: (r.component, r.is_canonical)
        for r in dedup_components(
            df, id_col="my_id", text_col="body", threshold=0.5
        ).collect()
    }
    assert out[10] == (10, True)
    assert out[11] == (10, False)
    assert out[12] == (12, True)


def test_connected_components_raises_on_nonconvergence(spark):
    from loongcollector_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, chain, max_iterations=1)
    # enough budget → converges fine
    out = connected_components(nodes, chain, max_iterations=10)
    assert {r.component for r in out.collect()} == {0}


def test_desensitize_md5_zero_width_pattern_dispatches_to_pandas(spark):
    """Patterns that can match '' (x*) silently corrupted the native
    interleave; they now route to the re.sub twin at plan time."""
    import hashlib

    df = spark.createDataFrame([("axbxxc",)], ["text"])
    out = enrich_desensitize(df, "text", r"x+", method="md5").first().text
    h1 = hashlib.md5(b"x").hexdigest()
    h2 = hashlib.md5(b"xx").hexdigest()
    assert out == f"a{h1}b{h2}c"
    # zero-width-capable pattern: same result as the re.sub twin
    nat = enrich_desensitize(df, "text", r"x*", method="md5").first().text
    pdn = _desensitize_md5_resub(df, "text", r"x*").first().text
    assert nat == pdn


# ---------------------------------------------------------------------------
# session-3 review findings: NULL text must never poison or drop rows


def test_assemble_null_turn_does_not_poison_fold(spark):
    from loongcollector_spark.operators.assemble import conversation_examples

    tx = spark.createDataFrame(
        [
            ("c", 0, "user", "one two three"),
            ("c", 1, "tool", None),
            ("c", 2, "user", "four five six seven eight"),
            ("c", 3, "user", "nine ten eleven twelve"),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = conversation_examples(tx, max_tokens=6).orderBy("example_idx").collect()
    # NULL turn counts 1 token (role tag) and the bound keeps holding
    assert all(r.n_tokens is not None for r in out)
    assert all(r.n_tokens <= 6 for r in out)
    assert sum(r.n_turns for r in out) == 4
    assert sum(r.n_tokens for r in out) == 4 + 1 + 6 + 5


def test_exact_substring_keeps_null_text_docs(spark):
    from loongcollector_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c d e f"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=6).collect()}
    assert set(out) == {1, 2, 3}  # NULL-text doc comes back
    assert out[1].text_dedup == "" and out[1].n_removed == 0
    assert out[3].text_dedup == ""  # the dup still deduped


def test_bigram_and_unigram_score_null_text_docs(spark):
    from loongcollector_spark.operators.text import (
        bigram_lm_perplexity,
        lm_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "a b a b")], "doc_id long, text string"
    )
    bg = {r.doc_id for r in bigram_lm_perplexity(docs).collect()}
    ug = {r.doc_id for r in lm_perplexity(docs).collect()}
    assert bg == ug == {1, 2}


def test_quality_score_never_null_and_text_untouched(spark):
    from loongcollector_spark.operators.text import quality_classifier_score

    docs = spark.createDataFrame(
        [(1, None), (2, "the cat sat on the mat")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in
           quality_classifier_score(docs, [0.3, 0.1, 1.5, 6.0, -8.0, -4.0], -2.0).collect()}
    assert out[1].quality_score is not None
    assert out[1].quality_keep is not None
    assert out[1].text is None  # caller's column untouched
    # doc 1 now lands on exactly one side of any keep-split
    kept = out[1].quality_keep
    assert kept in (True, False)


def test_url_stats_and_blocklist(spark):
    from loongcollector_spark.operators.text import (
        domain_blocklist_filter,
        url_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "see https://good.org/x and http://a.evil.com/p?q=1 plus https://EVIL.com."),
            (2, "no links here"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    st = {r.doc_id: r for r in url_stats(df).collect()}
    assert st[1].n_urls == 3
    # trailing sentence dot stripped; subdomain + case folded
    assert st[1].domains == ["a.evil.com", "evil.com", "good.org"]
    assert st[2].n_urls == 0 and st[3].n_urls == 0

    kept = [r.doc_id for r in domain_blocklist_filter(df, ["evil.com"]).collect()]
    assert sorted(kept) == [2, 3]
    flagged = {
        r.doc_id: r.blocked
        for r in domain_blocklist_filter(df, ["evil.com"], keep_flag="blocked").collect()
    }
    assert flagged == {1: True, 2: False, 3: False}
    # goodevil.com must NOT match the evil.com blocklist (label boundary)
    df2 = spark.createDataFrame(
        [(9, "https://goodevil.com/x")], "doc_id long, text string"
    )
    assert [r.doc_id for r in domain_blocklist_filter(df2, ["evil.com"]).collect()] == [9]
    # userinfo evasion: https://u@evil.com must still extract evil.com
    df3 = spark.createDataFrame(
        [(7, "go https://user@evil.com/x now"), (8, "https://:8080/nohost")],
        "doc_id long, text string",
    )
    st3 = {r.doc_id: r for r in url_stats(df3).collect()}
    assert st3[7].domains == ["evil.com"]
    assert st3[8].domains == [] and st3[8].n_domains == 0  # no '' domains
    assert [r.doc_id for r in domain_blocklist_filter(df3, ["evil.com"]).collect()] == [8]
    import pytest as _pt

    with _pt.raises(ValueError, match="empty blocklist"):
        domain_blocklist_filter(df, [])


def test_vocab_report_and_oov(spark):
    from loongcollector_spark.operators.text import oov_rate, vocab_report

    df = spark.createDataFrame(
        [(1, "the cat the dog"), (2, "the cat zzz"), (3, None)],
        "doc_id long, text string",
    )
    r = vocab_report(df, top_n=2).collect()[0]
    # tokens: the×3 cat×2 dog zzz + '' (null doc) = 8 occurrences
    assert r.n_tokens == 8
    assert r.vocab_size == 5  # the, cat, dog, zzz, ''
    assert r.n_hapax == 3  # dog, zzz, ''
    assert r.head_share == (3 + 2) / 8  # top-2 = the(3), cat(2)

    o = {x.doc_id: x for x in oov_rate(df, ["the", "cat"]).collect()}
    assert (o[1].n_tokens, o[1].n_oov) == (4, 1)  # dog
    assert (o[2].n_tokens, o[2].n_oov) == (3, 1)  # zzz
    assert (o[3].n_tokens, o[3].n_oov, o[3].oov_frac) == (0, 0, 0.0)
    import pytest as _pt

    with _pt.raises(ValueError, match="empty vocab"):
        oov_rate(df, [])


def test_conversation_latency_semantics(spark):
    from loongcollector_spark.operators.aggregate import conversation_latency

    rows = [
        ("c", 0, "user", "2024-01-01 00:00:00"),
        ("c", 1, "assistant", "2024-01-01 00:00:02"),   # 2s response
        ("c", 2, "assistant", "2024-01-01 00:00:03"),   # continuation: NOT a response
        ("c", 3, "tool", "2024-01-01 00:00:04"),
        ("c", 4, "assistant", "2024-01-01 00:00:10"),   # 6s response
        ("d", 0, "assistant", "2024-01-01 00:00:00"),   # first turn: no response
    ]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.conv_id: r for r in conversation_latency(tx).collect()}
    assert set(out) == {"c"}  # d has no responses
    assert out["c"].n_responses == 2
    assert out["c"].max_delay_us == 6_000_000
    assert out["c"].p50_delay_us == 4_000_000.0  # interpolated median of {2s, 6s}
