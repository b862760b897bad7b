"""Regression tests for the round-1 code-review findings."""

import hashlib

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.aggregate import pack_groups
from loongcollector_spark.operators.dedup import dedup_exact
from loongcollector_spark.operators.enrich import desensitize
from loongcollector_spark.operators.parse import parse_regex
from loongcollector_spark.operators.route import fanout_write
from loongcollector_spark.operators.text import language_id
from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.plans.metrics import MetricsCollector


def test_desensitize_md5_masks_every_match(spark):
    df = spark.createDataFrame(
        [("pw=secret1 other pw=secret2",), ("no secrets",)], ["text"]
    )
    out = {r.text for r in desensitize(df, "text", r"pw=\w+", method="md5").collect()}
    h1 = hashlib.md5(b"pw=secret1").hexdigest()
    h2 = hashlib.md5(b"pw=secret2").hexdigest()
    assert f"{h1} other {h2}" in out
    assert "no secrets" in out
    assert not any("secret1" in t or "secret2" in t for t in out)


def test_keep_source_false_drops_or_nulls_source(spark):
    df = spark.createDataFrame([("a=1",), ("junk",)], ["text"])
    # keep on error (default): parsed row loses raw, failed row keeps it
    out = parse_regex(df, "text", r"a=(\d+)", ["v"], keep_source=False)
    rows = {r.v: r.text for r in out.collect()}
    assert rows["1"] is None
    assert rows[None] == "junk"
    # hard drop
    out2 = parse_regex(
        df, "text", r"a=(\d+)", ["v"],
        keep_source=False, keep_source_if_parse_error=False,
    )
    assert "text" not in out2.columns


def test_pack_groups_count_cap_honored_with_byte_cap(spark):
    # 5 big rows then 40 tiny rows: byte cap fires early, count cap
    # must still rotate the tiny tail (review found a 35-row pack)
    rows = [("g", i, "x" * 99) for i in range(5)] + [
        ("g", 5 + i, "y") for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["g", "i", "payload"])
    out = pack_groups(
        df, ["g"], "i", max_log_count=10, max_bytes=100, bytes_col="payload"
    )
    sizes = [
        r.n for r in out.groupBy("__pack_id__").agg(F.count("*").alias("n")).collect()
    ]
    assert sum(sizes) == 45
    assert max(sizes) <= 10
    # byte cap still rotates the big rows: 99+99 > 100 -> first four
    # are singletons (the fifth may absorb 1-byte rows up to the cap)
    firsts = (
        out.groupBy("__pack_id__").agg(F.min("i").alias("f"), F.count("*").alias("n"))
        .orderBy("f").collect()
    )
    assert [p.n for p in firsts[:4]] == [1, 1, 1, 1]


def test_language_id_tie_breaks_lexicographically_first(spark):
    # 'the' (en) and 'le' (fr) -> tie 1:1 -> 'en' wins (first)
    df = spark.createDataFrame([(1, "the le")], ["doc_id", "text"])
    assert language_id(df).first().lang_pred == "en"


def test_dedup_exact_shuffles_digest_not_text(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup_exact(docs)
    assert out.count() == docs.select("text").distinct().count()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the exchange key is the md5 digest, not the text column
    assert "md5" in plan


def test_run_and_write_metrics_single_execution(spark, tmp_path):
    """Metrics must come from observe() on the one write action —
    assert no extra jobs by checking the counts are still exact."""
    df = spark.createDataFrame([(f"c{i}", i, "user") for i in range(20)],
                               ["conv_id", "turn_idx", "role"])
    spec = {"processors": [], "router": {
        "source_key": "role",
        "rules": [{"regex": "user", "sink": "s1"}],
        "default_sink": "s2"}}
    m = MetricsCollector("obs-test")
    Pipeline(spec).run_and_write(
        df, lambda r: fanout_write(r, str(tmp_path / "out")), m,
        metrics_path=str(tmp_path / "met"),
    )
    rec = m.records[0]
    assert rec.rows_in == 20 and rec.rows_out == 20
