"""functions/hashing.py: every operator that takes ``hash_mode`` rejects
an unknown kernel while its plan is built, before any job runs."""

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import chunking, dedup, dsir, sketch, text
from loongcollector_spark.streaming import stream

# name → build(inputs, hash_mode); inputs has docs, tx, rate (a
# streaming DataFrame), en (a target predicate) and tmp (a directory)
_OPERATORS = {
    "hll_distinct": lambda i, m: sketch.hll_distinct(i.docs, "doc_id", hash_mode=m),
    "uniform_sample": lambda i, m: sketch.uniform_sample(i.docs, 2, hash_mode=m),
    "cms_build": lambda i, m: sketch.cms_build(i.docs, "lang", hash_mode=m),
    "cms_estimate": lambda i, m: sketch.cms_estimate(
        i.docs, i.docs, "lang", hash_mode=m
    ),
    "stratified_topn_sample": lambda i, m: sketch.stratified_topn_sample(
        i.docs, "lang", 2, hash_mode=m
    ),
    "split_assign": lambda i, m: sketch.split_assign(i.docs, {"a": 1.0}, hash_mode=m),
    "score_sample": lambda i, m: sketch.score_sample(i.docs, "score", hash_mode=m),
    "minhash_dedup_pairs": lambda i, m: dedup.minhash_dedup_pairs(i.docs, hash_mode=m),
    "simhash": lambda i, m: dedup.simhash(i.docs, hash_mode=m),
    "dedup_components": lambda i, m: dedup.dedup_components(i.docs, hash_mode=m),
    "prefix_groups": lambda i, m: dedup.prefix_groups(i.tx, hash_mode=m),
    "winnowing_fingerprints": lambda i, m: dedup.winnowing_fingerprints(
        i.docs, hash_mode=m
    ),
    "temperature_mixture": lambda i, m: text.temperature_mixture(i.docs, hash_mode=m),
    "stratified_sample": lambda i, m: text.stratified_sample(
        i.docs, "lang", {"en": 0.5}, hash_mode=m
    ),
    "dsir_weights": lambda i, m: dsir.dsir_weights(i.docs, i.en, hash_mode=m),
    "dsir_sample": lambda i, m: dsir.dsir_sample(i.docs, i.en, 1, hash_mode=m),
    "fim_split": lambda i, m: chunking.fim_split(i.docs, hash_mode=m),
    "stream_sketch_rollup": lambda i, m: stream.stream_sketch_rollup(
        i.rate, "value", str(i.tmp / "sketch"), str(i.tmp / "ckpt"), hash_mode=m
    ),
}


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f", "en", 0.5), (2, "g h i", "fr", 0.9)],
        "doc_id long, text string, lang string, score double",
    )
    tx = spark.createDataFrame(
        [("c1", 0, "a 1")], "conv_id string, turn_idx int, text string"
    )
    return docs, tx, spark.readStream.format("rate").load()


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_unknown_hash_mode_rejected_before_any_job(spark, frames, tmp_path, name):
    docs, tx, rate = frames
    inputs = SimpleNamespace(
        docs=docs, tx=tx, rate=rate, en=F.col("lang") == "en", tmp=tmp_path
    )
    sc = spark.sparkContext
    group = f"unknown-hash-mode-{name}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="unknown hash_mode 'MD5'"):
            _OPERATORS[name](inputs, "MD5")
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
