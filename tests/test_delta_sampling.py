"""Corpus snapshot diff (operators/delta.py) and exact-n stratified
sampling (sketch.stratified_topn_sample)."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.delta import corpus_delta, delta_summary
from loongcollector_spark.operators.sketch import stratified_topn_sample


def test_corpus_delta_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B!"), (5, "e"), (4, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r.status for r in corpus_delta(old, new).collect()}
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",  # NULL == NULL via the empty-string fingerprint
        5: "added",
    }
    summ = {r.status: r.n_docs for r in delta_summary(old, new).collect()}
    assert summ == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}


def test_corpus_delta_null_to_text_is_changed(spark):
    old = spark.createDataFrame([(1, None)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "now set")], "doc_id long, text string")
    assert corpus_delta(old, new).collect()[0].status == "changed"


def test_topn_exact_counts_and_invariance(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_topn_sample(docs, "lang", 7)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(7, sizes[lang])
    # parallelism-invariant: same rows at any partitioning
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in stratified_topn_sample(docs.repartition(16), "lang", 7).collect()
    )
    assert a == b
    # independent draw under a different salt
    c = sorted(
        r.doc_id for r in stratified_topn_sample(docs, "lang", 7, salt="x").collect()
    )
    assert a != c


def test_topn_plan_has_group_limit_pushdown(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        stratified_topn_sample(docs, "lang", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_topn_guard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="n must be"):
        stratified_topn_sample(docs, "lang", 0)
