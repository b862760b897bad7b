"""Round-4 session-3 transcript-analytics additions: tool_transitions,
self_repetition, split_leakage, render_chat — hand-checked semantics
beyond the DuckDB oracle match."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.aggregate import (
    self_repetition,
    tool_transitions,
)
from loongcollector_spark.operators.assemble import render_chat
from loongcollector_spark.operators.dedup import split_leakage


@pytest.fixture(scope="module")
def tx(spark):
    rows = [
        ("c1", 0, "user", "hi", None),
        ("c1", 1, "assistant", "hello there", "search"),
        ("c1", 2, "user", "again", ""),
        ("c1", 3, "assistant", "Hello,  THERE!", "search"),
        ("c2", 0, "user", "x", "calc"),
        ("c2", 1, "assistant", "y", "calc"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string, tool string"
    )


# ------------------------------------------------------- tool_transitions


def test_tool_transitions_counts_and_probs(spark, tx):
    out = {
        (r["from_tool"], r["to_tool"]): (r["n_steps"], r["p"])
        for r in tool_transitions(tx).collect()
    }
    # c1: none->search, search->none, none->search; c2: calc->calc
    assert out[("<none>", "search")] == (2, 1.0)
    assert out[("search", "<none>")] == (1, 1.0)
    assert out[("calc", "calc")] == (1, 1.0)
    assert len(out) == 3


def test_tool_transitions_rows_sum_to_one(spark, tx):
    sums = (
        tool_transitions(tx)
        .groupBy("from_tool")
        .agg(F.sum("p").alias("s"))
        .collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-12 for r in sums)


def test_tool_transitions_no_cross_conversation_step(spark):
    # last turn of c1 and first of c2 must NOT form a step
    rows = [("c1", 0, "u", "t", "a"), ("c2", 0, "u", "t", "b")]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string, tool string"
    )
    assert tool_transitions(tx).count() == 0


# -------------------------------------------------------- self_repetition


def test_self_repetition_normalized_match(spark, tx):
    # "hello there" vs "Hello,  THERE!" normalize identically
    out = {r["conv_id"]: r for r in self_repetition(tx).collect()}
    assert (out["c1"]["n_turns"], out["c1"]["n_distinct"], out["c1"]["n_repeat"]) == (
        2, 1, 1,
    )
    assert out["c1"]["repeat_ratio"] == pytest.approx(0.5)
    assert out["c2"]["n_repeat"] == 0


def test_self_repetition_role_filter(spark, tx):
    # user turns differ -> zero repeats when targeting role='user'
    out = {r["conv_id"]: r for r in self_repetition(tx, role="user").collect()}
    assert out["c1"]["n_repeat"] == 0 and out["c1"]["n_turns"] == 2


# ---------------------------------------------------------- split_leakage


def test_split_leakage_hand_checked(spark):
    rows = [
        (1, "The cat sat", "train"),
        (2, "the CAT  sat!", "test"),   # normalizes == doc 1 -> leaked
        (3, "unique doc", "test"),
        (4, "val only", "val"),
        (5, "val only", "train"),       # doc 4 leaks
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {r["split"]: r for r in split_leakage(docs).collect()}
    assert (out["test"]["n_docs"], out["test"]["n_leaked"]) == (2, 1)
    assert out["test"]["leak_ratio"] == pytest.approx(0.5)
    assert (out["val"]["n_docs"], out["val"]["n_leaked"]) == (1, 1)
    assert set(out) == {"test", "val"}  # train itself never reported


def test_split_leakage_duplicates_within_one_split_not_leaked(spark):
    rows = [(1, "same", "test"), (2, "same", "test"), (3, "other", "train")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {r["split"]: r for r in split_leakage(docs).collect()}
    assert (out["test"]["n_docs"], out["test"]["n_leaked"]) == (2, 0)


# ------------------------------------------------------------ render_chat


def test_render_chat_full_and_capped(spark, tx):
    full = {r["conv_id"]: r for r in render_chat(tx).collect()}
    assert full["c2"]["chat_text"] == (
        "<|im_start|>user\nx<|im_end|>\n<|im_start|>assistant\ny<|im_end|>"
    )
    assert full["c1"]["n_turns"] == 4
    capped = {r["conv_id"]: r for r in render_chat(tx, max_turns=2).collect()}
    # last two turns of c1 only, still ascending order
    assert capped["c1"]["n_turns"] == 2
    assert capped["c1"]["chat_text"] == (
        "<|im_start|>user\nagain<|im_end|>\n"
        "<|im_start|>assistant\nHello,  THERE!<|im_end|>"
    )


def test_render_chat_null_handling_and_validation(spark):
    rows = [("c", 0, None, None, None)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, text string, tool string"
    )
    r = render_chat(tx).collect()[0]
    assert r["chat_text"] == "<|im_start|>unknown\n<|im_end|>"
    with pytest.raises(ValueError):
        render_chat(tx, max_turns=0)
