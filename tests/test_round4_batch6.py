"""Round-4 session-5 additions: trajectory analytics (agent_loops,
tool_errors, refusal_scan, context_growth), best_of_n rejection
sampling, zipf_fit, prefix_groups — hand-checked semantics beyond the
DuckDB oracle match, plus exchange-shape pins."""

import math

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.assemble import best_of_n
from loongcollector_spark.operators.dedup import prefix_groups
from loongcollector_spark.operators.text import zipf_fit
from loongcollector_spark.operators.trajectory import (
    agent_loops,
    context_growth,
    refusal_scan,
    tool_errors,
)

TX_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string"
)


# ------------------------------------------------------------ agent_loops


@pytest.fixture(scope="module")
def loop_tx(spark):
    rows = [
        # c1: retry #1/#2/#3 mask to the same template -> run of 3
        ("c1", 0, "assistant", "retry attempt 1", "search"),
        ("c1", 1, "assistant", "retry attempt 2", "search"),
        ("c1", 2, "assistant", "retry attempt 3", "search"),
        ("c1", 3, "assistant", "done", "code"),
        # c2: alternating states -> max_run 1
        ("c2", 0, "assistant", "a", "search"),
        ("c2", 1, "assistant", "b", "search"),
        ("c2", 2, "assistant", "a", "search"),
        # c3: same masked text but DIFFERENT tool -> state differs
        ("c3", 0, "assistant", "x 1", "search"),
        ("c3", 1, "assistant", "x 2", "code"),
    ]
    return spark.createDataFrame(rows, TX_SCHEMA)


def test_agent_loops_hand_checked(spark, loop_tx):
    out = {r["conv_id"]: r for r in agent_loops(loop_tx).collect()}
    c1 = out["c1"]
    assert c1["n_steps"] == 4 and c1["n_runs"] == 2
    assert c1["max_run"] == 3 and c1["loop_tool"] == "search"
    assert c1["looped"] is True
    c2 = out["c2"]
    assert c2["max_run"] == 1 and c2["n_runs"] == 3 and c2["looped"] is False
    c3 = out["c3"]
    assert c3["max_run"] == 1  # tool is part of the state


def test_agent_loops_tie_breaks_to_earliest_run(spark):
    rows = [
        ("c1", 0, "a", "p 1", "t1"),
        ("c1", 1, "a", "p 2", "t1"),
        ("c1", 2, "a", "q", "t2"),
        ("c1", 3, "a", "r 1", "t3"),
        ("c1", 4, "a", "r 2", "t3"),
    ]
    r = agent_loops(spark.createDataFrame(rows, TX_SCHEMA)).collect()[0]
    # two runs of length 2 (t1 first, t3 later) -> earliest wins
    assert r["max_run"] == 2 and r["loop_tool"] == "t1"


def test_agent_loops_null_text_and_tool(spark):
    rows = [
        ("c1", 0, "a", None, None),
        ("c1", 1, "a", None, ""),
        ("c1", 2, "a", "x", None),
    ]
    r = agent_loops(spark.createDataFrame(rows, TX_SCHEMA)).collect()[0]
    # NULL text -> empty template; NULL/blank tool -> <none>: turns 0,1
    # share a state, turn 2 differs
    assert r["max_run"] == 2 and r["n_runs"] == 2
    assert r["loop_tool"] == "<none>"


# ------------------------------------------------------------ tool_errors


def test_tool_errors_hand_checked(spark):
    rows = [
        ("c1", 0, "t", 'GET /x HTTP/1.1" 500 12', "search"),
        ("c1", 1, "t", 'GET /x HTTP/1.1" 200 12', "search"),
        ("c2", 0, "t", "level=ERROR code=503 done", "search"),
        ("c2", 1, "t", '{"level":"ERROR","msg":"m"}', "code"),
        ("c2", 2, "t", "level=INFO code=200", "code"),
        ("c3", 0, "t", "clean", None),
    ]
    out = {r["tool"]: r for r in tool_errors(spark.createDataFrame(rows, TX_SCHEMA))
           .collect()}
    s = out["search"]
    assert s["n_calls"] == 3 and s["n_errors"] == 2
    assert s["error_rate"] == pytest.approx(2 / 3)
    assert s["n_convs"] == 2 and s["n_err_convs"] == 2
    c = out["code"]
    assert c["n_calls"] == 2 and c["n_errors"] == 1 and c["n_err_convs"] == 1
    n = out["<none>"]
    assert n["n_calls"] == 1 and n["n_errors"] == 0 and n["n_err_convs"] == 0


def test_tool_errors_status_edge_is_5xx_only(spark):
    rows = [
        ("c1", 0, "t", 'GET /x HTTP/1.1" 499 9', "a"),
        ("c1", 1, "t", 'GET /x HTTP/1.1" 500 9', "a"),
        ("c1", 2, "t", "code=499 ok", "a"),
        ("c1", 3, "t", "code=599 bad", "a"),
        # any protocol version; status may end the line
        ("c1", 4, "t", 'GET /x HTTP/2" 503 7', "a"),
        ("c1", 5, "t", 'GET /x HTTP/1.0" 502', "a"),
    ]
    r = tool_errors(spark.createDataFrame(rows, TX_SCHEMA)).collect()[0]
    assert r["n_errors"] == 4


# ----------------------------------------------------------- refusal_scan


def test_refusal_scan_hand_checked(spark):
    rows = [
        ("c1", 0, "assistant", "Sure, here you go", None),
        ("c1", 1, "assistant", "I  CANNOT   help with that", None),
        ("c1", 2, "assistant", "as an AI, I decline", None),
        ("c1", 3, "user", "I cannot help either", None),  # not assistant
        ("c2", 0, "assistant", "fine", None),
    ]
    out = {r["conv_id"]: r for r in refusal_scan(spark.createDataFrame(rows, TX_SCHEMA))
           .collect()}
    c1 = out["c1"]
    # whitespace collapse catches "I  CANNOT   help"
    assert c1["n_turns"] == 3 and c1["n_refusals"] == 2
    assert c1["first_refusal_idx"] == 1
    assert c1["refusal_ratio"] == pytest.approx(2 / 3)
    c2 = out["c2"]
    assert c2["n_refusals"] == 0 and c2["first_refusal_idx"] is None


def test_refusal_scan_custom_patterns_and_validation(spark):
    rows = [("c1", 0, "assistant", "NOPE never", None)]
    df = spark.createDataFrame(rows, TX_SCHEMA)
    r = refusal_scan(df, patterns=["nope"]).collect()[0]
    assert r["n_refusals"] == 1
    with pytest.raises(ValueError):
        refusal_scan(df, patterns=[])


# --------------------------------------------------------- context_growth


def test_context_growth_hand_checked(spark):
    rows = [
        ("c1", 0, "u", "a b c", None),        # 3 tokens, ctx 0
        ("c1", 1, "a", "d e", None),          # 2 tokens, ctx 3
        ("c1", 2, "u", "f g h i", None),      # 4 tokens, ctx 5
        ("c1", 3, "a", "", None),             # 0 tokens, ctx 9
        ("c2", 0, "u", None, None),           # NULL -> 0 tokens
    ]
    out = {
        r["conv_id"]: r
        for r in context_growth(
            spark.createDataFrame(rows, TX_SCHEMA), budget_tokens=4
        ).collect()
    }
    c1 = out["c1"]
    assert c1["n_turns"] == 4 and c1["total_tokens"] == 9
    assert c1["peak_context"] == 9
    assert c1["first_over_idx"] == 2 and c1["n_over"] == 2  # ctx 5 and 9
    c2 = out["c2"]
    assert c2["total_tokens"] == 0 and c2["first_over_idx"] is None


# -------------------------------------------------------------- best_of_n


def test_best_of_n_hand_checked(spark):
    rows = [
        (1, 10, 100.0),
        (1, 11, 90.0),
        (1, 12, 95.0),
        (2, 20, 50.0),   # singleton -> dropped at min_candidates=2
        (3, 30, 7.0),    # tie: winner is smaller id, margin 0
        (3, 31, 7.0),
    ]
    df = spark.createDataFrame(rows, "grp int, cand_id long, score double")
    out = {r["grp"]: r for r in best_of_n(df, "grp", "score", "cand_id").collect()}
    assert set(out) == {1, 3}
    g1 = out[1]
    assert g1["winner_id"] == 10 and g1["best_score"] == 100.0
    assert g1["second_score"] == 95.0 and g1["margin"] == 5.0
    g3 = out[3]
    assert g3["winner_id"] == 30 and g3["margin"] == 0.0


def test_best_of_n_min_candidates_one_keeps_singletons(spark):
    df = spark.createDataFrame([(2, 20, 50.0)], "grp int, cand_id long, score double")
    r = best_of_n(df, "grp", "score", "cand_id", min_candidates=1).collect()[0]
    assert r["winner_id"] == 20 and r["second_score"] is None
    assert r["margin"] is None  # no runner-up existed: NULL, not 0
    with pytest.raises(ValueError):
        best_of_n(df, "grp", "score", "cand_id", min_candidates=0)


# --------------------------------------------------------------- zipf_fit


def test_zipf_fit_matches_numpy_ols(spark):
    import numpy as np

    # counts: a=4, b=2, c=1 -> ranks 1,2,3
    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "A, a! b c")], "doc_id long, text string"
    )
    r = zipf_fit(docs).collect()[0]
    assert r["n_types"] == 3 and r["n_tokens"] == 7
    x = np.log(np.array([1.0, 2.0, 3.0]))
    y = np.log(np.array([4.0, 2.0, 1.0]))
    slope = ((x * y).mean() - x.mean() * y.mean()) / ((x * x).mean() - x.mean() ** 2)
    intercept = y.mean() - slope * x.mean()
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert r["slope"] == pytest.approx(slope, abs=1e-6)
    assert r["intercept"] == pytest.approx(intercept, abs=1e-6)
    assert r["r2"] == pytest.approx(r2, abs=1e-6)


def test_zipf_fit_degenerate_corpora_yield_null_not_error(spark):
    # every count equal -> var(y)=0: slope 0, r2 undefined (NULL)
    docs = spark.createDataFrame(
        [(0, ""), (1, None), (2, "x y")], "doc_id long, text string"
    )
    r = zipf_fit(docs).collect()[0]
    assert r["n_types"] == 2 and r["n_tokens"] == 2
    assert r["slope"] == 0.0 and r["r2"] is None
    # single type -> var(x)=0: the whole fit is undefined
    one = spark.createDataFrame([(0, "x x")], "doc_id long, text string")
    r1 = zipf_fit(one).collect()[0]
    assert r1["slope"] is None and r1["intercept"] is None and r1["r2"] is None


# ---------------------------------------------------------- prefix_groups


def test_prefix_groups_hand_checked(spark):
    rows = [
        # c1/c2 share the first-2-turn TEMPLATE (digits differ)
        ("c1", 0, "u", "start job 17", None),
        ("c1", 1, "a", "ok 17", None),
        ("c1", 2, "a", "unique tail one", None),
        ("c2", 0, "u", "start job 99", None),
        ("c2", 1, "a", "ok 99", None),
        ("c2", 2, "a", "unique tail two", None),
        # c3 differs at turn 1
        ("c3", 0, "u", "start job 5", None),
        ("c3", 1, "a", "FAIL", None),
    ]
    tx = spark.createDataFrame(rows, TX_SCHEMA)
    out = prefix_groups(tx, k=2).collect()
    assert len(out) == 1
    assert out[0]["n_convs"] == 2 and out[0]["rep_conv"] == "c1"
    # exact-text mode distinguishes the digits -> no family
    assert prefix_groups(tx, k=2, mask_templates=False).count() == 0
    # min_convs=1 reports every family including singletons
    assert prefix_groups(tx, k=2, min_convs=1).count() == 2


def test_prefix_groups_short_conversations_group_by_full_prefix(spark):
    rows = [
        ("c1", 0, "u", "hello 1", None),
        ("c2", 0, "u", "hello 2", None),
    ]
    out = prefix_groups(spark.createDataFrame(rows, TX_SCHEMA), k=3).collect()
    assert len(out) == 1 and out[0]["n_convs"] == 2


def test_prefix_groups_hash_modes_agree_and_validate(spark):
    rows = [
        ("c1", 0, "u", "a 1", None),
        ("c2", 0, "u", "a 2", None),
    ]
    tx = spark.createDataFrame(rows, TX_SCHEMA)
    # fingerprints differ between kernels but group structure must not
    a = sorted((r["n_convs"], r["rep_conv"]) for r in prefix_groups(tx, hash_mode="md5").collect())
    b = sorted((r["n_convs"], r["rep_conv"]) for r in prefix_groups(tx, hash_mode="xxhash64").collect())
    assert a == b
    with pytest.raises(ValueError):
        prefix_groups(tx, k=0)
    with pytest.raises(ValueError):
        prefix_groups(tx, min_convs=0)
    with pytest.raises(ValueError):
        prefix_groups(tx, hash_mode="sha1")


# ------------------------------------------------------------- plan pins


def test_round4_batch6_plan_pins(spark):
    """agent_loops / context_growth spend ONE hash exchange (the conv
    window; both downstream groupBys key on conv, which the window's
    HashPartitioning already clusters); refusal_scan one groupBy
    exchange; prefix_groups two (conv, then signature); best_of_n two
    (rank window + count branch) with the rank-limit rewritten to
    WindowGroupLimit so map tasks keep local top-2; tool_errors plans
    the standard multi-distinct Expand. zipf_fit's single-partition
    moves act on the REDUCED vocab table (documented). No Python
    nodes anywhere."""
    tx = spark.createDataFrame(
        [("c", 0, "assistant", "t", "x")], TX_SCHEMA
    )
    cand = spark.createDataFrame(
        [(1, 1, 1.0)], "grp int, cand_id long, score double"
    )
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def plan(df):
            p = df._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
            return p

        def shape(df):
            p = plan(df)
            return (
                p.count("Exchange hashpartitioning"),
                p.count("Exchange SinglePartition"),
            )

        assert shape(agent_loops(tx)) == (1, 0)
        assert shape(context_growth(tx)) == (1, 0)
        assert shape(refusal_scan(tx)) == (1, 0)
        assert shape(prefix_groups(tx, min_convs=1)) == (2, 0)
        bon = plan(best_of_n(cand, "grp", "score", "cand_id"))
        assert "WindowGroupLimit" in bon
        assert bon.count("Exchange hashpartitioning") == 2
        assert bon.count("Exchange SinglePartition") == 0
        zp = plan(zipf_fit(docs))
        assert zp.count("Exchange hashpartitioning") == 1  # token counts
        assert zp.count("Exchange SinglePartition") <= 2   # vocab-sized
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
