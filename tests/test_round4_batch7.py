"""Round-4 session-5 second batch: trajectory_outcome, turn_gaps,
source_overlap, fertility_report — hand-checked semantics beyond the
DuckDB oracle match, plus exchange-shape pins."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.dedup import source_overlap
from loongcollector_spark.operators.text import fertility_report
from loongcollector_spark.operators.trajectory import (
    trajectory_outcome,
    turn_gaps,
)

TX_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string"
)


# ------------------------------------------------------ trajectory_outcome


def test_trajectory_outcome_hand_checked(spark):
    rows = [
        # ends on a clean assistant turn -> resolved (1 earlier error)
        ("c1", 0, "user", "q", None),
        ("c1", 1, "tool", "code=503 boom", "search"),
        ("c1", 2, "assistant", "done", None),
        # ends on an erroring turn -> failed
        ("c2", 0, "user", "q", None),
        ("c2", 1, "tool", 'GET /x HTTP/1.1" 500 1', "code"),
        # ends on a user turn -> abandoned
        ("c3", 0, "user", "hello?", None),
    ]
    out = {
        r["conv_id"]: r
        for r in trajectory_outcome(spark.createDataFrame(rows, TX_SCHEMA))
        .collect()
    }
    c1 = out["c1"]
    assert c1["outcome"] == "resolved" and c1["n_errors"] == 1
    assert c1["last_idx"] == 2 and c1["last_role"] == "assistant"
    assert c1["last_tool"] == "<none>"
    c2 = out["c2"]
    assert c2["outcome"] == "failed" and c2["last_tool"] == "code"
    c3 = out["c3"]
    assert c3["outcome"] == "abandoned" and c3["n_errors"] == 0


def test_trajectory_outcome_failed_beats_resolved(spark):
    # the FINAL turn is an assistant turn that itself errors -> failed
    rows = [("c1", 0, "assistant", "level=ERROR crashed", None)]
    r = trajectory_outcome(spark.createDataFrame(rows, TX_SCHEMA)).collect()[0]
    assert r["outcome"] == "failed"


# --------------------------------------------------------------- turn_gaps


def test_turn_gaps_hand_checked(spark):
    rows = [
        ("c1", 0, "u", "a", None, "2024-01-01 00:00:00"),
        ("c1", 1, "a", "b", None, "2024-01-01 00:00:01"),       # 1 s
        ("c1", 2, "u", "c", None, "2024-01-01 00:10:01"),       # 600 s
        ("c2", 0, "u", "solo", None, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, TX_SCHEMA + ", ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["conv_id"]: r for r in turn_gaps(df, break_us=300_000_000).collect()}
    c1 = out["c1"]
    assert c1["n_turns"] == 3 and c1["n_gaps"] == 2
    assert c1["total_gap_us"] == 601_000_000
    assert c1["max_gap_us"] == 600_000_000
    assert c1["n_breaks"] == 1  # only the 600 s gap exceeds 300 s
    c2 = out["c2"]
    assert c2["n_gaps"] == 0 and c2["total_gap_us"] is None
    assert c2["max_gap_us"] is None and c2["n_breaks"] == 0


# ----------------------------------------------------------- source_overlap


def test_source_overlap_hand_checked(spark):
    rows = [
        # srcA: grams {a b c, b c d}; srcB: grams {a b c}; srcC: {x y z}
        (1, "a b c d", "A"),
        (2, "a b c", "B"),
        (3, "x y z", "C"),
        # a second A doc repeating a gram must NOT double-count it
        (4, "a b c", "A"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["src_a"], r["src_b"]): r for r in source_overlap(docs, k=3).collect()}
    ab = out[("A", "B")]
    assert ab["grams_a"] == 2 and ab["grams_b"] == 1
    assert ab["grams_common"] == 1
    assert ab["jaccard"] == pytest.approx(1 / 2)
    assert ab["containment"] == pytest.approx(1.0)
    # C shares nothing -> pairs with zero common grams are absent
    assert ("A", "C") not in out and ("B", "C") not in out


def test_source_overlap_short_docs_and_validation(spark):
    docs = spark.createDataFrame(
        [(1, "a b", "A"), (2, "a b", "B")], "doc_id long, text string, source string"
    )
    # docs shorter than k contribute no grams at all
    assert source_overlap(docs, k=3).count() == 0
    with pytest.raises(ValueError):
        source_overlap(docs, k=0)


# --------------------------------------------------------- fertility_report


def test_fertility_report_hand_checked(spark):
    rows = [
        (1, "ab cd", "en"),     # 5 chars, 2 ws, 2 re tokens
        (2, "a,b", "en"),       # 3 chars, 1 ws, 3 re tokens (a , b)
        (3, "", "de"),          # 0 everything
        (4, None, "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in fertility_report(docs).collect()}
    en = out["en"]
    assert en["n_docs"] == 2 and en["n_chars"] == 8
    assert en["n_ws_tokens"] == 3 and en["n_re_tokens"] == 5
    assert en["chars_per_ws_token"] == pytest.approx(8 / 3)
    assert en["re_per_ws"] == pytest.approx(5 / 3)
    de = out["de"]
    assert de["n_chars"] == 0 and de["n_ws_tokens"] == 0
    assert de["chars_per_ws_token"] is None and de["re_per_ws"] is None


# ------------------------------------------------------------- plan pins


def test_round4_batch7_plan_pins(spark):
    """trajectory_outcome / fertility_report are ONE map-side-
    combinable groupBy each; turn_gaps one conv exchange shared by the
    lag window and the rollup; source_overlap spends four hash
    exchanges, all on gram/source-reduced tables (gram-source dedup,
    per-gram set, per-source totals, pair counts) with broadcast total
    joins. No Python nodes, no single-partition moves."""
    tx = spark.createDataFrame(
        [("c", 0, "assistant", "t", "x")], TX_SCHEMA
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    docs = spark.createDataFrame(
        [(1, "a b c", "A", "en")], "doc_id long, text string, source string, lang string"
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def shape(df):
            p = df._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
            return (
                p.count("Exchange hashpartitioning"),
                p.count("Exchange SinglePartition"),
                p.count("BroadcastExchange"),
            )

        assert shape(trajectory_outcome(tx)) == (1, 0, 0)
        assert shape(turn_gaps(tx)) == (1, 0, 0)
        assert shape(fertility_report(docs)) == (1, 0, 0)
        # the zipwith gram build (end-to-end winner per SCALE.md
        # round-5) keeps the no-Python guarantee
        assert shape(source_overlap(docs)) == (4, 0, 2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# ---------------------------------------------------------------- sft_gate


def test_sft_gate_hand_checked(spark):
    from loongcollector_spark.operators.trajectory import sft_gate

    rows = [
        # kept: resolved, no loop, under budget
        ("c1", 0, "user", "q", None),
        ("c1", 1, "assistant", "fine", None),
        # dropped on outcome (ends on user)
        ("c2", 0, "user", "q", None),
        # dropped on loop (3 identical masked states) — outcome is
        # resolved, so the loop gate is the FIRST failing one
        ("c3", 0, "assistant", "retry 1", "t"),
        ("c3", 1, "assistant", "retry 2", "t"),
        ("c3", 2, "assistant", "retry 3", "t"),
        # dropped on budget: a 3-token turn then budget-2 overflow
        ("c4", 0, "user", "a b c", None),
        ("c4", 1, "assistant", "ok", None),
    ]
    df = spark.createDataFrame(rows, TX_SCHEMA)
    out = {
        r["conv_id"]: r
        for r in sft_gate(df, budget_tokens=2).collect()
    }
    assert out["c1"]["keep"] is True and out["c1"]["drop_reason"] is None
    assert out["c2"]["drop_reason"] == "outcome"
    assert out["c3"]["drop_reason"] == "loop" and out["c3"]["max_run"] == 3
    assert out["c4"]["drop_reason"] == "budget" and out["c4"]["n_over"] == 1


def test_sft_gate_plan_is_turn_data_single_pass_per_signal(spark):
    """The composite joins three conversation-level tables; no
    single-partition exchange appears and no Python nodes — each
    signal's one documented turn-data exchange plus the join plumbing
    on conversation-count tables."""
    from loongcollector_spark.operators.trajectory import sft_gate

    tx = spark.createDataFrame([("c", 0, "assistant", "t", "x")], TX_SCHEMA)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = sft_gate(tx)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert p.count("Exchange SinglePartition") == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# ------------------------------------------------- parallelism invariance


def test_session5_ops_are_parallelism_invariant(spark, sf_dir):
    """The north-rule rerun-stability contract: identical results at 2
    and 16 input partitions for every session-5 operator whose output
    is a pure function of the input SET (no rank/limit ordering
    games). Catches accidental dependence on partition iteration
    order — lag/lead windows, struct-max ties, collect_list order."""
    from loongcollector_spark.operators.dedup import prefix_groups
    from loongcollector_spark.operators.trajectory import (
        agent_loops,
        context_growth,
        sft_gate,
        tool_errors,
        trajectory_outcome,
        turn_gaps,
    )
    from loongcollector_spark.sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    for op in (
        agent_loops,
        context_growth,
        tool_errors,
        trajectory_outcome,
        turn_gaps,
        sft_gate,
        prefix_groups,
    ):
        a = sorted(map(tuple, op(tx.repartition(2)).collect()))
        b = sorted(map(tuple, op(tx.repartition(16)).collect()))
        assert a == b, f"{op.__name__} diverges across parallelism"


def test_best_of_n_invariant_under_row_order(spark):
    from loongcollector_spark.operators.assemble import best_of_n

    rows = [(i % 7, i, float((i * 37) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "grp int, cand_id long, score double")
    a = sorted(map(tuple, best_of_n(df, "grp", "score", "cand_id").collect()))
    shuffled = df.orderBy(F.rand(seed=7)).repartition(13)
    b = sorted(
        map(tuple, best_of_n(shuffled, "grp", "score", "cand_id").collect())
    )
    assert a == b


# --------------------------------------------- conv_windows / rm_pairs


def test_conv_windows_hand_checked(spark):
    from loongcollector_spark.operators.assemble import conv_windows

    rows = [
        ("c1", 0, "user", "a", None),
        ("c1", 1, "assistant", "b", None),
        ("c1", 2, "user", "c", None),
        ("c1", 3, "assistant", "d", None),
        ("c1", 4, "user", "e", None),
    ]
    out = {
        r["window_idx"]: r
        for r in conv_windows(
            spark.createDataFrame(rows, TX_SCHEMA), k=3, stride=2
        ).collect()
    }
    # windows start at dense positions 0, 2, 4
    assert set(out) == {0, 1, 2}
    w0 = out[0]
    assert w0["start_idx"] == 0 and w0["n_turns"] == 3
    assert w0["window_text"] == "user: a\nassistant: b\nuser: c"
    assert w0["n_tokens"] == 6  # 3 role tags + 3 words
    w2 = out[2]
    assert w2["n_turns"] == 1 and w2["window_text"] == "user: e"


def test_conv_windows_gapped_idx_and_validation(spark):
    from loongcollector_spark.operators.assemble import conv_windows

    # gap-y turn_idx values window by DENSE position, not idx value
    rows = [
        ("c1", 10, "u", "a", None),
        ("c1", 50, "a", "b", None),
        ("c1", 99, "u", "c", None),
    ]
    out = conv_windows(
        spark.createDataFrame(rows, TX_SCHEMA), k=2, stride=2
    ).collect()
    assert {(r["window_idx"], r["start_idx"]) for r in out} == {(0, 10), (1, 99)}
    with pytest.raises(ValueError):
        conv_windows(spark.createDataFrame(rows, TX_SCHEMA), k=0)
    with pytest.raises(ValueError):
        conv_windows(spark.createDataFrame(rows, TX_SCHEMA), stride=0)


def test_rm_pairs_hand_checked(spark):
    from loongcollector_spark.operators.assemble import rm_pairs

    rows = [
        ("c1", 0, "assistant", "hi", None),       # opener: empty context
        ("c1", 1, "user", "q1", None),
        ("c1", 2, "assistant", "a1", None),
        ("c1", 3, "user", "q2", None),
        ("c1", 4, "tool", "t1", "search"),
        ("c1", 5, "assistant", "a2", None),
    ]
    out = {
        r["turn_idx"]: r
        for r in rm_pairs(spark.createDataFrame(rows, TX_SCHEMA), k=2).collect()
    }
    assert set(out) == {0, 2, 5}
    assert out[0]["n_context_turns"] == 0 and out[0]["context_text"] == ""
    assert out[2]["n_context_turns"] == 2
    assert out[2]["context_text"] == "assistant: hi\nuser: q1"
    assert out[2]["response_text"] == "a1"
    assert out[5]["context_text"] == "user: q2\ntool: t1"
    with pytest.raises(ValueError):
        rm_pairs(spark.createDataFrame(rows, TX_SCHEMA), k=0)


def test_conv_windows_rm_pairs_plan_pins(spark):
    from loongcollector_spark.operators.assemble import conv_windows, rm_pairs

    tx = spark.createDataFrame([("c", 0, "assistant", "t", "x")], TX_SCHEMA)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for fn in (conv_windows, rm_pairs):
            p = fn(tx)._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
            assert p.count("Exchange hashpartitioning") == 1
            assert p.count("Exchange SinglePartition") == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
