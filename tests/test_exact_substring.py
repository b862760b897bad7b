"""Exact-substring duplicate-span removal (operators/dedup.py:
duplicate_spans / remove_duplicate_spans)."""

import pytest

from loongcollector_spark.operators.dedup import (
    duplicate_spans,
    remove_duplicate_spans,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_doc_span_first_occurrence_survives(spark):
    shared = "one two three four five six"
    df = _docs(
        spark,
        [
            (1, f"alpha {shared} beta"),
            (2, f"gamma delta {shared} epsilon"),
        ],
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(df, k=6).collect()}
    assert out[1].text_dedup == f"alpha {shared} beta"
    assert out[1].n_removed == 0
    assert out[2].text_dedup == "gamma delta epsilon"
    assert out[2].n_removed == 6


def test_within_doc_repeat_merges_and_keeps_first(spark):
    df = _docs(spark, [(1, "a b c d a b c d")])
    spans = duplicate_spans(df, k=4).collect()
    assert [(r.span_start, r.span_end) for r in spans] == [(4, 8)]
    out = remove_duplicate_spans(df, k=4).collect()[0]
    assert out.text_dedup == "a b c d"
    assert (out.n_tokens, out.n_kept, out.n_removed) == (8, 4, 4)


def test_overlapping_windows_merge_to_one_span(spark):
    # 8-token shared run with k=4 -> 5 overlapping dup windows in doc 2
    run = "p q r s t u v w"
    df = _docs(spark, [(1, f"{run} end"), (2, f"start {run} tail")])
    spans = duplicate_spans(df, k=4).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s.doc_id, s.span_start, s.span_end) == (2, 1, 9)


def test_short_docs_untouched_and_full_removal(spark):
    df = _docs(
        spark,
        [
            (1, "tiny doc"),                       # < k tokens: no windows
            (2, "x y z w v"),
            (3, "x y z w v"),                      # exact dup of doc 2
        ],
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(df, k=5).collect()}
    assert out[1].text_dedup == "tiny doc" and out[1].n_removed == 0
    assert out[2].text_dedup == "x y z w v"
    assert out[3].text_dedup == "" and out[3].n_kept == 0 and out[3].n_removed == 5
    assert len(out) == 3  # fully-removed docs still come back


def test_k_guard(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="k must be"):
        duplicate_spans(df, k=1)
