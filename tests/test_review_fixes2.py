"""Regression tests for the second/third review batches (parse search
semantics, anchoring edge cases, delimiter safety, condition/dictmap
preserve-on-miss, grok alias collisions)."""

import re

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.functions.grok import GrokError, compile_grok
from loongcollector_spark.operators.enrich import dict_map
from loongcollector_spark.operators.filter import fields_with_condition
from loongcollector_spark.operators.parse import parse_regex


@pytest.fixture(scope="module")
def mid(spark):
    return spark.createDataFrame(
        [("pre X=1 post",), ("no match here",)], ["text"]
    )


def test_full_match_false_extracts_group_only(spark, mid):
    out = parse_regex(mid, "text", r"X=(\d)", ["v"], full_match=False)
    rows = {r.text: r.v for r in out.collect()}
    assert rows["pre X=1 post"] == "1"
    assert rows["no match here"] is None


def test_engines_agree_unanchored(spark):
    """Unanchored parse_regex (Java regex, JVM) extracts what Python's
    re.search does: first match wins, across newlines, NULL on miss."""
    pat = r"X=(\d)"
    texts = [
        "pre X=1 post", "no match here", "X=2 X=3", "a\nX=4\nb", "X=5", "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    out = parse_regex(df, "text", pat, ["v"], full_match=False)
    got = {r.text: r.v for r in out.collect()}
    want = {t: (m.group(1) if (m := re.search(pat, t)) else None) for t in texts}
    assert got == want


def test_escaped_dollar_pattern(spark):
    df = spark.createDataFrame([("price 5$",), ("price 5",)], ["text"])
    out = parse_regex(df, "text", r"price (\d)\$", ["v"])
    rows = {r.text: r.v for r in out.collect()}
    assert rows["price 5$"] == "5"
    assert rows["price 5"] is None


def test_delimiter_byte_in_value_fails_safely(spark):
    # captured value containing \x01 must yield a parse FAILURE, not
    # silently shifted fields
    df = spark.createDataFrame([("a=x\x01y b=2",), ("a=q b=3",)], ["text"])
    out = parse_regex(df, "text", r"a=(\S+) b=(\d)", ["a", "b"])
    rows = {r.text: (r.a, r.b) for r in out.collect()}
    assert rows["a=q b=3"] == ("q", "3")
    assert rows["a=x\x01y b=2"] == (None, None)


def test_fields_with_condition_preserves_existing(spark):
    df = spark.createDataFrame(
        [("a", "orig1"), ("b", "orig2")], ["k", "tag"]
    )
    out = fields_with_condition(
        df, [{"fields": [{"key": "k", "value": "a"}], "add_fields": {"tag": "hit"}}]
    )
    rows = {r.k: r.tag for r in out.collect()}
    assert rows == {"a": "hit", "b": "orig2"}


def test_dict_map_overwrite_miss_preserves(spark):
    df = spark.createDataFrame(
        [("x", "ORIG"), ("user", "ORIG")], ["role", "role_class"]
    )
    dim = spark.createDataFrame([("user", "human")], ["role", "role_class"])
    out = dict_map(df, dim, "role", "role_class", mode="overwrite")
    rows = {r.role: r.role_class for r in out.collect()}
    assert rows == {"user": "human", "x": "ORIG"}


def test_grok_alias_collision_raises(spark):
    with pytest.raises(GrokError, match="sanitize"):
        compile_grok("%{WORD:a.b} %{WORD:a_b}")
    # same alias used twice in distinct patterns (not expressions) OK
    pat, types = compile_grok("%{WORD:a.b}")
    assert "a_b" in types
