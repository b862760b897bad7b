"""Run every registry query against its DuckDB oracle — mimics the
driver's CORRECTNESS gate (row count + sorted-column value multiset) —
and pin the registry's own contract."""

import pytest
from oracle_check import assert_matches_oracle

from loongcollector_spark.queries import ORACLES, QUERIES, REGISTRY
from loongcollector_spark.queries.registry import query


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    assert_matches_oracle(spark, sf_dir, name)


def test_second_registration_of_a_name_raises():
    def q_parse_nginx(spark, sf_dir):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="'parse_nginx' registered twice"):
        query("events", oracle="SELECT 1")(q_parse_nginx)
    assert REGISTRY["parse_nginx"].fn is not q_parse_nginx


def test_table_outside_the_fixture_raises():
    with pytest.raises(ValueError, match="lineitem"):
        query("events", "lineitem", oracle="SELECT 1")


def test_oracles_follow_the_query_order():
    assert list(ORACLES) == list(QUERIES) == list(REGISTRY)
