"""Router semantics (operators/route.py)."""

from loongcollector_spark.operators.route import RouterConfig, route
from loongcollector_spark.queries import DEFAULT_SINK, ROUTER_RULES


def test_rules_match_the_whole_value_up_to_the_end_of_text(spark):
    """A rule matches the whole value (aggregator_router.go:99): a final
    ``\\n`` or ``\\r\\n`` is part of the value, so the role falls through
    to the default sink, as under Go's ``$``."""
    roles = ["assistant", "assistant\n", "tool\r\n"]
    df = spark.createDataFrame([(r,) for r in roles], ["role"])
    out = route(df, RouterConfig("role", ROUTER_RULES, DEFAULT_SINK))
    assert {r.role: r.sink for r in out.collect()} == {
        "assistant": "sink_assistant",
        "assistant\n": DEFAULT_SINK,
        "tool\r\n": DEFAULT_SINK,
    }
