"""Pipeline 'aggregates' spec section + at-scale analytic oracle."""

import os

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.sources.transcripts import load_transcripts

BENCH_INPUT = "/root/repo/.bench_cache/transcripts_24000000.parquet"


def test_aggregates_section(spark, sf_dir):
    tx = load_transcripts(spark, sf_dir)
    spec = {
        "processors": [],
        "router": {
            "source_key": "role",
            "rules": [{"regex": "assistant", "sink": "s1"}],
            "default_sink": "s2",
        },
        "aggregates": [
            {"name": "sink_counts", "type": "group_count", "keys": ["sink"]},
            {"name": "conv", "type": "per_conversation_stats"},
        ],
    }
    pipe = Pipeline(spec)
    routed = pipe.run(tx)
    aggs = pipe.aggregates(routed)
    counts = {r.sink: r["cnt"] for r in aggs["sink_counts"].collect()}
    assert counts["s1"] == tx.filter(F.col("role") == "assistant").count()
    assert sum(counts.values()) == tx.count()
    conv = aggs["conv"]
    assert conv.count() == tx.select("conv_id").distinct().count()
    with pytest.raises(KeyError):
        Pipeline({"aggregates": [{"type": "nope"}]}).aggregates(routed)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(BENCH_INPUT, "_SUCCESS")),
    reason="24M bench input not generated (run jobs/submit_scaling.py once)",
)
def test_at_scale_analytic_oracle(spark):
    """Full pipeline counts on the 24M-turn generated table must match
    the generator's closed-form distribution — a correctness check at
    the bench scale, not just the test scale.

    Generator rules (sources/transcripts.py:generate_transcripts):
    role = alien iff id%97==53 else by id%4; a row is nginx iff id%3==0.
    """
    from loongcollector_spark.operators import parse, route as rt
    from loongcollector_spark.queries import (
        DEFAULT_SINK,
        NGINX_KEYS,
        NGINX_REGEX,
        ROUTER_RULES,
    )

    N = 24_000_000
    df = spark.read.parquet(BENCH_INPUT)
    parsed = parse.parse_regex(df, "text", NGINX_REGEX, NGINX_KEYS)
    routed = rt.route(
        parsed, rt.RouterConfig("role", ROUTER_RULES, DEFAULT_SINK)
    )
    got = {
        r.sink: (r["cnt"], r.n_nginx)
        for r in routed.groupBy("sink")
        .agg(F.count("*").alias("cnt"), F.count("status").alias("n_nginx"))
        .collect()
    }

    def expected(residues):
        """#ids < N with id%97 != 53 and id%4 in residues."""
        total = sum(1 for r in range(0, 4 * 97, 1) if r % 97 != 53 and r % 4 in residues)
        base = (N // (4 * 97)) * total
        tail = sum(
            1
            for i in range((N // (4 * 97)) * 4 * 97, N)
            if i % 97 != 53 and i % 4 in residues
        )
        return base + tail

    # ids < N with id % 97 == 53: ceil((N - 53) / 97)
    n_alien = (N - 53 + 96) // 97
    assert got["sink_default"][0] == n_alien
    assert got["sink_assistant"][0] == expected({1})
    assert got["sink_tool"][0] == expected({3})
    assert got["sink_human"][0] == expected({0, 2})
    assert sum(v[0] for v in got.values()) == N
    # nginx rows = id%3==0 subset of each sink; spot-check the total
    assert sum(v[1] for v in got.values()) == (N + 2) // 3