"""bench.py, the per-query timer over the query registry."""

import bench
from loongcollector_spark.queries import QUERIES


def test_time_query_materialises_through_noop_write(
    spark, sf_dir, tmp_path, monkeypatch
):
    real_write = bench.write_blackhole
    writes = []

    def spy(df):
        writes.append(df)
        real_write(df)

    monkeypatch.setattr(bench, "write_blackhole", spy)
    monkeypatch.chdir(tmp_path)
    cold, warm = bench.time_query(spark, "route_counts", sf_dir)
    assert cold > 0 and warm > 0
    assert len(writes) == 3  # warm-up, cold, warm
    assert list(tmp_path.iterdir()) == []  # a noop write leaves no output


def test_times_exactly_the_registry(monkeypatch):
    seen = []
    monkeypatch.setattr(
        bench, "time_query", lambda spark, name, sf_dir: seen.append(name) or (1.0, 1.0)
    )
    assert set(bench.time_queries(None, "unused")) == set(QUERIES)
    assert seen == list(QUERIES)
