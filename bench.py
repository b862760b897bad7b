#!/usr/bin/env python
"""Per-query timer over the query registry.

Times every ``QUERIES`` entry exactly as registered — the one
definition the DuckDB oracle gate also checks — at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data) on
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may run
on). Each result is fully materialised with
:func:`~loongcollector_spark.sources.sinks.write_blackhole` (Spark's
``noop`` write): ``.count()`` lets Catalyst prune projected columns
and under-measures by 1.1-3.0× at sf0.1.

Every query reports a cold time (Spark cache cleared after a warm-up,
so a full recompute) and a warm time (repeated at once with the cache
intact), so deltas separate code changes from cache-protocol
artifacts. The full detail goes to ``bench_queries.json``; stdout
gets one compact JSON line, capped at 1800 characters.

Other measurements have their own harness: the pipeline benchmark of
record is ``perfbench/run.py`` (BENCHMARK.json), and N-vs-4N executor
scaling is ``jobs/submit_scaling.py``.

Run::

    SPARK_GRAFT_SF_DIR=<scale-factor dir> python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_queries.json"
)

from loongcollector_spark.cache import release_persisted  # noqa: E402
from loongcollector_spark.queries import QUERIES  # noqa: E402
from loongcollector_spark.sources.sinks import write_blackhole  # noqa: E402


def _drop_caches(spark) -> None:
    release_persisted()  # tracked persist handles (cache.py)
    spark.catalog.clearCache()


def time_query(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """Cold and warm seconds for the registry query *name*.

    Each run builds a fresh DataFrame (re-running one Dataset lets
    Spark skip its computed shuffle stages). The cache is cleared
    between the warm-up and the cold run, so a ``persist()`` from the
    warm-up cannot serve it.
    """
    query = QUERIES[name]
    write_blackhole(query(spark, sf_dir))  # warm-up: codegen, file listing
    _drop_caches(spark)
    t0 = time.monotonic()
    write_blackhole(query(spark, sf_dir))
    cold = time.monotonic() - t0
    t0 = time.monotonic()
    write_blackhole(query(spark, sf_dir))
    warm = time.monotonic() - t0
    _drop_caches(spark)
    return round(cold, 3), round(warm, 3)


def time_queries(spark, sf_dir: str) -> dict[str, tuple[float, float]]:
    """:func:`time_query` over every registered query, in registry order."""
    times = {}
    for name in QUERIES:
        times[name] = time_query(spark, name, sf_dir)
        cold, warm = times[name]
        print(f"# {name}: cold {cold:.3f}s warm {warm:.3f}s", file=sys.stderr)
    return times


def main() -> None:
    from loongcollector_spark.session import get_spark

    t_all0 = time.monotonic()
    spark = get_spark("bench", cores=CPUS)
    times = time_queries(spark, SF_DIR)
    spark.stop()

    cold = {name: c for name, (c, _) in times.items()}
    warm = {name: w for name, (_, w) in times.items()}
    result = {
        "metric": "registry queries total wall time (cold, noop write)",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "queries": cold,
        "queries_warm": warm,
        "total_warm_sec": round(sum(warm.values()), 3),
        "sf": SF_DIR,
        "cores": CPUS,
        "total_bench_sec": round(time.monotonic() - t_all0, 1),
    }
    with open(DETAIL_PATH, "w") as fh:
        json.dump(result, fh, indent=1)

    # a driver capturing the tail of stdout sees only ~2000 characters:
    # full detail stays in bench_queries.json, the line carries totals
    # and the ten slowest queries
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "n_queries": len(cold),
        "queries": dict(sorted(cold.items(), key=lambda kv: -kv[1])[:10]),
        "total_warm_sec": result["total_warm_sec"],
        "sf": SF_DIR,
        "cores": CPUS,
        "detail": os.path.basename(DETAIL_PATH),
        "total_bench_sec": result["total_bench_sec"],
    }
    line = json.dumps(compact)
    if len(line) > 1800:  # never outgrow the capture window
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
