"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→enrich→route→aggregate
pipeline on sf0.001; ``queries()`` / ``oracle_sql()`` expose each
implemented operator from SURVEY.md §2 with its DuckDB oracle (see
the loongcollector_spark/queries package).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from loongcollector_spark.cache import release_persisted  # noqa: E402
from loongcollector_spark.queries import ORACLES, QUERIES  # noqa: E402
from loongcollector_spark.session import apply_runtime_confs  # noqa: E402


def _pinned(fn: Callable[[SparkSession, str], DataFrame]):
    """Pin the SQL confs the oracles assume (UTC session timezone,
    LAST_WIN map dedup) on whatever session the driver provides."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        apply_runtime_confs(spark)
        # free the PREVIOUS query's tracked persist handles (cache.py):
        # the driver has collected that result by the time it invokes
        # the next query, so its caches are dead weight from here on
        release_persisted()
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_runtime_confs(spark)
    return QUERIES["enrich_pipeline_fanout"](spark, "/root/testdata/sf0.001")


def _last_checked() -> dict[str, int]:
    """Query name -> the latest round whose ``CORRECTNESS_r<N>.json``
    (beside this file) has a row for it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, -1), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, oldest
    checked first: the correctness check takes a window from the front, so names
    never checked lead, then names by the last round that checked
    them; ties (and a tree with no records) keep registration order."""
    last = _last_checked()
    order = sorted(QUERIES, key=lambda name: last.get(name, -1))
    return {name: _pinned(QUERIES[name]) for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query."""
    return dict(ORACLES)
