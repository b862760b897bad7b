"""The query registry: each query is registered once, by the
``@query`` decorator on its ``def q_<name>``, with the DuckDB oracle
that checks it and the fixture tables both engines read — the factory
map of the reference's plugin registry (plugins/processor/regex/
regex.go:131-139, C++ PluginRegistry)."""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# the tables of the oracle fixture (``<sf_dir>/<table>.parquet``)
FIXTURE_TABLES = ("events", "documents", "embeddings")


class Query(NamedTuple):
    fn: QueryFn
    oracle: str  # DuckDB SQL over views named after ``tables``
    tables: tuple[str, ...]


# name -> Query, in registration order
REGISTRY: dict[str, Query] = {}


def query(*tables: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register ``q_<name>`` as query ``<name>`` with its *oracle* and
    the fixture *tables* it reads. Raises ``ValueError`` on a table
    outside :data:`FIXTURE_TABLES` or a name registered twice."""
    unknown = sorted(set(tables) - set(FIXTURE_TABLES))
    if unknown:
        raise ValueError(f"unknown fixture tables {unknown}")

    def register(fn: QueryFn) -> QueryFn:
        name = fn.__name__.removeprefix("q_")
        if name in REGISTRY:
            raise ValueError(f"query {name!r} registered twice")
        REGISTRY[name] = Query(fn, oracle, tables)
        return fn

    return register
