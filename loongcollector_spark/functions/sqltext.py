"""The one name rule: a spec key is a flat, literal column name.

As in the reference's flat ``LogEvent`` (core/models/LogEvent.h:64-128),
``host.name`` names one top-level column, never field ``name`` of a
struct ``host``. Every key a ``Pipeline`` spec, the router, an aggregate
or a flusher names reaches Spark through :func:`quote` (``F.expr`` and
DDL text) or :func:`col` (a ``Column``). A bare ``F.col(k)``, ``df[k]``
or ``select(*names)`` reads dots as a struct path, which only an
operator whose docstring names one may do.

``F.expr`` text (one JVM call per expression: ``operators/parse.py``'s
build rule) carries only quoted names and integers: string values stay
``F.lit`` columns, so no SQL string escaping is ever needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["quote", "col"]


def quote(name: str) -> str:
    """*name* as one backticked identifier, read literally."""
    return "`" + name.replace("`", "``") + "`"


def col(name: str) -> Column:
    """The top-level column *name*: ``F.col(quote(name))``, built in 3
    py4j round-trips instead of ``F.col``'s 13."""
    return F.expr(quote(name))
