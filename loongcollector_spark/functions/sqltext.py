"""Column names inside Spark SQL expression text.

``F.expr`` hands a whole expression to the JVM in one call; composing
the same expression from ``Column`` methods costs a py4j round-trip per
method, and PySpark's call-site capture multiplies that by about ten
(``operators/parse.py`` states the build rule). Text built for
``F.expr`` carries only quoted names and integers: string values
(patterns, literals) stay ``F.lit`` columns, so no SQL string escaping
is ever needed.
"""

from __future__ import annotations

__all__ = ["quote", "col_ref"]


def quote(name: str) -> str:
    """One identifier, read literally: a top-level column or a struct
    field named *name*."""
    return "`" + name.replace("`", "``") + "`"


def col_ref(name: str) -> str:
    """*name* as ``F.col`` reads a name without backticks: dots separate
    nested fields (or a qualifier)."""
    return ".".join(quote(p) for p in name.split("."))
