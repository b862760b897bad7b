"""The one batching loop behind every wire serializer (the reference's
``Batcher``, core/collection_pipeline/batch/Batcher.h:131-170).

A serializer is a staging ``select``, in which Spark renders every
value Python reads (the helpers below: text is ``coalesce(cast(c AS
string), '')``, a time a long with NULL as 0, a number a double with
NULL as 0.0); an ``item(*values)`` that packs one staged row; and an
``encode(key, items)`` that turns one run of items into one payload
row. :func:`batch_payloads` owns grouping and rotation.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..functions.sqltext import col

__all__ = ["batch_payloads", "text", "long0", "double0", "epoch_seconds"]


def text(name: str) -> Column:
    """``cast(c AS string)``, NULL → ''."""
    return F.coalesce(col(name).cast("string"), F.lit(""))


def long0(name: str) -> Column:
    """``cast(c AS long)``, NULL → 0."""
    return F.coalesce(col(name).cast("long"), F.lit(0).cast("long"))


def double0(name: str) -> Column:
    """``cast(c AS double)``, NULL → 0.0."""
    return F.coalesce(col(name).cast("double"), F.lit(0.0))


def epoch_seconds(df: DataFrame, name: str) -> Column:
    """Epoch seconds of *name*, NULL → 0: a number is taken as seconds
    already; anything else (timestamp, date, timestamp string) goes
    through ``unix_timestamp``."""
    if isinstance(df.schema[name].dataType, NumericType):
        return long0(name)
    return F.coalesce(
        F.unix_timestamp(col(name).cast("timestamp")).cast("long"),
        F.lit(0).cast("long"),
    )


def batch_payloads(
    staged: DataFrame,
    item: Callable[..., Any],
    encode: Callable[[str, list], tuple],
    schema: str,
    *,
    max_items: int,
    key: str | None = None,
) -> DataFrame:
    """Staged rows → payload rows in *schema*, one ``mapInPandas`` pass.

    Per Arrow batch (so no shuffle): read the staged columns with
    ``zip``; group rows by the *key* column ('' without one), in
    first-seen order; pack each row with ``item(*values)`` (the key
    left out); cut each group into runs of at most *max_items*; and
    yield ``encode(key, items)``, a tuple in *schema*'s column order,
    per run."""
    key_at = staged.columns.index(key) if key else None
    # positional names: staged expressions may repeat or carry dots
    staged = staged.toDF(*[f"c{i}" for i in range(len(staged.columns))])

    def runs(batches):
        import pandas as pd

        for pdf in batches:
            cols = [s for _, s in pdf.items()]
            keys = cols.pop(key_at) if key_at is not None else [""] * len(pdf)
            groups: dict[str, list] = {}
            for k, *values in zip(keys, *cols):
                groups.setdefault(k, []).append(item(*values))
            out = [
                encode(k, items[lo : lo + max_items])
                for k, items in groups.items()
                for lo in range(0, len(items), max_items)
            ]
            if out:
                # integer column labels: Spark assigns them by position
                yield pd.DataFrame(out)

    return staged.mapInPandas(runs, schema)
