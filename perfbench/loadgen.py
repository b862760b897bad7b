"""Seeded load generator: writes each workload's input parquet.

The rows come from ``sources.transcripts.generate_transcripts``. That
generator is a pure function of the row id, so the seed picks a window
of ids: rows ``[offset, offset + n)`` with ``offset`` derived from the
seed. Every mix in the generator is periodic in the id (dialect mod 3,
role mod 4 and 97, hot conversation mod 10), and the conversation count
is pinned to ``n // 200``, so the dialect, role and hot-conversation
shares stay fixed while the rows themselves change with the seed.

The program under test only ever sees the parquet this module writes.
The benchmark writes it once per invocation, as the session's first
action and outside the set-up and timed regions, so every invocation's
set-up starts from the same state whether or not the seed ran before.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loongcollector_spark.sources.transcripts import generate_transcripts

MAX_OFFSET = 2**30  # keeps turn_idx, an int, clear of overflow


def seed_offset(seed: int) -> int:
    """A seed-determined id offset in ``[0, MAX_OFFSET)``."""
    h = hashlib.sha256(f"perfbench:{seed}".encode()).digest()
    return int.from_bytes(h[:8], "big") % MAX_OFFSET


class _ShiftedSession:
    """The session, except that ``range`` starts at *offset*: the
    generator then emits ids ``[offset, offset + n)`` directly, split
    evenly over the partitions it asks for."""

    def __init__(self, spark: SparkSession, offset: int):
        self._spark = spark
        self._offset = offset

    def range(self, start, end=None, step=1, numPartitions=None):
        if end is None:
            start, end = 0, start
        return self._spark.range(start + self._offset, end + self._offset, step, numPartitions)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _window(spark: SparkSession, n_turns: int, seed: int, parts: int) -> DataFrame:
    shifted = _ShiftedSession(spark, seed_offset(seed))
    return generate_transcripts(
        shifted, n_turns, n_convs=max(n_turns // 200, 1), partitions=parts
    )


def transcripts(spark: SparkSession, n_turns: int, seed: int, parts: int) -> DataFrame:
    """Mixed-dialect transcripts with the generator's hot conversations,
    in *parts* equal files."""
    return _window(spark, n_turns, seed, parts)


def json_transcripts(spark: SparkSession, n_turns: int, seed: int, parts: int) -> DataFrame:
    """JSON-dialect-only transcripts: the generator's ``turn_idx % 3 == 1``
    rows (its JSON branch), ``n_turns`` of them."""
    return _window(spark, 3 * n_turns, seed, parts).filter(F.col("turn_idx") % 3 == 1)


GENERATORS = {"mixed": transcripts, "json": json_transcripts}


def write_input(
    spark: SparkSession, root: str, kind: str, n_turns: int, seed: int, parts: int
) -> str:
    """Write the ``(kind, n_turns, seed)`` input under *root*; return its path."""
    path = os.path.join(root, f"{kind}-n{n_turns}-s{seed}.parquet")
    GENERATORS[kind](spark, n_turns, seed, parts).write.mode("overwrite").parquet(path)
    return path
