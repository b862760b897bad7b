"""Checkpoint / lineage for idempotent resume.

Re-expresses the reference's exactly-once machinery on batch Spark:

* range checkpoints  — core/checkpoint/RangeCheckpoint.h:27-31
  (per-queue ``index`` + feedback key)
* KV checkpoint store — pluginmanager/checkpoint_manager.go:39-80
  (``SaveCheckpoint/GetCheckpoint`` keyed ``configName^key``)
* file read offsets   — core/checkpoint/CheckPointManager.h:40-53

Batch design: the input is split into deterministic **work units**
(hash buckets of ``conv_id`` — conversations never straddle units, so
a unit is complete or absent, never partial). A lineage table records
``(job_id, unit_id, status, rows_out)``; a rerun processes only units
not yet committed and appends their outputs. Unit outputs land under
``__lc_unit=<id>`` subdirectories, so a kill-and-rerun yields
byte-identical final state to a clean single run (the reference's
at-least-once + idempotent-commit contract; Iceberg snapshot commits
play this role on a real deployment, parquet directories play it here).

One layout: the unit directory is the only partition level. A routed
transform's ``sink`` is an ordinary column of the unit's part files,
as any other output column is. The meta record holds the output
columns and types, and the output is read back with it. A resume is
refused if the transform's columns over zero rows, or the types of the
columns it shares with the record, differ from it; columns a step takes
from the data (SPL key discovery) may differ between units, and the
record then holds their union.

Scale shape: ALL uncommitted units are processed by ONE job — a single
input scan writing ``partitionBy(__lc_unit)`` with dynamic partition
overwrite, per-unit row counts piggybacked on the write via the
``Observation`` API, then one atomic lineage commit per produced unit
directory. (An earlier design looped driver-side over units, filtering
the full input once per unit plus a count() re-read per unit — ~O(units)
read amplification at 100 TB; this shape is O(1) scans per resume
attempt regardless of how many units remain.)
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["CheckpointedRun", "unit_of", "run_with_checkpoint", "UNIT_COL"]

# partition/bookkeeping column; double-underscore + prefix so it cannot
# collide with a user output column (a previous revision used 'unit'
# and silently dropped any genuine output column of that name)
UNIT_COL = "__lc_unit"


def unit_of(conv_col, n_units: int):
    """Deterministic work-unit id: pmod(xxhash64(conv_id), n_units).
    Parallelism-independent — the same conversation always maps to the
    same unit."""
    return F.pmod(F.xxhash64(conv_col), F.lit(n_units)).cast("int")


def _columns(schema: T.StructType) -> dict[str, str]:
    """Name → type of each column; nullability is not compared."""
    return {f.name: f.dataType.simpleString() for f in schema}


def _write_json(path: str, record: dict) -> None:
    """Write *record* to *path* atomically (the commit point)."""
    with open(path + ".tmp", "w") as fh:
        json.dump(record, fh)
    os.replace(path + ".tmp", path)


class CheckpointedRun:
    """Lineage bookkeeping over a directory-backed table.

    Production swap-in: the lineage table becomes an Iceberg table and
    the per-unit output commit becomes an Iceberg transaction; the
    control flow is unchanged.
    """

    def __init__(self, spark: SparkSession, lineage_dir: str, job_id: str):
        self.spark = spark
        self.dir = lineage_dir
        self.job_id = job_id
        os.makedirs(lineage_dir, exist_ok=True)

    def _path(self, unit_id: int) -> str:
        return os.path.join(self.dir, f"{self.job_id}_{unit_id}.json")

    def _meta_path(self) -> str:
        return os.path.join(self.dir, f"{self.job_id}__meta.json")

    def ensure_meta(
        self, n_units: int, conv_col: str, written: T.StructType, static
    ) -> T.StructType:
        """Record the unit topology and the output schema on first run,
        and return the schema to read the output back with.

        A resume is refused if its topology differs (re-bucketing would
        duplicate or drop rows against committed units) or the meta has
        no output record (an earlier layout). *written* is the schema
        this run writes and ``static()`` the one the transform has over
        zero rows; they differ where a step takes its columns from the
        data (SPL ``parse-json``/``parse-kv`` without ``known_keys``),
        so units may hold different key sets. A resume is refused if a
        column of ``static()``, or one *written* shares with the record,
        has another type there (or is missing); other columns grow the
        record to the union, as one run's discovery over all units."""
        p = self._meta_path()
        if not os.path.exists(p):
            _write_json(p, {"job_id": self.job_id, "n_units": n_units,
                            "conv_col": conv_col, "layout": UNIT_COL,
                            "output": written.jsonValue()})
            return written
        with open(p) as fh:
            meta = json.load(fh)
        if meta["n_units"] != n_units or meta["conv_col"] != conv_col:
            raise ValueError(
                f"checkpoint topology mismatch for job {self.job_id!r}: "
                f"lineage was written with n_units={meta['n_units']} "
                f"conv_col={meta['conv_col']!r}, resume requested "
                f"n_units={n_units} conv_col={conv_col!r}"
            )
        # a meta without the output record holds no columns: refused
        held = T.StructType.fromJson(meta.get("output", {"fields": []}))
        have, now = _columns(held), _columns(written)
        if have == now:
            return held
        fixed = _columns(static())
        wrote = {**fixed, **now}
        clash = {c: t for c, t in wrote.items() if (c in fixed or c in have)
                 and have.get(c) != t}
        if clash:
            raise ValueError(
                f"checkpoint layout mismatch for job {self.job_id!r}: the "
                f"committed units hold {have or 'no output record'}, the "
                f"transform now writes {clash}"
            )
        grown = T.StructType([*held, *(f for f in written if f.name not in have)])
        if len(grown) > len(held):
            _write_json(p, {**meta, "output": grown.jsonValue()})
        return grown

    def _records(self):
        """All of THIS job's lineage records (matched on the stored
        job_id field, not the filename prefix: job 'run' must not see
        'run_2's units), in stable filename order."""
        for f in sorted(os.listdir(self.dir)):
            if f.endswith(".json") and not f.endswith("__meta.json"):
                with open(os.path.join(self.dir, f)) as fh:
                    rec = json.load(fh)
                if rec.get("job_id") == self.job_id:
                    yield rec

    def committed_units(self) -> set[int]:
        return {
            r["unit_id"] for r in self._records() if r.get("status") == "committed"
        }

    def commit(self, unit_id: int, rows_out: int) -> None:
        _write_json(self._path(unit_id), {"job_id": self.job_id, "unit_id": unit_id,
                                          "status": "committed", "rows_out": rows_out})

    def total_rows_committed(self) -> int:
        """Sum of committed per-unit output rows — lets callers report
        rows_out without re-reading the output table."""
        return sum(
            r.get("rows_out", 0)
            for r in self._records()
            if r.get("status") == "committed"
        )


def run_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    *,
    out_dir: str,
    lineage_dir: str,
    job_id: str,
    conv_col: str = "conv_id",
    n_units: int = 8,
    fail_after_units: int | None = None,
) -> DataFrame:
    """Process all work units not yet committed in ONE input scan:
    filter to the uncommitted unit set, apply *transform*, write
    ``partitionBy(__lc_unit)`` with dynamic partition overwrite (only
    the attempted unit directories are replaced — committed ones are
    untouched, partial leftovers from a crash are overwritten), then
    atomically record lineage per produced unit with row counts taken
    from the write job itself (``Observation`` — no output re-read).
    Rerun-safe: committed units are skipped (no duplicates).

    *transform* must be unit-local — it may aggregate within a
    conversation but not across conversations (the same property that
    makes per-unit checkpointing restartable at all) — and its output
    must retain *conv_col* so rows can be attributed to their unit.

    ``fail_after_units`` injects a crash for tests (simulating the
    reference's kill-and-resume e2e scenarios): only the first k
    uncommitted units are attempted, committed, then the crash raises.
    """
    ck = CheckpointedRun(spark, lineage_dir, job_id)
    done = ck.committed_units()
    todo = [u for u in range(n_units) if u not in done]
    attempt = todo if fail_after_units is None else todo[: fail_after_units]
    if attempt and UNIT_COL in df.columns:
        raise ValueError(f"input already has a {UNIT_COL!r} column")
    # over zero rows the transform shows the columns that do not come
    # from the data; with nothing to attempt that is all a rerun sees
    def over_zero_rows() -> T.StructType:
        return transform(df.limit(0)).schema

    if attempt:
        out = transform(df.filter(unit_of(F.col(conv_col), n_units).isin(attempt)))
        written, static = out.schema, over_zero_rows
    else:
        written = over_zero_rows()
        static = lambda: written  # noqa: E731
    if conv_col not in written.names:
        raise ValueError(
            f"transform output lost {conv_col!r}; checkpointed "
            "transforms must retain the unit key column"
        )
    schema = ck.ensure_meta(n_units, conv_col, written, static)

    if attempt:
        # clear crash leftovers for attempted units up front: dynamic
        # overwrite only replaces partitions the new write produces, so
        # a unit whose rerun output is EMPTY would otherwise keep stale
        # partial files (Iceberg's transactional replace subsumes this
        # on a real deployment)
        import shutil

        for u in attempt:
            leftover = os.path.join(out_dir, f"{UNIT_COL}={u}")
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
        tagged = out.withColumn(UNIT_COL, unit_of(F.col(conv_col), n_units))
        obs = Observation()
        counted = tagged.observe(
            obs,
            *[
                F.coalesce(
                    F.sum((F.col(UNIT_COL) == u).cast("long")), F.lit(0)
                ).alias(f"u{u}")
                for u in attempt
            ],
        )
        (
            counted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(UNIT_COL)
            .parquet(out_dir)
        )
        counts = obs.get
        for u in attempt:
            ck.commit(u, counts[f"u{u}"])
        if fail_after_units is not None and len(attempt) >= fail_after_units:
            raise RuntimeError(f"injected failure after {len(attempt)} units")

    # read back with the recorded schema (every committed unit's
    # columns), then the unit partition column. Inferring it instead
    # would run a footer-reading job per call
    read_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in schema]
        + [T.StructField(UNIT_COL, T.IntegerType())]
    )
    try:
        result = spark.read.schema(read_schema).parquet(out_dir)
    except Exception:
        # with the schema given, an all-empty table reads back as an
        # empty frame; what is left to fail is an out_dir that was
        # never created, for which the committed lineage is still
        # correct — return an empty frame with the transform's schema.
        # But if unit directories exist on disk, the failure is real
        # corruption, not emptiness: re-raise.
        has_units = os.path.isdir(out_dir) and any(
            name.startswith(f"{UNIT_COL}=") for name in os.listdir(out_dir)
        )
        if has_units:
            raise
        return spark.createDataFrame([], schema)
    # the __lc_unit=<id> directory layout surfaces as a partition
    # column; drop it so checkpointed and direct runs share one schema
    return result.drop(UNIT_COL)
