"""Per-stage self-metrics (the reference's plugin counters).

Mirrors the in/out event counters every reference component keeps
(core/collection_pipeline/CollectionPipeline.h:108-117,
core/collection_pipeline/route/Router.cpp:38-46, runner counters
core/runner/ProcessorRunner.cpp:94-103): each pipeline stage records
rows-in/rows-out; the collected records append to a metrics table.

Spark design: the counts are never taken by extra ``count()`` jobs,
which would re-execute the pipeline: :func:`observe_rows` counts
during the action already being run. ``Pipeline.run_and_write`` is
the one metered write path (rows in and out of its one write, one
``MetricsCollector.add``). A checkpointed run (``run_pipeline.py
--lineage``) observes its input the same way, takes ``rows_out`` from
the lineage commits, and records ``rows_in = 0`` when every unit was
already committed, since no action then runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["StageMetrics", "MetricsCollector", "observe_rows"]


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """*df* with a row counter attached, and the ``Observation`` that
    holds it: ``obs.get["n"]`` is the number of rows the first action
    over the returned frame passed through.

    ``obs.get`` waits for that action, so read it only after one has
    run: on a plan no action executes it blocks forever.
    """
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


METRICS_SCHEMA = (
    "job_id string, stage string, rows_in long, rows_out long, wall_sec double"
)


@dataclass
class StageMetrics:
    stage: str
    rows_in: int
    rows_out: int
    wall_sec: float


@dataclass
class MetricsCollector:
    job_id: str
    records: list[StageMetrics] = field(default_factory=list)
    # records[:_written] are already in the metrics table
    _written: int = field(default=0, repr=False)

    def add(self, stage: str, rows_in: int, rows_out: int, wall_sec: float) -> None:
        self.records.append(StageMetrics(stage, rows_in, rows_out, wall_sec))

    def write(self, spark: SparkSession, path: str) -> None:
        """Append the records added since the last ``write`` to the
        metrics table, so writing after every run never repeats a row
        (production: Iceberg append in the same commit cadence as data,
        so reruns can't double-count — SURVEY.md §7.2 hard part (d))."""
        rows = [
            (self.job_id, r.stage, r.rows_in, r.rows_out, r.wall_sec)
            for r in self.records[self._written :]
        ]
        if rows:
            df = spark.createDataFrame(rows, METRICS_SCHEMA)
            df.write.mode("append").parquet(path)
        self._written = len(self.records)
