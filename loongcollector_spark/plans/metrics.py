"""Per-stage self-metrics (the reference's plugin counters).

Mirrors the in/out event counters every reference component keeps
(core/collection_pipeline/CollectionPipeline.h:108-117,
core/collection_pipeline/route/Router.cpp:38-46, runner counters
core/runner/ProcessorRunner.cpp:94-103): each pipeline stage records
rows-in/rows-out; the collected records append to a metrics table.

Spark design: the counts are never taken by extra ``count()`` jobs,
which would re-execute the pipeline. ``Pipeline.run_and_write`` wraps
its input and routed output in ``Observation``s, so both counts are
computed during the one fan-out write job and land here through
``MetricsCollector.add``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = ["StageMetrics", "MetricsCollector"]

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

    def add(self, stage: str, rows_in: int, rows_out: int, wall_sec: float) -> None:
        self.records.append(StageMetrics(stage, rows_in, rows_out, wall_sec))

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (self.job_id, r.stage, r.rows_in, r.rows_out, r.wall_sec)
            for r in self.records
        ]
        return spark.createDataFrame(rows, METRICS_SCHEMA)

    def write(self, spark: SparkSession, path: str) -> None:
        """Append to the metrics table (production: Iceberg append in
        the same commit cadence as data, so reruns can't double-count
        — SURVEY.md §7.2 hard part (d))."""
        self.to_df(spark).write.mode("append").parquet(path)
