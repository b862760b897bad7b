"""Per-stage self-metrics (the reference's plugin counters).

Mirrors the in/out event counters every reference component keeps
(core/collection_pipeline/CollectionPipeline.h:108-117,
core/collection_pipeline/route/Router.cpp:38-46, runner counters
core/runner/ProcessorRunner.cpp:94-103): each pipeline stage records
rows-in/rows-out; each job's records replace that job's rows in a
metrics table.

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

from dataclasses import astuple, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["StageMetrics", "MetricsCollector", "observe_rows", "read_metrics"]


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
    "stage string, rows_in long, rows_out long, wall_sec double, job_id string"
)


def read_metrics(spark: SparkSession, path: str) -> DataFrame:
    """The metrics table, with ``job_id`` a string even where the
    ``job_id=`` directories hold only digits (``"007"`` stays)."""
    return spark.read.schema(METRICS_SCHEMA).parquet(path)


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

    def write(self, spark: SparkSession, path: str) -> None:
        """Write this job's records to the metrics table, replacing any
        rows its job id already has there (a ``job_id=`` partition,
        dynamic overwrite, as ``streaming.stream._write_batches``
        replaces a replayed batch id): writing after every run, or
        rerunning the job, never counts a run twice (SURVEY.md §7.2
        hard part (d))."""
        rows = [(*astuple(r), self.job_id) for r in self.records]
        (
            spark.createDataFrame(rows, METRICS_SCHEMA)
            .write.partitionBy("job_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
