"""SparkSession factory tuned for the pipeline.

Local-mode testing uses ``local[N]``; the same configs are what we'd
submit on a real cluster via ``spark-submit --py-files`` (AQE on,
Arrow on, UTC, shuffle partitions sized to cores). ``bench.py`` and
``perfbench`` build their sessions through this factory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# SQL confs the operators REQUIRE and that are settable on a live
# session (spark-submit entry points apply these to whatever session
# the cluster handed them): UTC pins every timestamp-rendering oracle
# invariant; LAST_WIN is needed by map-building parsers (apsara:
# trailing k:v pairs may repeat; the reference keeps duplicates, we
# keep the last).
RUNTIME_SQL_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the required runtime SQL confs to an existing session
    (idempotent; used by spark-submit jobs and the driver entry)."""
    for k, v in RUNTIME_SQL_CONFS.items():
        spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "loongcollector_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or '*'.
    ``shuffle_partitions`` defaults to the core count — on a real
    cluster this would be ~2-3x total executor cores; sizing it to
    parallelism avoids thousands of tiny shuffle files at local scale
    while AQE coalesces further at runtime.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in RUNTIME_SQL_CONFS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
