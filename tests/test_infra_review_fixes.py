"""Round-5 session-5 infra review fixes: NULL-safe topic rendering,
hive-layout compaction guard, backup crash recovery, empty-output
checkpoint resume, aggregate-name collisions, and the unrouted
run_and_write guard."""

import os

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.route import fanout_write
from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.plans.metrics import MetricsCollector


def test_format_string_col_null_field_renders_empty(spark, tmp_path):
    from loongcollector_spark.sources.sinks import write_dynamic_topics

    df = spark.createDataFrame(
        [("a", 1), (None, 2)], "service string, v int"
    )
    base = str(tmp_path / "topics")
    write_dynamic_topics(df, base, "logs-%{service}")
    dirs = sorted(
        d for d in os.listdir(base) if d.startswith("__topic=")
    )
    # NULL service renders 'logs-', never __HIVE_DEFAULT_PARTITION__
    assert dirs == ["__topic=logs-", "__topic=logs-a"]


def test_compact_refuses_hive_layout_without_partition_col(spark, tmp_path):
    from loongcollector_spark.sources.maintenance import compact_parquet

    base = str(tmp_path / "sink")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "sink string, v int"
    ).write.partitionBy("sink").parquet(base)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, base)
    # with the partition col it compacts and preserves the layout
    out = compact_parquet(spark, base, partition_col="sink")
    assert out["n_rows"] == 2
    assert sorted(
        d for d in os.listdir(base) if d.startswith("sink=")
    ) == ["sink=a", "sink=b"]


def test_compact_recovers_stale_backup(spark, tmp_path):
    from loongcollector_spark.sources.maintenance import compact_parquet

    base = str(tmp_path / "flat")
    spark.range(10).write.parquet(base)
    # simulate a crash that lost only the backup delete
    os.makedirs(base + "__old")
    with open(base + "__old/junk", "w") as f:
        f.write("stale")
    out = compact_parquet(spark, base)
    assert out["n_rows"] == 10
    assert not os.path.exists(base + "__old")
    assert spark.read.parquet(base).count() == 10


def test_checkpoint_resume_of_empty_output(spark, tmp_path):
    from loongcollector_spark.plans.checkpoint import run_with_checkpoint

    df = spark.createDataFrame(
        [("c1", 0), ("c2", 1)], "conv_id string, turn_idx int"
    )

    def drop_all(d):
        return d.filter(F.lit(False))

    kw = dict(
        out_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="empty",
        n_units=2,
    )
    first = run_with_checkpoint(spark, df, drop_all, **kw)
    assert first.count() == 0
    # resume of the fully-committed all-empty job must NOT raise
    again = run_with_checkpoint(spark, df, drop_all, **kw)
    assert again.count() == 0
    assert again.columns == df.columns


def test_duplicate_aggregate_names_raise(spark):
    spec = {
        "processors": [],
        "aggregates": [
            {"type": "group_count", "keys": ["a"]},
            {"type": "group_count", "keys": ["b"]},
        ],
    }
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError, match="duplicate aggregate name"):
        Pipeline(spec).aggregates(df)


def test_run_and_write_without_router_raises_clearly(spark, tmp_path):
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="router"):
        Pipeline({"processors": []}).run_and_write(
            df,
            lambda r: fanout_write(r, str(tmp_path / "o")),
            MetricsCollector("no-router"),
        )
