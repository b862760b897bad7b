#!/usr/bin/env python
"""spark-submit entry point for the transcript pipeline.

Cluster usage (the production shape the north rule names)::

    zip -r lc.zip loongcollector_spark
    spark-submit --py-files lc.zip jobs/run_pipeline.py \
        --input  <transcript table path / iceberg name> \
        --output <sink base path> \
        --spec   pipeline_spec.json \
        [--metrics <metrics table path>] \
        [--lineage <lineage dir> --job-id <id> --units 64]  # resumable
        [--shards 256]                                       # shard-hash

Local smoke (this sandbox)::

    spark-submit --master 'local[8]' --py-files lc.zip \
        jobs/run_pipeline.py --input ... --output ...

With ``--lineage`` the run is checkpointed per work unit (hash buckets
of conv_id) and reruns resume idempotently; without it, every flusher
writes through ``Pipeline.run_and_write``, which counts rows in and
rows out during the write. Each run appends ``rows_in``/``rows_out``
to the metrics table; a lineage rerun with every unit already
committed reads no input and records ``rows_in = 0``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/...py` runs (no --py-files zip): make the repo
# root importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", help="sink base path (not needed for --flusher blackhole)")
    ap.add_argument("--spec", required=True, help="pipeline spec JSON file")
    ap.add_argument("--dims", help="JSON file {dim_name: parquet_path}")
    ap.add_argument("--metrics")
    ap.add_argument("--lineage")
    ap.add_argument("--job-id", default="job")
    ap.add_argument("--units", type=int, default=16)
    ap.add_argument("--shards", type=int, default=0)
    ap.add_argument(
        "--flusher",
        choices=["parquet", "blackhole", "sls", "loki", "es", "clickhouse"],
        default="parquet",
        help="blackhole = full execution, no output (flusher_blackhole; "
        "the benchmark shape the reference's own harness uses). "
        "sls/loki/es/clickhouse serialize the routed rows into that "
        "flusher's wire payloads (per-sink topic/label/index/doc) and "
        "write the payload table under --output — the bytes a network "
        "flusher would POST, minus the transport",
    )
    ap.add_argument(
        "--warm", type=int, default=0,
        help="not with --lineage: unmeasured warm-up executions before "
        "timing (JIT/codegen steady state)",
    )
    ap.add_argument(
        "--rounds", type=int, default=1,
        help="not with --lineage: measured executions; wall_sec is the "
        "best (least co-tenant interference on this host)",
    )
    args = ap.parse_args(argv)
    if args.flusher != "blackhole" and not args.output:
        ap.error("--output is required unless --flusher blackhole")
    if args.flusher == "blackhole" and args.lineage:
        ap.error(
            "--lineage is incompatible with --flusher blackhole: the "
            "benchmark loop writes no output, so there is nothing to "
            "checkpoint or resume"
        )
    if args.flusher in ("sls", "loki", "es", "clickhouse") and args.lineage:
        ap.error(
            f"--lineage is not supported with --flusher {args.flusher}: "
            "checkpointed reruns cover the parquet sink path; wire "
            "payload jobs rerun whole (overwrite)"
        )

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lc-pipeline").getOrCreate()

    from loongcollector_spark.config import load_dims, load_spec
    from loongcollector_spark.operators.aggregate import shard_repartition
    from loongcollector_spark.pipeline import Pipeline
    from loongcollector_spark.plans.checkpoint import (
        CheckpointedRun,
        run_with_checkpoint,
    )
    from loongcollector_spark.plans.metrics import MetricsCollector, observe_rows
    from loongcollector_spark.sources.sinks import read_table
    from loongcollector_spark.session import apply_runtime_confs

    # the cluster hands us its session; pin the SQL confs the
    # operators require (UTC, LAST_WIN map dedup, AQE, Arrow)
    apply_runtime_confs(spark)
    pipe = Pipeline(load_spec(args.spec), load_dims(spark, args.dims))
    df = read_table(spark, args.input)
    if args.shards:
        df = shard_repartition(df, ["conv_id"], args.shards)

    metrics = MetricsCollector(args.job_id)
    if args.lineage:
        t0 = time.monotonic()
        ck = CheckpointedRun(spark, args.lineage, args.job_id)
        attempted = len(ck.committed_units()) < args.units
        df, obs_in = observe_rows(df)
        run_with_checkpoint(
            spark,
            df,
            pipe.run,
            out_dir=args.output,
            lineage_dir=args.lineage,
            job_id=args.job_id,
            n_units=args.units,
        )
        # with every unit committed no action read the input, and
        # obs_in.get would wait for one forever; rows_out comes from
        # the lineage commits (counted during the write job)
        rows_in = obs_in.get["n"] if attempted else 0
        wall = round(time.monotonic() - t0, 3)
        metrics.add("pipeline", rows_in, ck.total_rows_committed(), wall)
    else:
        write = _writer(spark, args)
        for _ in range(args.warm):
            pipe.run_and_write(df, write, MetricsCollector(args.job_id))
        for _ in range(max(args.rounds, 1)):
            pipe.run_and_write(df, write, metrics)
    if args.metrics:
        metrics.write(spark, args.metrics)
    # wall_sec: the best measured round (steady-state throughput)
    print(json.dumps({"job_id": args.job_id,
                      "rows_out": metrics.records[-1].rows_out,
                      "wall_sec": min(r.wall_sec for r in metrics.records)}))


def _writer(spark, args):
    """The ``--flusher``'s write: routed frame → one action."""
    from loongcollector_spark.operators.route import fanout_write, require_sink
    from loongcollector_spark.sources.sinks import write_blackhole

    if args.flusher == "blackhole":
        return write_blackhole
    if args.flusher == "parquet":
        # overwrite: a rerun of the same job replaces its output
        # (append-without-lineage would silently duplicate data);
        # incremental appends go through --lineage
        return lambda routed: fanout_write(routed, args.output, mode="overwrite")

    def write_payloads(routed):
        require_sink(routed)
        par = spark.sparkContext.defaultParallelism
        payloads = _payloads(args, routed.repartition(par, "sink"))
        payloads.write.mode("overwrite").parquet(args.output)

    return write_payloads


def _payloads(args, routed):
    """Serialize *routed* into the wire flusher's exact sink format
    (the encode half of the round-trip queries). The sink column rides
    as SLS topic / Loki label / ES index / ClickHouse doc field, so a
    transport layer can fan payloads out per sink."""
    from pyspark.sql import functions as F

    ts_key = "ts" if "ts" in routed.columns else None
    if args.flusher == "sls":
        from loongcollector_spark.sources.sls_pb import serialize_sls_loggroups

        return serialize_sls_loggroups(routed, time_key=ts_key, topic_key="sink")
    if args.flusher == "loki":
        from loongcollector_spark.sources.loki_push import serialize_loki_push

        doc_cols = [c for c in routed.columns if c not in ("sink", "ts")]
        ns = (
            (F.unix_micros(F.col(ts_key).cast("timestamp")) * 1000)
            if ts_key
            else F.lit(0)
        )
        # NB: pandas itertuples renames leading-underscore columns
        # positionally, so the staging column names must be plain
        lined = routed.select(
            F.col("sink"),
            ns.cast("long").alias("lc_ns"),
            F.to_json(F.struct(*[F.col(c) for c in doc_cols])).alias("lc_line"),
        )
        return serialize_loki_push(
            lined,
            line_key="lc_line",
            time_ns_key="lc_ns",
            label_keys=["sink"],
            static_labels={"job": args.job_id},
        )
    if args.flusher == "es":
        from loongcollector_spark.sources.es_bulk import serialize_es_bulk

        return serialize_es_bulk(routed, index_format="lc-%{sink}")
    from loongcollector_spark.sources.clickhouse_rb import (
        serialize_clickhouse_rowbinary,
    )

    if ts_key:
        return serialize_clickhouse_rowbinary(routed, ts_col=ts_key)
    # no ts column: synthesize epoch-0 (the loki branch's lit(0)
    # convention) instead of sacrificing a real column to the
    # _timestamp slot
    return serialize_clickhouse_rowbinary(
        routed.withColumn("lc_zero_ts", F.lit(0).cast("timestamp")),
        ts_col="lc_zero_ts",
    )


if __name__ == "__main__":
    main()
