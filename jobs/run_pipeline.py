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
of conv_id) and reruns resume idempotently; without it, the
``--flusher``'s write (the flusher table, ``sources.sinks.FLUSHERS``)
runs through ``Pipeline.run_and_write``, which counts rows in and
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


def _parser() -> argparse.ArgumentParser:
    from loongcollector_spark.sources.sinks import FLUSHERS

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
        choices=list(FLUSHERS),
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
    return ap


def main(argv: list[str] | None = None) -> None:
    ap = _parser()
    args = ap.parse_args(argv)
    if args.flusher != "blackhole" and not args.output:
        ap.error("--output is required unless --flusher blackhole")
    if args.flusher == "blackhole" and args.lineage:
        ap.error(
            "--lineage is incompatible with --flusher blackhole: the "
            "benchmark loop writes no output, so there is nothing to "
            "checkpoint or resume"
        )
    if args.flusher != "parquet" and args.lineage:
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
    from loongcollector_spark.sources.sinks import FLUSHERS, read_table
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
        flusher = FLUSHERS[args.flusher]
        write = lambda routed: flusher.write(routed, args.output, args.job_id)  # noqa: E731
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


if __name__ == "__main__":
    main()
