#!/usr/bin/env python
"""spark-submit entry point for the STREAMING transcript pipeline.

Cluster usage (same spec dict as the batch job — the shared processor
interface of pkg/pipeline/processor.go:31-39)::

    zip -r lc.zip loongcollector_spark
    spark-submit --py-files lc.zip jobs/run_stream.py \
        --input  <transcript parquet/stream dir> \
        --output <sink base path> \
        --spec   pipeline_spec.json \
        --checkpoint <checkpoint dir> \
        [--dims <dims.json>] [--max-files-per-trigger 4] [--continuous]

The DEFAULT drains the current backlog then stops (availableNow —
batch-like backfill with streaming exactly-once bookkeeping).
``--continuous`` keeps the query running until interrupted, picking up
files as they appear (the input_file tailing analog).
``--available-now`` is accepted as an explicit alias of the default,
so both historical invocation styles keep their meaning.
"""

from __future__ import annotations

import argparse
import os
import sys

# direct `python jobs/...py` runs (no --py-files zip): make the repo
# root importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--dims")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--available-now", action="store_true")
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument(
        "--loop-alert",
        help="also run the stateful agent-loop monitor "
        "(streaming.stream_loop_alert) over the same input stream and "
        "write its emissions as parquet under this path, one "
        "__batch_id partition per micro-batch; state checkpoints beside the sink checkpoint, so a stopped "
        "job resumes open runs across restarts",
    )
    ap.add_argument("--loop-threshold", type=int, default=3)
    ap.add_argument(
        "--dialogue-monitor",
        help="also run the stateful dialogue-structure monitor "
        "(streaming.stream_dialogue_monitor) over the same input "
        "stream and write its emissions as parquet under this path, "
        "one __batch_id partition per micro-batch; state checkpoints "
        "beside the sink checkpoint",
    )
    args = ap.parse_args(argv)
    if args.available_now and args.continuous:
        ap.error("--available-now and --continuous are mutually exclusive")
    # drain-and-stop is the default; --continuous opts into run-forever
    available_now = not args.continuous

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lc-stream").getOrCreate()

    from loongcollector_spark.config import load_dims, load_spec
    from loongcollector_spark.pipeline import Pipeline
    from loongcollector_spark.session import apply_runtime_confs
    from loongcollector_spark.streaming.stream import (
        _write_batches,
        read_transcript_stream,
        stream_dialogue_monitor,
        stream_loop_alert,
        stream_pipeline_to_sinks,
    )

    apply_runtime_confs(spark)
    pipe = Pipeline(load_spec(args.spec), load_dims(spark, args.dims))
    stream = read_transcript_stream(
        spark, args.input, max_files_per_trigger=args.max_files_per_trigger
    )
    q = stream_pipeline_to_sinks(
        stream,
        pipe,
        args.output,
        args.checkpoint,
        available_now=available_now,
    )

    def _start_monitor(monitor_fn, out_path: str, ckpt_name: str):
        # a SECOND query over the same file source with its own
        # checkpoint: the sink pipeline and each monitor progress
        # independently (one slow sink never stalls alerting). Update-
        # mode emissions land per batch id — the monitor's view is the
        # max-per-conv rollup of the emissions.
        mon = monitor_fn(
            read_transcript_stream(
                spark, args.input, max_files_per_trigger=args.max_files_per_trigger
            )
        )
        return _write_batches(
            mon,
            lambda batch_df: batch_df,
            out_path,
            os.path.join(args.checkpoint, ckpt_name),
            output_mode="update",
            available_now=available_now,
        )

    monitors = []
    if args.loop_alert:
        monitors.append(
            _start_monitor(
                lambda s: stream_loop_alert(
                    s, loop_threshold=args.loop_threshold
                ),
                args.loop_alert,
                "loop_alert",
            )
        )
    if args.dialogue_monitor:
        monitors.append(
            _start_monitor(
                stream_dialogue_monitor,
                args.dialogue_monitor,
                "dialogue_monitor",
            )
        )
    if not monitors:
        q.awaitTermination()
        return
    # with side monitors, wait on ANY termination so a monitor that
    # dies (e.g. unwritable alert path) surfaces instead of being
    # masked forever by the still-running sink query in --continuous
    # mode; a failure stops the surviving queries and re-raises
    queries = [q, *monitors]
    try:
        while any(x.isActive for x in queries):
            spark.streams.awaitAnyTermination()
            spark.streams.resetTerminated()
            for x in queries:
                if not x.isActive and x.exception() is not None:
                    raise x.exception()
    finally:
        for x in queries:
            if x.isActive:
                x.stop()


if __name__ == "__main__":
    main()
