#!/usr/bin/env python
"""spark-submit entry point for SFT training-data export.

Turns a transcript table (conv_id, turn_idx, role, text, ...) into
training examples and packed LM sequences:

    transcripts
      → conversation_examples (greedy ≤max-token cuts at turn
        boundaries, conversations never mix)
      → [optional] pack_sequences over the example texts (fixed-length
        LM pretraining blocks with <eos> separators)
      → write examples (+ sequences) as parquet

Usage::

    zip -r lc.zip loongcollector_spark
    spark-submit --py-files lc.zip jobs/run_sft_export.py \
        --input  <transcripts parquet> \
        --output <examples path> \
        [--max-tokens 1024] \
        [--pack-output <sequences path>] [--seq-len 512] \
        [--shards 64] \
        [--gate [--gate-budget-tokens 8192] [--gate-loop-threshold 3]]

With ``--gate`` the trajectory.sft_gate verdict runs first (resolved
outcome, no loop past the threshold, context under budget) and only
admitted conversations are exported; the JSON report carries per-
drop-reason counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--max-tokens", type=int, default=1024)
    ap.add_argument("--pack-output")
    ap.add_argument("--seq-len", type=int, default=512)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument(
        "--gate",
        action="store_true",
        help="apply trajectory.sft_gate first: keep only resolved, "
        "non-looping, in-budget conversations",
    )
    ap.add_argument("--gate-budget-tokens", type=int, default=8192)
    ap.add_argument("--gate-loop-threshold", type=int, default=3)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from loongcollector_spark.operators.assemble import conversation_examples
    from loongcollector_spark.operators.packing import pack_sequences
    from loongcollector_spark.plans.metrics import observe_rows
    from loongcollector_spark.session import apply_runtime_confs

    # spark-submit owns the master/resources; only layer the runtime
    # confs on top (same contract as the other jobs/ entry points —
    # get_spark() would force local[...] and override the cluster)
    spark = SparkSession.builder.appName("sft-export").getOrCreate()
    apply_runtime_confs(spark)
    t0 = time.time()
    tx = spark.read.parquet(args.input)
    gate_report = None
    if args.gate:
        from loongcollector_spark.operators.trajectory import sft_gate

        # persist: the report collect AND the admission semi join both
        # consume the verdicts (three turn-data passes otherwise run
        # twice); the cached table is conversation-count-sized
        from loongcollector_spark.cache import persisted

        verdicts = persisted(
            sft_gate(
                tx,
                loop_threshold=args.gate_loop_threshold,
                budget_tokens=args.gate_budget_tokens,
            )
        )
        # drop-reason attribution for the report (conversation-count
        # table; cheap), then a broadcast-friendly semi join keeps only
        # admitted conversations — turn text never joins wide
        gate_report = {
            (r["drop_reason"] or "kept"): r["n"]
            for r in verdicts.groupBy("drop_reason")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        tx = tx.join(
            verdicts.filter(F.col("keep")).select("conv_id"),
            "conv_id",
            "left_semi",
        )
    ex = conversation_examples(tx, max_tokens=args.max_tokens)
    # stable example key for downstream joins/dedup AND the packing id:
    # collision-free composite (pack_sequences requires a true primary
    # key — a 64-bit hash collision would corrupt offsets), zero-padded
    # so ascending-key pack order == conversation order
    # format_string, not lpad: Spark lpad TRUNCATES over-length input,
    # so a >=10^6-example conversation would collide ids (ADVICE r3);
    # %012d covers any realistic example_idx without truncation
    ex = ex.withColumn(
        "example_id",
        F.format_string("%s#%012d", F.col("conv_id"), F.col("example_idx")),
    )
    ex, n_examples = observe_rows(ex)
    ex.repartition(args.shards).write.mode("overwrite").parquet(args.output)

    report = {
        "n_examples": n_examples.get["n"],
        "examples_path": args.output,
    }
    if gate_report is not None:
        report["gate"] = gate_report
    if args.pack_output:
        packed, n_sequences = observe_rows(
            pack_sequences(
                spark.read.parquet(args.output),
                text_col="example_text",
                id_col="example_id",
                seq_len=args.seq_len,
            )
        )
        packed.write.mode("overwrite").parquet(args.pack_output)
        report["n_sequences"] = n_sequences.get["n"]
        report["seq_len"] = args.seq_len
        report["pack_path"] = args.pack_output
    report["wall_sec"] = round(time.time() - t0, 3)
    from loongcollector_spark.cache import release_persisted

    release_persisted()  # free the gate verdict cache (ADVICE r4)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
