#!/usr/bin/env python
"""spark-submit entry point for the training-data curation pipeline.

Runs the corpus-curation sequence over a documents table
(doc_id, text, lang, ... — the shape of testdata documents.parquet):

    near-dup clustering (MinHash+LSH → connected components)
      → keep canonical docs only
      → quality gate (min whitespace-token count)
      → deterministic stratified sampling per language
      → write kept corpus + per-language stats

Usage::

    zip -r lc.zip loongcollector_spark
    spark-submit --py-files lc.zip jobs/run_curation.py \
        --input  <documents parquet/table> \
        --output <kept-corpus path> \
        [--stats <stats path>] \
        [--threshold 0.7] [--min-tokens 5] \
        [--sample '{"en": 1.0, "de": 0.5}'] [--default-fraction 1.0] \
        [--salt r3]
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
    ap.add_argument("--stats")
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--sample", help='JSON {lang: fraction}', default=None)
    ap.add_argument("--default-fraction", type=float, default=1.0)
    ap.add_argument("--salt", default="")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("lc-curation").getOrCreate()

    from loongcollector_spark.operators.dedup import dedup_components
    from loongcollector_spark.operators.text import (
        stratified_sample,
        token_stats,
    )
    from loongcollector_spark.plans.metrics import observe_rows
    from loongcollector_spark.session import apply_runtime_confs
    from loongcollector_spark.sources.sinks import read_table

    apply_runtime_confs(spark)
    t0 = time.monotonic()
    docs = read_table(spark, args.input)

    comp = dedup_components(docs, threshold=args.threshold)
    canonical = comp.filter(F.col("is_canonical")).select("doc_id")
    kept = docs.join(canonical, "doc_id", "left_semi")

    stats = token_stats(kept)
    gated = stats.filter(F.col("n_ws_tokens") >= args.min_tokens)

    if args.sample:
        gated = stratified_sample(
            gated,
            "lang",
            json.loads(args.sample),
            default_fraction=args.default_fraction,
            salt=args.salt,
        )

    gated, kept = observe_rows(gated)
    gated.write.mode("overwrite").parquet(args.output)
    if args.stats:
        # aggregate the written corpus: re-running `gated` would redo
        # the MinHash + connected-components dedup
        (
            spark.read.parquet(args.output)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_ws_tokens").alias("total_tokens"),
            )
            .write.mode("overwrite")
            .parquet(args.stats)
        )
    print(json.dumps({
        "kept_docs": kept.get["n"],
        "wall_sec": round(time.monotonic() - t0, 3),
    }))


if __name__ == "__main__":
    main()
