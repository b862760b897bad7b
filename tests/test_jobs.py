"""In-process smoke tests of the curation and SFT-export batch jobs:
the counts each job prints are taken during its write, and must equal
the rows it wrote."""

import json

from pyspark.sql import functions as F

from loongcollector_spark.sources.transcripts import load_transcripts


def _printed(capsys):
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_run_curation_counts_and_stats_match_output(spark, sf_dir, tmp_path, capsys):
    from jobs.run_curation import main

    out, stats = str(tmp_path / "kept"), str(tmp_path / "stats")
    main(["--input", f"{sf_dir}/documents.parquet", "--output", out,
          "--stats", stats])
    report = _printed(capsys)
    kept = spark.read.parquet(out)
    assert report["kept_docs"] == kept.count() > 0
    got = spark.read.parquet(stats).agg(
        F.sum("n_docs").alias("n"), F.sum("total_tokens").alias("t")
    ).first()
    want = kept.agg(F.count("*").alias("n"), F.sum("n_ws_tokens").alias("t")).first()
    assert (got.n, got.t) == (want.n, want.t)


def test_run_sft_export_counts_match_output(spark, sf_dir, tmp_path, capsys):
    from jobs.run_sft_export import main

    src = str(tmp_path / "tx")
    load_transcripts(spark, sf_dir).write.parquet(src)
    out, packed = str(tmp_path / "ex"), str(tmp_path / "packed")
    main(["--input", src, "--output", out, "--pack-output", packed,
          "--seq-len", "128", "--shards", "4"])
    report = _printed(capsys)
    assert report["n_examples"] == spark.read.parquet(out).count() > 0
    assert report["n_sequences"] == spark.read.parquet(packed).count() > 0
