"""In-process smoke tests of the batch jobs: the counts the curation
and SFT-export jobs print are taken during their writes and must equal
the rows they wrote; run_pipeline's flushers are the flusher table's."""

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


def test_run_pipeline_flushers_are_the_flusher_table():
    """``--flusher`` offers exactly the table's entries, and every wire
    flusher (all but parquet and blackhole) can read its payload table
    back."""
    from jobs.run_pipeline import _parser
    from loongcollector_spark.sources.sinks import FLUSHERS

    (choices,) = [a.choices for a in _parser()._actions if a.dest == "flusher"]
    assert list(choices) == list(FLUSHERS)
    wire = set(FLUSHERS) - {"parquet", "blackhole"}
    assert wire == {"sls", "loki", "es", "clickhouse"}
    assert all(FLUSHERS[k].decode is not None for k in wire)
