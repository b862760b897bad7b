"""Single-scan checkpoint resume properties: one job regardless of how
many units remain, topology-mismatch refusal, and no collision with
user columns named 'unit'."""

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.plans.checkpoint import (
    CheckpointedRun,
    run_with_checkpoint,
)


def _mk_df(spark, n=200):
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("conv-"), (F.col("id") % 40).cast("string")).alias(
                "conv_id"
            ),
            F.col("id").alias("turn_idx"),
        )
    )


def test_resume_is_single_scan(spark, tmp_path):
    """The resume attempt must launch O(1) Spark jobs, not O(units):
    the per-unit driver loop of the earlier design ran >=2 jobs per
    unit (write + count re-read), i.e. >=16 here."""
    df = _mk_df(spark)
    sc = spark.sparkContext
    sc.setJobGroup("ck-scan", "checkpoint single-scan assertion")
    try:
        run_with_checkpoint(
            spark,
            df,
            lambda d: d.withColumn("x", F.length("conv_id")),
            out_dir=str(tmp_path / "out"),
            lineage_dir=str(tmp_path / "lin"),
            job_id="scan",
            n_units=8,
        )
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("ck-scan")
        sc.setJobGroup(None, None)
    # 1 write job + final read (+ possible tiny listing job); the old
    # shape needed >= 2 jobs x 8 units
    assert 0 < len(jobs) <= 4, f"expected O(1) jobs, got {len(jobs)}"


def test_topology_mismatch_refused(spark, tmp_path):
    df = _mk_df(spark)
    kw = dict(
        out_dir=str(tmp_path / "o"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="topo",
    )
    run_with_checkpoint(spark, df, lambda d: d, n_units=2, **kw)
    with pytest.raises(ValueError, match="topology mismatch"):
        run_with_checkpoint(spark, df, lambda d: d, n_units=4, **kw)


def test_user_unit_column_survives(spark, tmp_path):
    """A genuine output column named 'unit' must round-trip (the old
    partition column name shadowed and dropped it)."""
    df = _mk_df(spark)
    out = run_with_checkpoint(
        spark,
        df,
        lambda d: d.withColumn("unit", F.lit("celsius")),
        out_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="unitcol",
        n_units=4,
    )
    assert "unit" in out.columns
    assert out.filter(F.col("unit") != "celsius").count() == 0


def test_rows_out_from_lineage_matches(spark, tmp_path):
    df = _mk_df(spark, n=150)
    run_with_checkpoint(
        spark,
        df,
        lambda d: d,
        out_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="rows",
        n_units=4,
    )
    ck = CheckpointedRun(spark, str(tmp_path / "lin"), "rows")
    assert ck.total_rows_committed() == 150
    assert len(ck.committed_units()) == 4


def test_midwrite_kill_leftovers_overwritten(spark, tmp_path):
    """A SIGKILL during the write leaves partial __lc_unit=<id> files
    and a _temporary dir with NO lineage commits; the rerun must
    replace the poison files and match a clean run exactly."""
    import os

    from loongcollector_spark.plans.checkpoint import run_with_checkpoint

    df = spark.createDataFrame(
        [(f"c{i}", i, f"t{i}") for i in range(40)],
        ["conv_id", "turn_idx", "text"],
    )
    ident = lambda d: d  # noqa: E731

    clean_dir = str(tmp_path / "clean")
    run_with_checkpoint(
        spark, df, ident, out_dir=clean_dir,
        lineage_dir=str(tmp_path / "lc"), job_id="c", n_units=4,
    )

    # fabricate the mid-write crash state: partial files in two unit
    # dirs + a _temporary scratch dir, lineage empty
    crash_dir = str(tmp_path / "crash")
    for u in (0, 2):
        d = os.path.join(crash_dir, f"__lc_unit={u}")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.parquet"), "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")
    os.makedirs(os.path.join(crash_dir, "_temporary"))

    final = run_with_checkpoint(
        spark, df, ident, out_dir=crash_dir,
        lineage_dir=str(tmp_path / "lx"), job_id="x", n_units=4,
    )
    cols = ["conv_id", "turn_idx", "text"]
    a = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(clean_dir).collect()
    )
    b = sorted(tuple(r[c] for c in cols) for r in final.collect())
    assert a == b and len(b) == 40


def test_numeric_looking_sink_reads_back_as_string(spark, tmp_path):
    """The read-back uses the write's schema: a sink named "007" stays
    the string "007" (schema inference typed it as int 7)."""
    out = run_with_checkpoint(
        spark,
        _mk_df(spark, n=20),
        lambda d: d.withColumn("sink", F.lit("007")),
        out_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="sink007",
        n_units=2,
    )
    assert dict(out.dtypes)["sink"] == "string"
    assert {r.sink for r in out.collect()} == {"007"}
    assert out.count() == 20


def _legacy_checkpoint(tmp_path, job_id, unit_entry):
    """A committed unit 0 written by hand the way an earlier layout
    left it: a meta record without the layout field, and *unit_entry*
    (a part file or a sink= directory) directly under __lc_unit=0."""
    import json
    import os

    lin, out = tmp_path / "lin", tmp_path / "out"
    os.makedirs(lin)
    with open(lin / f"{job_id}__meta.json", "w") as fh:
        json.dump({"job_id": job_id, "n_units": 2, "conv_col": "conv_id"}, fh)
    with open(lin / f"{job_id}_0.json", "w") as fh:
        json.dump({"job_id": job_id, "unit_id": 0, "status": "committed",
                   "rows_out": 1}, fh)
    entry = out / "__lc_unit=0" / unit_entry
    if unit_entry.startswith("sink="):
        os.makedirs(entry)
        entry = entry / "part-00000.parquet"
    else:
        os.makedirs(entry.parent)
    entry.write_bytes(b"")
    return dict(out_dir=str(out), lineage_dir=str(lin), job_id=job_id, n_units=2)


@pytest.mark.parametrize(
    "unit_entry,transform",
    [
        # flat unit directory, transform now routes to sink
        ("part-00000.parquet", lambda d: d.withColumn("sink", F.lit("s"))),
        # nested sink directory, transform no longer routes
        ("sink=s", lambda d: d),
    ],
    ids=["flat_then_routed", "routed_then_flat"],
)
def test_resume_refuses_mixed_partition_depths(spark, tmp_path, unit_entry, transform):
    kw = _legacy_checkpoint(tmp_path, "legacy", unit_entry)
    with pytest.raises(ValueError, match="layout mismatch for job 'legacy'"):
        run_with_checkpoint(spark, _mk_df(spark), transform, **kw)


def test_layout_recorded_and_checked_on_resume(spark, tmp_path):
    import json

    df = _mk_df(spark)
    kw = dict(
        out_dir=str(tmp_path / "o"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="lay",
        n_units=2,
    )
    run_with_checkpoint(spark, df, lambda d: d, **kw)
    with open(tmp_path / "lin" / "lay__meta.json") as fh:
        assert json.load(fh)["layout"] == "__lc_unit"
    with pytest.raises(ValueError, match="layout mismatch for job 'lay'"):
        run_with_checkpoint(
            spark, df, lambda d: d.withColumn("sink", F.lit("s")), **kw
        )
