"""Single-scan checkpoint resume properties: one job regardless of how
many units remain, topology- and output-mismatch refusal, one partition
level (``sink`` is a column), and no collision with user columns named
'unit'."""

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
    (a part file or a sink= directory) directly under __lc_unit=0. The
    meta has no output record, so every resume of it is refused."""
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


def _route3(d):
    """Routes each row to one of three sinks by turn."""
    turn = (F.col("turn_idx") % 3).cast("string")
    return d.withColumn("sink", F.concat(F.lit("s"), turn))


def test_routed_checkpoint_is_one_partition_level(spark, tmp_path):
    """A routed transform writes ``__lc_unit=<u>`` directories holding
    part files only: ``sink`` is a column of those files, and the
    read-back equals the direct transform as a multiset."""
    import os
    from collections import Counter

    df = _mk_df(spark, n=120)
    out_dir = tmp_path / "out"
    back = run_with_checkpoint(
        spark, df, _route3, out_dir=str(out_dir),
        lineage_dir=str(tmp_path / "lin"), job_id="flat", n_units=4,
    )
    units = [d for d in os.listdir(out_dir) if d.startswith("__lc_unit=")]
    assert len(units) == 4
    for u in units:
        entries = os.listdir(out_dir / u)
        assert not [e for e in entries if os.path.isdir(out_dir / u / e)], u
        assert [e for e in entries if e.startswith("part-")], u
    direct = _route3(df)
    assert back.columns == direct.columns
    assert Counter(map(tuple, back.collect())) == Counter(map(tuple, direct.collect()))
    assert {r.sink for r in back.collect()} == {"s0", "s1", "s2"}


def test_resume_refuses_changed_output_schema(spark, tmp_path):
    """A resume whose transform writes other columns or types than the
    committed units hold is refused: the read-back would mix schemas
    (NULLs in the units written without a column)."""
    df = _mk_df(spark)
    kw = dict(
        out_dir=str(tmp_path / "o"),
        lineage_dir=str(tmp_path / "lin"),
        job_id="schema",
        n_units=4,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoint(
            spark, df, lambda d: d.withColumn("x", F.lit(1)),
            fail_after_units=2, **kw,
        )
    with pytest.raises(ValueError, match="layout mismatch for job 'schema'"):
        run_with_checkpoint(
            spark, df, lambda d: d.withColumn("x", F.lit("1")), **kw
        )
    out = run_with_checkpoint(spark, df, lambda d: d.withColumn("x", F.lit(1)), **kw)
    assert out.count() == 200
    assert out.filter(F.col("x").isNull()).count() == 0


def test_read_sink_over_checkpoint_matches_fanout(spark, tmp_path):
    """``read_sink`` returns the same columns and rows over a routed
    checkpoint output (``sink`` a column, ``__lc_unit`` directories) as
    over a ``fanout_write`` table (``sink=`` directories)."""
    from collections import Counter

    from loongcollector_spark.operators.route import fanout_write, read_sink

    df = _mk_df(spark, n=60)
    ck_dir, fan_dir = str(tmp_path / "ck"), str(tmp_path / "fan")
    run_with_checkpoint(
        spark, df, _route3, out_dir=ck_dir,
        lineage_dir=str(tmp_path / "lin"), job_id="rs", n_units=2,
    )
    fanout_write(_route3(df), fan_dir)
    for sink in ["s0", "s1", "s2"]:
        a, b = read_sink(spark, ck_dir, sink), read_sink(spark, fan_dir, sink)
        assert a.columns == b.columns == ["conv_id", "turn_idx"]
        assert Counter(map(tuple, a.collect())) == Counter(map(tuple, b.collect()))
        assert a.count() == 20


def _keyed_json(spark):
    """Rows whose JSON payload has one key per conversation, so units
    hold different key sets, and an SPL ``parse-json`` step without
    ``known_keys`` that discovers its columns from the rows it sees."""
    from loongcollector_spark.pipeline import Pipeline

    num = F.substring_index(F.col("conv_id"), "-", -1)
    df = _mk_df(spark).withColumn(
        "payload", F.concat(F.lit('{"k'), num, F.lit('":"'), num, F.lit('"}'))
    )
    spec = {"processors": [{"type": "spl", "script": "* | parse-json payload"}]}
    return df, Pipeline(spec).run


def _by_name(frame):
    from collections import Counter

    cols = sorted(frame.columns)
    return cols, Counter(tuple(r[c] for c in cols) for r in frame.collect())


def test_spl_discovered_keys_rerun_with_every_unit_committed(spark, tmp_path):
    """A rerun with every unit committed plans the transform over zero
    rows, where key discovery finds nothing: it is not refused, and it
    reads back every discovered column."""
    df, run = _keyed_json(spark)
    kw = dict(
        out_dir=str(tmp_path / "o"), lineage_dir=str(tmp_path / "lin"),
        job_id="spl", n_units=4,
    )
    first = _by_name(run_with_checkpoint(spark, df, run, **kw))
    assert first == _by_name(run(df))
    assert len(first[0]) == 3 + 40
    assert _by_name(run_with_checkpoint(spark, df, run, **kw)) == first


def test_spl_discovered_keys_resume_after_crash(spark, tmp_path):
    """A crashed job whose remaining units discover other keys resumes:
    the record grows to the union, and the read-back equals one clean
    run by column name and as a multiset."""
    df, run = _keyed_json(spark)
    kw = dict(
        out_dir=str(tmp_path / "o"), lineage_dir=str(tmp_path / "lin"),
        job_id="splc", n_units=4,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoint(spark, df, run, fail_after_units=2, **kw)
    back = _by_name(run_with_checkpoint(spark, df, run, **kw))
    assert back == _by_name(run(df))
    assert _by_name(run_with_checkpoint(spark, df, run, **kw)) == back


def test_resume_refuses_column_added_after_crash(spark, tmp_path):
    """A column the transform has over zero rows (here ``sink``) that
    the committed units lack is refused on a resume that writes units,
    as on one that writes none."""
    df = _mk_df(spark)
    kw = dict(
        out_dir=str(tmp_path / "o"), lineage_dir=str(tmp_path / "lin"),
        job_id="add", n_units=4,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoint(spark, df, lambda d: d, fail_after_units=2, **kw)
    with pytest.raises(ValueError, match="layout mismatch for job 'add'"):
        run_with_checkpoint(
            spark, df, lambda d: d.withColumn("sink", F.lit("s")), **kw
        )
