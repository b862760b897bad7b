"""End-to-end pipeline tests: config-driven assembly, fan-out writes,
metrics, and checkpoint/resume idempotency (mirrors the reference's
e2e oracle families count/field/order, test/engine/verify/)."""

import contextlib
import copy

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.pipeline import PROCESSORS, Pipeline
from loongcollector_spark.plans.checkpoint import run_with_checkpoint
from loongcollector_spark.plans.metrics import MetricsCollector
from loongcollector_spark.operators.route import fanout_write, read_sink
from loongcollector_spark.queries import (
    NGINX_KEYS,
    NGINX_REGEX,
    ROLE_DIM,
)
from loongcollector_spark.sources.transcripts import load_transcripts

SPEC = {
    "processors": [
        {
            "type": "parse_regex",
            "source_key": "text",
            "regex": NGINX_REGEX,
            "keys": NGINX_KEYS,
        },
        {
            "type": "dict_map",
            "dim": "role_dim",
            "source_key": "role",
            "dest_key": "role_class",
            "handle_missing": True,
            "missing": "Unknown",
        },
        {"type": "add_tags", "tags": {"pipeline": "e2e-test"}},
    ],
    "router": {
        "source_key": "role",
        "rules": [
            {"regex": "assistant", "sink": "sink_assistant"},
            {"regex": "tool", "sink": "sink_tool"},
            {"regex": "user|system", "sink": "sink_human"},
        ],
        "default_sink": "sink_default",
    },
}


@pytest.fixture()
def pipe(spark):
    dims = {
        "role_dim": spark.createDataFrame(ROLE_DIM, ["role", "role_class", "priority"])
    }
    return Pipeline(SPEC, dims)


def test_config_pipeline_counts_and_fields(spark, sf_dir, tmp_path, pipe):
    tx = load_transcripts(spark, sf_dir)
    metrics = MetricsCollector("job-1")
    out_dir = str(tmp_path / "sinks")
    met_dir = str(tmp_path / "metrics")
    routed = pipe.run_and_write(
        tx, lambda r: fanout_write(r, out_dir), metrics, metrics_path=met_dir
    )
    # count oracle (verify/count.go analog)
    counts = {r.sink: r["cnt"] for r in
              routed.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    n_alien = tx.filter(F.col("role") == "alien").count()
    assert counts["sink_default"] == n_alien
    assert sum(counts.values()) == tx.count()
    # field oracle (verify/log_field.go analog)
    back = read_sink(spark, out_dir, "sink_assistant")
    assert {"role_class", "pipeline", "status", "ip"} <= set(back.columns)
    assert back.filter(F.col("role_class") != "model").count() == 0
    # order oracle (verify/log_order.go analog): per-turn text equality
    orig = {
        (r.conv_id, r.turn_idx): r.text
        for r in tx.filter(F.col("role") == "assistant").collect()
    }
    got = {(r.conv_id, r.turn_idx): r.text for r in back.collect()}
    assert got == orig
    # metrics table written
    m = spark.read.parquet(met_dir)
    rec = m.collect()[0]
    assert rec.rows_in == tx.count() and rec.rows_out == tx.count()


def test_metrics_write_appends_each_record_once(spark, tmp_path):
    """Two ``run_and_write`` calls with one collector and one
    ``metrics_path`` leave one metrics row per call: each write
    replaces the job's rows with all of its records."""
    from loongcollector_spark.sources.sinks import write_blackhole

    metrics = MetricsCollector("twice")
    met = str(tmp_path / "metrics")
    for _ in range(2):
        Pipeline({}).run_and_write(
            spark.range(5), write_blackhole, metrics, metrics_path=met
        )
    assert len(metrics.records) == 2
    assert [(r.rows_in, r.rows_out) for r in spark.read.parquet(met).collect()] == [
        (5, 5), (5, 5)
    ]


def test_metrics_rerun_of_one_job_id_keeps_one_set(spark, tmp_path):
    """A rerun of a job (a new collector with the same job id) replaces
    that job's rows in the metrics table instead of adding a second
    set; another job's rows stay."""
    from loongcollector_spark.sources.sinks import write_blackhole

    met = str(tmp_path / "metrics")
    for job, n in [("job-a", 5), ("job-b", 3), ("job-a", 7)]:
        Pipeline({}).run_and_write(
            spark.range(n), write_blackhole, MetricsCollector(job), metrics_path=met
        )
    rows = spark.read.parquet(met).collect()
    assert sorted((r.job_id, r.rows_in, r.rows_out) for r in rows) == [
        ("job-a", 7, 7), ("job-b", 3, 3)
    ]


def test_read_metrics_keeps_a_job_id_of_digits(spark, tmp_path):
    """The job id is a ``job_id=`` directory, which a schema-less read
    would take for a number (``007`` → 7); ``read_metrics`` reads it
    back as written."""
    from loongcollector_spark.plans.metrics import read_metrics

    met = str(tmp_path / "metrics")
    metrics = MetricsCollector("007")
    metrics.add("pipeline", 4, 3, 0.5)
    metrics.write(spark, met)
    assert [tuple(r) for r in read_metrics(spark, met).collect()] == [
        ("pipeline", 4, 3, 0.5, "007")
    ]


def test_checkpoint_resume_idempotent(spark, sf_dir, tmp_path, pipe):
    """Kill-and-rerun equals clean single run (RangeCheckpoint /
    checkpoint_manager semantics)."""
    tx = load_transcripts(spark, sf_dir)
    transform = pipe.run

    clean_dir = str(tmp_path / "clean")
    run_with_checkpoint(
        spark, tx, transform,
        out_dir=clean_dir, lineage_dir=str(tmp_path / "lin_clean"),
        job_id="clean", n_units=4,
    )

    crash_dir = str(tmp_path / "crash")
    lin = str(tmp_path / "lin_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoint(
            spark, tx, transform,
            out_dir=crash_dir, lineage_dir=lin,
            job_id="crash", n_units=4, fail_after_units=2,
        )
    # resume
    final = run_with_checkpoint(
        spark, tx, transform,
        out_dir=crash_dir, lineage_dir=lin, job_id="crash", n_units=4,
    )
    a = sorted(
        (r.conv_id, r.turn_idx, r.sink, r.text)
        for r in spark.read.parquet(clean_dir).collect()
    )
    b = sorted((r.conv_id, r.turn_idx, r.sink, r.text) for r in final.collect())
    assert a == b
    assert len(b) == tx.count()
    # second rerun is a no-op (no duplicates)
    again = run_with_checkpoint(
        spark, tx, transform,
        out_dir=crash_dir, lineage_dir=lin, job_id="crash", n_units=4,
    )
    assert again.count() == tx.count()


def test_tag_copy_and_unconditional_sinks(spark, sf_dir):
    spec = {
        "processors": [],
        "router": {
            "source_key": "role",
            "rules": [{"regex": "assistant", "sink": "sink_a"}],
            "default_sink": "sink_other",
            "unconditional_sinks": ["sink_audit"],
            "tag_copy_sinks": [["tool", "code", "sink_code_copy"]],
        },
    }
    tx = load_transcripts(spark, sf_dir)
    routed = Pipeline(spec).run(tx)
    counts = {r.sink: r["cnt"] for r in
              routed.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    n = tx.count()
    assert counts["sink_audit"] == n
    assert counts["sink_code_copy"] == tx.filter(F.col("tool") == "code").count()
    assert counts["sink_a"] + counts["sink_other"] == n


@contextlib.contextmanager
def _jobs_started(spark, group):
    """Collects the ids of the Spark jobs the block starts."""
    sc = spark.sparkContext
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setJobGroup(None, None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_dict_map_spec_runs_start_no_job(spark, sf_dir, pipe):
    """The dictionary is read when the Pipeline is built: neither the
    first run nor a second one starts a Spark job before its action."""
    tx = load_transcripts(spark, sf_dir)
    with _jobs_started(spark, "dict-map-runs") as jobs:
        first, second = pipe.run(tx), pipe.run(tx)
    assert jobs == []
    assert first.columns == second.columns
    assert {r.role_class for r in second.where("role = 'assistant'").collect()} == {"model"}


def test_unknown_processor_type_raises_at_construction(spark):
    with _jobs_started(spark, "unknown-processor-type") as jobs:
        with pytest.raises(KeyError, match="unknown processor type 'parse_regexx'"):
            Pipeline({"processors": [{"type": "parse_regexx", "source_key": "text"}]})
    assert jobs == []


def test_pipeline_reads_its_spec_once(spark):
    """Construction leaves the caller's spec as it was (perfbench builds
    a Pipeline from the same spec dicts on every run), and the built
    steps do not read the spec again."""
    spec = copy.deepcopy(SPEC)
    dims = {"role_dim": spark.createDataFrame(ROLE_DIM, ["role", "role_class", "priority"])}
    pipe = Pipeline(spec, dims)
    assert spec == SPEC
    spec["processors"].clear()
    spec["router"]["rules"].clear()
    df = spark.createDataFrame([("assistant", "x")], "role string, text string")
    out = pipe.run(df).collect()
    assert [(r.role_class, r.pipeline, r.sink) for r in out] == [
        ("model", "e2e-test", "sink_assistant")
    ]


def test_custom_processor_via_registry(spark, monkeypatch):
    """The plugin-registry extension point: a function put into
    ``PROCESSORS`` is a processor type a spec can name."""
    monkeypatch.setitem(
        PROCESSORS, "shout", lambda df, source_key: df.withColumn(source_key, F.upper(source_key))
    )
    df = spark.createDataFrame([("user",), ("tool",)], "role string")
    spec = {"processors": [{"type": "shout", "source_key": "role"}]}
    assert [r.role for r in Pipeline(spec).run(df).collect()] == ["USER", "TOOL"]


def test_run_pipeline_wire_flushers_roundtrip(spark, sf_dir, tmp_path):
    """jobs/run_pipeline.py --flusher sls/loki/es/clickhouse: the
    deployment entry point lands decodable wire payloads whose row
    totals equal the routed input."""
    import json as _json

    from jobs.run_pipeline import main as run_pipeline_main
    from loongcollector_spark.sources.clickhouse_rb import (
        decode_clickhouse_rowbinary,
    )
    from loongcollector_spark.sources.es_bulk import decode_es_bulk
    from loongcollector_spark.sources.sls_pb import decode_loggroup

    spec = tmp_path / "spec.json"
    spec.write_text(
        _json.dumps(
            {
                "processors": [],
                "router": {
                    "source_key": "role",
                    "rules": [
                        {"regex": "assistant", "sink": "sink_assistant"},
                        {"regex": "tool", "sink": "sink_tool"},
                    ],
                    "default_sink": "sink_default",
                },
            }
        )
    )
    src = str(tmp_path / "tx")
    from loongcollector_spark.sources.transcripts import load_transcripts

    load_transcripts(spark, sf_dir).write.parquet(src)

    def run(flusher):
        out = str(tmp_path / f"out_{flusher}")
        run_pipeline_main(
            ["--input", src, "--output", out, "--spec", str(spec),
             "--flusher", flusher, "--job-id", "t"]
        )
        return spark.read.parquet(out)

    # clickhouse: decode every payload, total rows == 1000
    ch = run("clickhouse")
    rows = [
        t
        for r in ch.collect()
        for t in decode_clickhouse_rowbinary(bytes(r.value))
    ]
    assert len(rows) == 1000
    sinks = {_json.loads(doc)["sink"] for _, doc in rows}
    assert sinks == {"sink_assistant", "sink_tool", "sink_default"}

    # es: bulk bodies decode, index carries the sink
    es = run("es")
    pairs = [p for r in es.collect() for p in decode_es_bulk(r.value)]
    assert len(pairs) == 1000
    assert {idx for idx, _ in pairs} == {
        "lc-sink_assistant", "lc-sink_tool", "lc-sink_default"
    }

    # sls: topic column is the sink; log totals match
    sls = run("sls")
    srows = sls.collect()
    assert sum(r.n_logs for r in srows) == 1000
    assert {r.topic for r in srows} == {
        "sink_assistant", "sink_tool", "sink_default"
    }
    decoded = decode_loggroup(bytes(srows[0].value))
    assert decoded["logs"]

    # loki: stream labels carry sink + static job label
    lk = run("loki")
    total = 0
    seen = set()
    for r in lk.collect():
        body = _json.loads(r.value)
        for stream in body["streams"]:
            assert stream["stream"]["job"] == "t"
            seen.add(stream["stream"]["sink"])
            total += len(stream["values"])
    assert total == 1000
    assert seen == {"sink_assistant", "sink_tool", "sink_default"}


def test_run_pipeline_clickhouse_without_ts_keeps_all_columns(
    spark, sf_dir, tmp_path
):
    """--flusher clickhouse on a pipeline whose output has no ts
    column: every real column must survive into the _log JSON (the
    old fallback sacrificed routed.columns[0] to the _timestamp slot)
    and _timestamp folds to 0."""
    import json as _json

    from jobs.run_pipeline import main as run_pipeline_main
    from loongcollector_spark.sources.clickhouse_rb import (
        decode_clickhouse_rowbinary,
    )
    from loongcollector_spark.sources.transcripts import load_transcripts

    spec = tmp_path / "spec_nots.json"
    spec.write_text(
        _json.dumps(
            {
                "processors": [{"type": "drop", "keys": ["ts"]}],
                "router": {
                    "source_key": "role",
                    "rules": [{"regex": "assistant", "sink": "sink_assistant"}],
                    "default_sink": "sink_default",
                },
            }
        )
    )
    src = str(tmp_path / "tx_nots")
    load_transcripts(spark, sf_dir).write.parquet(src)
    out = str(tmp_path / "out_ch_nots")
    run_pipeline_main(
        ["--input", src, "--output", out, "--spec", str(spec),
         "--flusher", "clickhouse", "--job-id", "t"]
    )
    rows = [
        t
        for r in spark.read.parquet(out).collect()
        for t in decode_clickhouse_rowbinary(bytes(r.value))
    ]
    assert len(rows) == 1000
    assert all(ts == 0 for ts, _ in rows)
    doc = _json.loads(rows[0][1])
    # conv_id (the first routed column) must NOT have been consumed
    # as the timestamp source
    assert {"conv_id", "turn_idx", "role", "sink"} <= set(doc)


def test_payload_replay_sources_close_the_loop(spark, sf_dir, tmp_path):
    """write with --flusher X, read back with the flusher table's
    decode: the decoded row set equals the routed input (the full
    collector → wire → re-ingest loop inside Spark)."""
    import json as _json

    from jobs.run_pipeline import main as run_pipeline_main
    from loongcollector_spark.sources.sinks import FLUSHERS
    from loongcollector_spark.sources.transcripts import load_transcripts

    spec = tmp_path / "spec.json"
    spec.write_text(
        _json.dumps(
            {
                "processors": [],
                "router": {
                    "source_key": "role",
                    "rules": [{"regex": "assistant", "sink": "sink_assistant"}],
                    "default_sink": "sink_default",
                },
            }
        )
    )
    src = str(tmp_path / "tx")
    load_transcripts(spark, sf_dir).write.parquet(src)

    def run(flusher):
        out = str(tmp_path / f"o_{flusher}")
        run_pipeline_main(
            ["--input", src, "--output", out, "--spec", str(spec),
             "--flusher", flusher, "--job-id", "t"]
        )
        return FLUSHERS[flusher].decode(spark.read.parquet(out))

    sls = run("sls")
    assert sls.count() == 1000
    assert set(r.topic for r in sls.select("topic").distinct().collect()) == {
        "sink_assistant", "sink_default"
    }
    # contents carry the original text column verbatim
    one = sls.filter("topic = 'sink_assistant'").limit(1).collect()[0]
    assert "text" in one.contents and "conv_id" in one.contents

    loki = run("loki")
    assert loki.count() == 1000
    assert loki.filter("labels['sink'] = 'sink_assistant'").count() == 247

    es = run("es")
    assert es.count() == 1000
    assert es.filter("index = 'lc-sink_assistant'").count() == 247

    ch = run("clickhouse")
    assert ch.count() == 1000
    docs = ch.limit(1).collect()[0]
    assert _json.loads(docs.log)["sink"] in {"sink_assistant", "sink_default"}


def _run_pipeline_job(spark, sf_dir, tmp_path, *flags):
    """Run jobs/run_pipeline.py in-process over the sf_dir transcripts
    with a role router; returns the metrics rows it appended."""
    import json as _json

    from jobs.run_pipeline import main as run_pipeline_main

    spec = tmp_path / "spec.json"
    src = str(tmp_path / "tx")
    if not spec.exists():
        spec.write_text(_json.dumps({"processors": [], "router": SPEC["router"]}))
        load_transcripts(spark, sf_dir).write.parquet(src)
    met = str(tmp_path / f"metrics{len(list(tmp_path.glob('metrics*')))}")
    run_pipeline_main(
        ["--input", src, "--spec", str(spec), "--metrics", met,
         "--job-id", "m", *flags]
    )
    return spark.read.parquet(met).collect()


def test_run_pipeline_records_rows_in_on_every_flusher(spark, sf_dir, tmp_path):
    """Every write path of run_pipeline.py --metrics records the input
    rows (none records -1): parquet, blackhole (warm-up + two measured
    rounds), a wire flusher and the checkpointed lineage path."""
    runs = {
        "parquet": ["--output", str(tmp_path / "o_parquet")],
        "blackhole": ["--flusher", "blackhole", "--warm", "1", "--rounds", "2"],
        "sls": ["--flusher", "sls", "--output", str(tmp_path / "o_sls")],
        "lineage": ["--output", str(tmp_path / "o_lin"),
                    "--lineage", str(tmp_path / "lin"), "--units", "4"],
    }
    for name, flags in runs.items():
        rows = _run_pipeline_job(spark, sf_dir, tmp_path, *flags)
        assert len(rows) == (2 if name == "blackhole" else 1), name
        assert [(r.rows_in, r.rows_out) for r in rows] == [(1000, 1000)] * len(rows), name


def test_run_pipeline_lineage_rerun_all_committed_returns(spark, sf_dir, tmp_path):
    """A lineage rerun whose units are all committed starts no write
    job, so nothing fills the input counter: the job must still return
    (not wait on it) and record rows_in = 0."""
    flags = ["--output", str(tmp_path / "o"), "--lineage", str(tmp_path / "lin"),
             "--units", "4"]
    first = _run_pipeline_job(spark, sf_dir, tmp_path, *flags)
    rerun = _run_pipeline_job(spark, sf_dir, tmp_path, *flags)
    assert [(r.rows_in, r.rows_out) for r in first] == [(1000, 1000)]
    assert [(r.rows_in, r.rows_out) for r in rerun] == [(0, 1000)]
