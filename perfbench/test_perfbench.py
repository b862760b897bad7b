"""Tests of the benchmark's own code, at a tiny input size.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import run  # first: it puts the repository root on sys.path
import harness
import loadgen
import probes
from workloads import WORKLOADS

BENCHMARK = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
TINY = 500  # turns per core


@pytest.fixture(scope="module")
def spark():
    s = run.start_spark(2)
    yield s
    run.stop_spark(s)


@pytest.fixture(scope="module")
def benches(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("perfbench")
    out = {}
    for name, wl in WORKLOADS.items():
        n = TINY * 2
        path = loadgen.write_input(spark, str(root / "inputs"), wl.input_kind, n, 7, 4)
        work = root / name
        work.mkdir()
        out[name] = harness.Bench(spark, wl, path, n, str(work), run.jvm_pid())
    return out


def test_benchmark_json_matches_the_workloads():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


def test_seed_varies_rows_but_not_the_mix(spark):
    a = loadgen.transcripts(spark, 6000, 1, 2)
    b = loadgen.transcripts(spark, 6000, 2, 2)
    assert a.count() == b.count() == 6000
    assert a.select(F.min("turn_idx")).first()[0] != b.select(F.min("turn_idx")).first()[0]

    def mix(df):
        hot = F.col("conv_id") < "conv-00000007"
        return df.select(
            F.round(F.avg(F.col("text").startswith("{").cast("int")), 2),
            F.round(F.avg((F.col("role") == "user").cast("int")), 2),
            F.round(F.avg(hot.cast("int")), 2),
        ).first()

    assert mix(a) == mix(b)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_every_metric_is_emitted(benches, name):
    bench = benches[name]
    st = bench.measure(0.0, min_runs=1)
    assert st.failed == 0, st.errors
    e2e = run.end_to_end(bench, st, setup_s=1.0)
    assert list(e2e) == [m["name"] for m in BENCHMARK["end_to_end"]]
    assert all(v > 0 for v in e2e.values())

    tracer = probes.Tracer(name, "test")
    metrics, table, _ = bench.trace(tracer)
    assert list(metrics) == [m["name"] for m in BENCHMARK["per_layer"]]
    assert len(table) == len(bench.chain()) and table[0][0] == "scan"
    assert {s["name"] for s in tracer.spans} >= {"round", "prefix:sources", "full:observed"}
    assert all(s["end"] >= s["start"] for s in tracer.spans)
    assert bench.check() == []


def test_plan_guard_catches_a_pruned_operator(benches):
    bench = benches["json_checkpoint"]
    mark = bench.status.mark()
    # the counting shape that lets Catalyst drop the UDF entirely
    bench.plan(bench.read(), bench.wl.spec(1, router=False)).groupBy("role").count().collect()
    with pytest.raises(harness.PlanGuardError):
        bench.guard(bench.status.since(mark)["nodes"])


@pytest.mark.parametrize(
    "name, column, value",
    [
        ("spine_regex", "status", "999"),
        ("json_checkpoint", "msg", "turn-x"),
        ("json_checkpoint", "seq", -1),
    ],
)
def test_perturbed_result_is_caught(benches, name, column, value):
    bench = benches[name]
    out = bench.output()
    assert bench.check(out) == []
    one = out.select(F.min("turn_idx")).first()[0]
    changed = out.withColumn(
        column,
        F.when(F.col("turn_idx") == one, F.lit(value).cast(out.schema[column].dataType))
        .otherwise(F.col(column)),
    )
    assert bench.check(changed)
    assert bench.check(out.filter(F.col("turn_idx") != one))


def test_cli_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "spine_regex", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
