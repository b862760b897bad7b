#!/usr/bin/env python3
"""Benchmark of the parse → enrich → route → write spine.

Run from the repository root::

    python3 perfbench/run.py --workload spine_regex --seed 1 --seconds 10 --trace 0

One process, one ``local[nproc]`` Spark JVM. ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the traced
variant and prints the per-layer metrics instead, plus the spine prefix
table, and writes the spans. Either way the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the same values
and the spans land in ``.perfbench/`` at the repository root.

Order of one invocation:

1. the session is started with ``get_spark``, which launches the JVM;
2. the seeded input is generated and written;
3. the dimension table and the workload's warm-up full runs;
4. timed full runs for ``--seconds`` (or the traced run);
5. one correctness check against DuckDB.

``setup_s`` is the time from process start to the first timed run, less
step 2, which belongs to the load generator: interpreter start and
imports, the session, the dimension table and the warm-up runs. It is one
sample per invocation, because only the first set-up in a JVM is cold,
and that cold start is what a user waits for. Each workload warms up
for as many runs as its runs kept getting faster (``Workload.warmups``).

The JVM runs with ``get_spark``'s own settings, driver memory included.
The benchmark adds where Spark and the JVM keep temporary files and the
heap's starting size (``INITIAL_HEAP``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

from loongcollector_spark.session import get_spark  # noqa: E402

import harness  # noqa: E402
import loadgen  # noqa: E402
import probes  # noqa: E402
from workloads import CONTRACT, WORKLOADS  # noqa: E402

METRICS = {m["name"]: m for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]}

# the heap's starting size; the maximum stays get_spark's. Left to grow
# from the JVM's default start, the heap's size at the peak depended on
# when the collector chose to grow it, and peak_rss_mb varied by ~40%
# between invocations on a 4-core host
INITIAL_HEAP = "2g"
FILES_PER_CORE = 4  # input parquet files per core


def since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(nproc: int):
    """A ``local[nproc]`` session from ``get_spark``, whose JVM, Python
    workers and temporary files all stay inside the checkout."""
    os.makedirs(TMP, exist_ok=True)
    tempfile.tempdir = TMP
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return get_spark(
        "perfbench",
        cores=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{INITIAL_HEAP} -Djava.io.tmpdir={TMP}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.hadoop.hadoop.tmp.dir": TMP,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid() -> int:
    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
            raise


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(bench: harness.Bench, st: harness.RunStats, setup_s: float) -> dict:
    return {
        "turns_per_s": bench.n_turns / statistics.median(st.walls),
        "setup_s": setup_s,
        "cpu_s_per_mturn": statistics.median(st.cpus) / bench.n_turns * 1e6,
        "peak_rss_mb": st.peak_rss / 2**20,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    pre_s = since_process_start()
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    n_turns = wl.turns_per_core * nproc
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)

    spark = None
    tracer = probes.Tracer(wl.name, run_id)
    try:
        t0 = time.perf_counter()
        spark = start_spark(nproc)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        path = loadgen.write_input(
            spark, run_dir, wl.input_kind, n_turns, args.seed, FILES_PER_CORE * nproc
        )
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        bench = harness.Bench(spark, wl, path, n_turns, run_dir, jvm_pid())
        warmups = [bench.full() for _ in range(wl.warmups)]
        dims_s = time.perf_counter() - t0 - sum(warmups)
        setup_s = since_process_start() - gen_s  # the load generator is not set-up

        if args.trace:
            with tracer.span("trace"):
                metrics, table, st = bench.trace(tracer)
        else:
            st = bench.measure(args.seconds)
            metrics = end_to_end(bench, st, setup_s)
            table = None

        t_check = time.perf_counter()
        st.attempted += 1
        try:
            mismatches = bench.check()
        except Exception as e:  # an oracle that cannot run is a failed check
            mismatches = [f"{type(e).__name__}: {e}"]
        if mismatches:
            st.failed += 1
            st.errors += mismatches
        check_s = time.perf_counter() - t_check
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if tracer.spans:
            tracer.write(os.path.join(WORK, f"spans-{run_id}.json"))

    failed_ratio = st.failed / st.attempted
    print(f"# {wl.name} seed={args.seed} nproc={nproc} turns={n_turns} "
          f"timed_runs={len(st.walls)} attempted={st.attempted} failed={st.failed}")
    print(f"# setup {setup_s:.3f} s: process={pre_s:.3f} s, session start={start_s:.3f} s, "
          f"dims={dims_s:.3f} s, warm-up runs={', '.join(f'{x:.3f}' for x in warmups)} s; "
          f"not set-up: input generation={gen_s:.3f} s, check={check_s:.3f} s")
    print(f"# run walls (s): {', '.join(f'{w:.3f}' for w in st.walls)}")
    if len(st.walls) > 20:  # a tail percentile needs ten runs beyond it
        n = len(st.walls)
        print(f"# p{100 * (1 - 10 / n):.0f} run wall: {sorted(st.walls)[n - 11]:.3f} s")
    if st.cpus:
        print(f"# run CPU (s): {', '.join(f'{c:.2f}' for c in st.cpus)}; "
              f"host CPU steal: {st.steal_share:.1%}")
    for err in st.errors[:20]:
        print(f"# error: {err}")
    if table:
        print(f"# spine prefixes, median of {harness.TRACE_REPS} runs each:")
        prev = None
        for label, wall in table:
            step = "" if prev is None else f" ({wall - prev:+.3f})"
            print(f"#   {label if prev is None else '+ ' + label:<18} {wall:8.3f} s{step}")
            prev = wall
    for k, v in metrics.items():
        print(f"{k:<34} {v:>16.6g} {METRICS[k]['unit']:<8} {METRICS[k]['better']}")
    if not args.trace:
        print(f"{'failed_ratio':<34} {failed_ratio:>16.6g} {'ratio':<8} lower")
    result = {
        "correct": not st.errors,
        "attempted": st.attempted,
        "failed": st.failed,
        "metrics": {k: {"value": v, "unit": METRICS[k]["unit"]} for k, v in metrics.items()},
    }
    with open(os.path.join(WORK, f"result-{run_id}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"# invocation wall: {since_process_start():.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
