"""One workload against one Spark session: timed runs, traced runs and
the correctness check.

The package is driven only through its public functions: ``Pipeline``
(processors + router), ``sources.sinks.write_blackhole`` and
``plans.checkpoint.run_with_checkpoint``. Every run builds a fresh plan
from the input parquet and fully materialises it: the blackhole sink is
Spark's ``noop`` write, the checkpoint sink writes parquet. No timed run
calls ``.count()``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from loongcollector_spark.config import load_dims
from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.plans.checkpoint import CheckpointedRun, run_with_checkpoint
from loongcollector_spark.sources.sinks import write_blackhole

import oracle
import probes
from workloads import CONTRACT, LAYER_OF, ROLE_DIM, ROUTER, SINKS, Workload

N_UNITS = 8  # run_with_checkpoint work units
TRACE_REPS = 3  # timed rounds over the spine prefixes in a traced run

# The per-layer metrics a traced run reports are BENCHMARK.json's
# ``per_layer`` list. The end-to-end metric each should move, and on
# which workload:
# - sources.*: none; flat everywhere, the base of the prefix differences
# - operators.parse.*: turns_per_s on both (the native regex on
#   spine_regex, the Python UDF on json_checkpoint)
# - operators.enrich/filter/route.*: small shares, a regression guard
# - operators.aggregate.self_s, sinks.*, plans.checkpoint.*: turns_per_s
#   and peak_rss_mb on json_checkpoint; zero on spine_regex
# - pipeline.plan_s: setup_s and turns_per_s on both
# - spark.python.*: turns_per_s and cpu_s_per_mturn on json_checkpoint
# - spark.exchange.*, spark.spill_bytes, spark.task_skew: turns_per_s on
#   json_checkpoint
# - spark.gc_s, spark.peak_memory_bytes: peak_rss_mb


def write_dims(root: str) -> str:
    """Write the dimension table as parquet, the way a production job
    gets its dimensions, and return the ``{name: path}`` file that
    ``config.load_dims`` reads."""
    os.makedirs(root, exist_ok=True)
    table = os.path.join(root, "role_dim.parquet")
    role, role_class, priority = zip(*ROLE_DIM)
    pq.write_table(pa.table({
        "role": pa.array(role, pa.string()),
        "role_class": pa.array(role_class, pa.string()),
        "priority": pa.array(priority, pa.int32()),
    }), table)
    mapping = os.path.join(root, "dims.json")
    with open(mapping, "w") as fh:
        json.dump({"role_dim": table}, fh)
    return mapping


class PlanGuardError(AssertionError):
    """A timed run's executed plan lost the operator its workload stresses."""


@dataclass
class RunStats:
    """What the timed runs of one invocation measured."""

    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)  # CPU seconds per run
    peak_rss: int = 0
    steal_share: float = 0.0  # host CPU time stolen while the runs went
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class Bench:
    def __init__(
        self,
        spark: SparkSession,
        wl: Workload,
        input_path: str,
        n_turns: int,
        work_dir: str,
        jvm_pid: int,
    ):
        self.spark = spark
        self.wl = wl
        self.input_path = input_path
        self.n_turns = n_turns
        self.work_dir = work_dir
        self.jvm_pid = jvm_pid
        self.dims = load_dims(spark, write_dims(os.path.join(work_dir, "dims")))
        self.status = probes.StatusReader(spark)
        self._runs = 0
        self.plan_s: list[float] = []
        self.last_out: str | None = None
        self.last_ckpt: tuple[str, str] | None = None
        self.ckpt_call_s = 0.0

    # -- building blocks ------------------------------------------------------

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.input_path)

    def plan(self, df: DataFrame, spec: dict) -> DataFrame:
        t0 = time.perf_counter()
        out = Pipeline(spec, self.dims).run(df)
        self.plan_s.append(time.perf_counter() - t0)
        return out

    def _ckpt_dirs(self) -> tuple[str, str, str]:
        self._runs += 1
        base = os.path.join(self.work_dir, f"ckpt{self._runs}")
        return os.path.join(base, "out"), os.path.join(base, "lineage"), f"run{self._runs}"

    def _drop_last_ckpt(self) -> None:
        if self.last_out is not None:
            shutil.rmtree(os.path.dirname(self.last_out), ignore_errors=True)
            self.last_out = self.last_ckpt = None

    def full(self, transform=None, source=None) -> float:
        """One full run through the workload's sink; returns its wall
        seconds, which cover reading the input, building the plan and
        writing. *transform* replaces ``Pipeline(spec).run`` and
        *source* the input read (the traced run passes observed ones)."""
        transform = transform or (lambda d: self.plan(d, self.wl.spec()))
        source = source or self.read
        if self.wl.sink == "blackhole":
            t0 = time.perf_counter()
            write_blackhole(transform(source()))
            return time.perf_counter() - t0
        self._drop_last_ckpt()
        out_dir, lineage_dir, job_id = self._ckpt_dirs()
        t0 = time.perf_counter()
        df = source()
        t1 = time.perf_counter()
        run_with_checkpoint(
            self.spark, df, transform, out_dir=out_dir, lineage_dir=lineage_dir,
            job_id=job_id, n_units=N_UNITS,
        )
        t2 = time.perf_counter()
        self.last_out, self.last_ckpt = out_dir, (lineage_dir, job_id)
        self.ckpt_call_s = t2 - t1
        return t2 - t0

    def guard(self, nodes: list[tuple[str, str]]) -> None:
        for name, text in self.wl.stress:
            if not probes.has_operator(nodes, name, text):
                raise PlanGuardError(
                    f"{self.wl.name}: executed plan has no {name}"
                    + (f" with {text}" if text else "")
                )

    # -- timed runs -----------------------------------------------------------

    def measure(self, seconds: float, min_runs: int = 3) -> RunStats:
        """Full runs until *seconds* have passed (at least *min_runs*);
        each run's executed plan is checked after its clock stops."""
        st = RunStats()
        deadline = time.perf_counter() + seconds
        steal0, total0 = probes.host_ticks()
        with probes.RssSampler(self.jvm_pid) as rss:
            while time.perf_counter() < deadline or len(st.walls) < min_runs:
                st.attempted += 1
                mark = self.status.mark()
                c0 = probes.tree_cpu_s(self.jvm_pid)
                try:
                    wall = self.full()
                    c1 = probes.tree_cpu_s(self.jvm_pid)
                    self.guard(self.status.since(mark)["nodes"])
                except Exception as e:  # a failed run counts; the loop goes on
                    st.failed += 1
                    st.errors.append(f"{type(e).__name__}: {e}")
                    if st.failed > 3:  # a workload that keeps failing ends early
                        break
                    continue
                st.walls.append(wall)
                st.cpus.append(c1 - c0)
        st.peak_rss = rss.peak
        steal1, total1 = probes.host_ticks()
        st.steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        return st

    # -- correctness ----------------------------------------------------------

    def output(self) -> DataFrame:
        """The program's output rows: the re-read checkpoint output of
        the last run, or the pipeline's routed frame for the blackhole."""
        if self.wl.sink == "checkpoint":
            if self.last_out is None:
                self.full()
            return self.spark.read.parquet(self.last_out).drop("__lc_unit")
        return self.plan(self.read(), self.wl.spec())

    def check(self, out: DataFrame | None = None) -> list[str]:
        """Mismatches between the program's per-sink aggregates and
        DuckDB's over the same input; empty when correct."""
        out = self.output() if out is None else out
        with ThreadPoolExecutor(1) as pool:  # DuckDB runs while Spark aggregates
            want = pool.submit(
                oracle.duckdb_aggregates, self.input_path, self.wl.oracle_sql, out.schema,
                self.wl.numeric, self.spark.sparkContext.defaultParallelism,
            )
            got = oracle.spark_aggregates(out, self.wl.numeric)
            return oracle.compare(got, want.result())

    # -- traced run -----------------------------------------------------------

    def chain(self) -> list[tuple[str, int | None]]:
        """Spine prefixes as (layer, processors kept): the scan, each
        processor, the router, then the sink when it is a real write."""
        steps: list[tuple[str, int | None]] = [("sources", None)]
        steps += [(LAYER_OF[p["type"]], k + 1) for k, p in enumerate(self.wl.processors)]
        steps.append(("operators.route", len(self.wl.processors)))
        if self.wl.sink != "blackhole":
            steps.append(("sinks", None))
        return steps

    def _prefix(self, layer: str, n_procs: int | None) -> float:
        """Wall seconds of one noop-materialised spine prefix, timed like
        ``full``: input read, plan build and write."""
        if layer == "sinks" or (layer == "operators.route" and self.wl.sink == "blackhole"):
            return self.full()
        t0 = time.perf_counter()
        df = self.read()
        if layer != "sources":
            spec = self.wl.spec(n_procs, router=layer == "operators.route")
            df = Pipeline(spec, self.dims).run(df)
        write_blackhole(df)
        return time.perf_counter() - t0

    def _observed(self, counts: dict[str, Observation]):
        """Transform equal to ``Pipeline(spec).run`` built processor by
        processor, with an Observation after each layer."""

        def transform(df: DataFrame) -> DataFrame:
            for p in self.wl.processors:
                layer = LAYER_OF[p["type"]]
                df = Pipeline({"processors": [p]}, self.dims).run(df)
                extra = self.wl.observe.get(layer, {})
                counts[layer] = Observation()
                df = df.observe(
                    counts[layer], F.count(F.lit(1)).alias("rows"),
                    *[F.expr(e).alias(n) for n, e in extra.items()],
                )
            df = Pipeline({"router": ROUTER}).run(df)
            counts["operators.route"] = Observation()
            return df.observe(
                counts["operators.route"], F.count(F.lit(1)).alias("rows"),
                *[F.count_if(F.col("sink") == s).alias(s) for s in SINKS],
            )

        return transform

    def trace(self, tracer: probes.Tracer) -> tuple[dict[str, float], list[tuple[str, float]], RunStats]:
        """Per-layer metrics, the prefix table, and the stats of the full
        runs the trace made."""
        st = RunStats()
        walls: dict[str, list[float]] = {}
        full_stats: list[dict] = []
        commit: list[float] = []
        chain = self.chain()
        last = chain[-1][0]
        traced: list[float] = []
        counts: dict[str, Observation] = {}
        with tracer.span("warm"):  # compiles each prefix's plan before any is timed
            for layer, n in chain:
                self._prefix(layer, n)
        # rounds visit every prefix once, so the JIT warming that goes on
        # over the trace favours no layer
        for rep in range(TRACE_REPS):
            with tracer.span("round", rep=rep):
                for layer, n in chain:
                    with tracer.span(f"prefix:{layer}"):
                        mark = self.status.mark()
                        st.attempted += layer == last
                        wall = self._prefix(layer, n)
                        stats = self.status.since(mark)
                    walls.setdefault(layer, []).append(wall)
                    if layer == last:
                        self.guard(stats["nodes"])
                        full_stats.append(stats)
                        if self.wl.sink == "checkpoint":
                            # the call's time outside its write job and plan build:
                            # unit cleanup, lineage commit, output listing
                            commit.append(
                                self.ckpt_call_s - stats["duration_s"] - self.plan_s[-1]
                            )
                        st.walls.append(wall)
                with tracer.span("full:observed"):
                    counts = {"sources": Observation()}

                    def source():
                        return self.read().observe(
                            counts["sources"], F.count(F.lit(1)).alias("rows")
                        )

                    st.attempted += 1
                    mark = self.status.mark()
                    traced.append(self.full(self._observed(counts), source))
                    self.guard(self.status.since(mark)["nodes"])
        seen = {k: o.get for k, o in counts.items()}
        med = {k: probes.median(v) for k, v in walls.items()}
        metrics = self._layer_metrics(chain, med, seen, full_stats, commit)
        untraced = med[last]
        metrics["trace.overhead_pct"] = 100.0 * (probes.median(traced) / untraced - 1.0)
        labels = ["scan"] + [p["type"] for p in self.wl.processors] + ["route", "sink"]
        table = [(label, med[layer]) for label, (layer, _) in zip(labels, chain)]
        return metrics, table, st

    def _layer_metrics(self, chain, med, seen, full_stats, commit) -> dict[str, float]:
        m = {spec["name"]: 0.0 for spec in CONTRACT["per_layer"]}
        prev = None
        for layer, _ in chain:
            if prev is not None:
                key = "sinks.write_s" if layer == "sinks" else f"{layer}.self_s"
                m[key] = med[layer] - med[prev]
            prev = layer
        m["sources.scan_s"] = med["sources"]
        rows_in = seen["sources"]["rows"]
        if "operators.parse" in seen:
            m["operators.parse.rows_matched"] = seen["operators.parse"]["matched"]
            m["operators.parse.match_ratio"] = seen["operators.parse"]["matched"] / rows_in
        if "operators.enrich" in seen:
            m["operators.enrich.rows_missing"] = seen["operators.enrich"]["missing"]
        if "operators.filter" in seen:
            before = rows_in
            for layer, _ in chain:
                if layer == "operators.filter":
                    break
                if layer in seen:
                    before = seen[layer]["rows"]
            m["operators.filter.rows_dropped"] = before - seen["operators.filter"]["rows"]
        for s in SINKS:
            m[f"operators.route.rows.{s}"] = seen["operators.route"][s]
        if self.wl.sink == "checkpoint":
            m["plans.checkpoint.commit_s"] = probes.median(commit)
            lineage_dir, job_id = self.last_ckpt
            m["plans.checkpoint.units_committed"] = len(
                CheckpointedRun(self.spark, lineage_dir, job_id).committed_units()
            )

        def engine(f) -> float:
            return probes.median([f(s) for s in full_stats])

        def sql(suffix: str):
            return lambda s: sum(v for k, v in s["sql"].items() if k.endswith(suffix))

        m["pipeline.plan_s"] = probes.median(self.plan_s)
        m["sources.bytes_read"] = engine(sql("Scan/size of files read"))
        m["sinks.bytes_written"] = engine(lambda s: s["output_bytes"])
        m["sinks.files_written"] = engine(sql("/number of written files"))
        m["spark.codegen_s"] = engine(lambda s: s["codegen_s"])
        m["spark.python.worker_s"] = engine(sql("/time to run Python workers"))
        m["spark.python.bytes_returned"] = engine(sql("/data returned from Python workers"))
        m["spark.exchange.bytes"] = engine(lambda s: s["shuffle_bytes"])
        m["spark.exchange.records"] = engine(lambda s: s["shuffle_records"])
        m["spark.spill_bytes"] = engine(lambda s: s["spill_bytes"])
        m["spark.peak_memory_bytes"] = engine(lambda s: s["peak_memory_bytes"])
        m["spark.gc_s"] = engine(lambda s: s["gc_s"])
        m["spark.task_skew"] = engine(lambda s: s["task_skew"])
        return m
