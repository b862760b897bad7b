"""Measurement probes: /proc process-tree CPU and RSS, Spark's status
stores, and in-memory spans.

Nothing here changes what the program computes. CPU and memory are read
from ``/proc`` for the Spark JVM and every process below it (the Python
worker daemon and its workers). Engine metrics are read after an action
from the SQL status store (plan graph + formatted SQL metrics) and the
core status store (per-stage task metrics, raw numbers).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """Command name and the fields after it (field 3 on) of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we listed it
        return None
    close = raw.rindex(")")
    return raw[raw.index("(") + 1 : close], raw[close + 2 :].split()


def process_tree(root: int) -> list[int]:
    """*root* and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1][1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
    return total / _CLK


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of *root* and the Python processes below it.

    Short-lived helpers the JVM spawns (``chmod`` and the like) are left
    out: while one is being spawned it shares the JVM's pages, and
    counting it would add the whole JVM a second time."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None and (pid == root or st[0].startswith("python")):
            total += int(st[1][21]) * _PAGE
    return total


def host_ticks() -> tuple[int, int]:
    """Steal and total CPU ticks of the whole host since boot, from
    ``/proc/stat``: time a hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class RssSampler:
    """Background sampler of the tree's summed RSS; ``peak`` is the
    largest sample taken while the ``with`` block ran."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark status stores ------------------------------------------------------

_DUR_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_SUMMED = {"sum", "size", "timing", "nsTiming"}  # metric types whose total is meaningful


def metric_total(text: str, kind: str) -> float:
    """The total of a formatted SQL metric, in seconds, bytes or a count.

    Spark formats multi-task metrics as ``total (min, med, max ...)\\n<total>
    (...)`` and single values bare; only the total is taken."""
    line = text.split("\n")[-1]
    if kind == "sum":
        return float(line.split()[0].replace(",", ""))
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        raise ValueError(f"unparsed {kind} metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    units = _DUR_UNITS if kind in ("timing", "nsTiming") else _SIZE_UNITS
    return num * units[m.group(2)]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Reads what Spark recorded about the SQL executions of an action."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc.statusStore()

    def mark(self) -> int:
        """The newest execution id so far (-1 before the first)."""
        n = self.sql_store.executionsList().size()
        return -1 if n == 0 else self.sql_store.executionsList().apply(n - 1).executionId()

    def since(self, mark: int) -> dict:
        """Summary of every SQL execution started after *mark*."""
        self.sc.listenerBus().waitUntilEmpty(60_000)
        listed = self.sql_store.executionsList()  # ascending execution ids
        ids = []
        for i in range(listed.size() - 1, -1, -1):
            eid = listed.apply(i).executionId()
            if eid <= mark:
                break
            ids.append(eid)
        execs = [self._finished(eid) for eid in reversed(ids)]
        nodes: list[tuple[str, str]] = []
        sql: dict[str, float] = {}
        stage_ids: set[int] = set()
        duration = 0.0
        codegen = 0.0
        for e in execs:
            values = {t._1(): t._2() for t in _seq(e.metricValues().toList())}
            graph = self.sql_store.planGraph(e.executionId())
            all_nodes = _seq(graph.allNodes())
            for node in all_nodes:
                nodes.append((node.name(), node.desc()))
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is None or m.metricType() not in _SUMMED:
                        continue
                    key = f"{node.name().split(' ')[0]}/{m.name()}"
                    sql[key] = sql.get(key, 0.0) + metric_total(v, m.metricType())
            codegen += self._codegen_s(graph, all_nodes, values)
            stage_ids |= set(_seq(e.stages().toList()))
            if e.completionTime().isDefined():
                duration += (e.completionTime().get().getTime() - e.submissionTime()) / 1e3
        stages = [self.app_store.lastStageAttempt(s) for s in sorted(stage_ids)]
        return {
            "nodes": nodes,
            "duration_s": duration,
            "codegen_s": codegen,
            "sql": sql,
            "output_bytes": sum(s.outputBytes() for s in stages),
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "shuffle_records": sum(s.shuffleWriteRecords() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages),
            "peak_memory_bytes": max((s.peakExecutionMemory() for s in stages), default=0),
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "task_skew": self._skew(stages),
        }

    @staticmethod
    def _codegen_s(graph, all_nodes, values) -> float:
        """Summed duration of the whole-stage-codegen pipelines that neither
        feed nor consume a Python evaluation node. Such a pipeline's
        duration is mostly the wait on the Python worker, which
        ``time to run Python workers`` already counts."""
        python = {
            n.id() for n in all_nodes
            if any(m.name() == "time to run Python workers" for m in _seq(n.metrics()))
        }
        near = set()
        for edge in _seq(graph.edges()):
            if edge.fromId() in python:
                near.add(edge.toId())
            if edge.toId() in python:
                near.add(edge.fromId())
        total = 0.0
        for n in all_nodes:
            if not n.name().startswith("WholeStageCodegen"):
                continue
            if any(member.id() in near for member in _seq(n.nodes())):
                continue
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "duration" and v is not None:
                    total += metric_total(v, m.metricType())
        return total

    def _finished(self, eid: int, timeout_s: float = 60.0):
        """The execution once its metrics are aggregated: Spark does that
        asynchronously after the execution-end event."""
        deadline = time.monotonic() + timeout_s
        while True:
            e = self.sql_store.execution(eid)
            if e.isDefined() and e.get().metricValues() is not None:
                return e.get()
            if time.monotonic() > deadline:
                raise TimeoutError(f"SQL execution {eid} has no metrics after {timeout_s}s")
            time.sleep(0.01)

    def _skew(self, stages) -> float:
        """max ÷ median task run time in the stage that ran longest."""
        if not stages:
            return 0.0
        slow = max(stages, key=lambda s: s.executorRunTime())
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self.app_store.taskSummary(slow.stageId(), slow.attemptId(), q)
        if not dist.isDefined():
            return 0.0
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 0.0


def has_operator(nodes: list[tuple[str, str]], name: str, text: str) -> bool:
    return any(n == name and text in d for n, d in nodes)


# -- spans --------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out once, at exit."""

    def __init__(self, workload: str, run_id: str):
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
