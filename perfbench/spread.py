#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, one seed per invocation.

Run from the repository root::

    python3 perfbench/spread.py --runs 10 --first-seed 1000 --out perfbench/SPREAD.json

For every workload of BENCHMARK.json it runs ``perfbench/run.py`` once
per seed, one invocation at a time, and records for each end-to-end
metric the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread: the distance between the quartiles as a share of the median,
next to the metric's bound. ``--out`` keeps earlier sets and adds this
one, so two sets of runs of the same code can be compared.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    with open(os.path.join(ROOT, ".perfbench", f"spread-{workload}-s{seed}.log"), "w") as fh:
        fh.write(proc.stdout)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med,
        "bound": bound,
        "values": values,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--out", help="JSON file for the summary")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    sets = []
    if args.out and os.path.exists(args.out):  # each invocation of this script adds one set
        with open(args.out) as fh:
            sets = json.load(fh)["sets"]
    summary: dict = {"seeds": seeds, "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        results = [one_run(w, s, bench["run_seconds"]) for s in seeds]
        bad = [r for r in results if not r["correct"] or r["failed"]]
        summary["workloads"][w] = {
            "failed_ratio": sum(r["failed"] for r in results)
            / sum(r["attempted"] for r in results),
            "incorrect_runs": len(bad),
            "metrics": {
                m: {
                    "unit": spec["unit"],
                    "better": spec["better"],
                    **summarize([r["metrics"][m]["value"] for r in results], spec["bound"]),
                }
                for m, spec in metrics.items()
            },
        }
        for m, s in summary["workloads"][w]["metrics"].items():
            print(f"{w:<16} {m:<16} median {s['median']:>12.5g} {s['unit']:<8} "
                  f"{s['better']:<7} spread {s['spread']:7.2%}  bound {s['bound']:.0%}",
                  flush=True)
    if sets:  # how far each median moved against the previous set, worse > 0
        for w, cur in summary["workloads"].items():
            for m, s in cur["metrics"].items():
                prev = sets[-1]["workloads"].get(w, {}).get("metrics", {}).get(m)
                if prev is None:
                    continue
                shift = s["median"] / prev["median"] - 1.0
                worse = shift if s["better"] == "lower" else -shift
                s["worse_than_previous"] = worse
                print(f"{w:<16} {m:<16} worse than previous set by {worse:+7.2%}"
                      f"  {'within' if worse <= s['bound'] else 'OUTSIDE'} bound")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"sets": sets + [summary]}, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
