#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady it is.

    python3 perfbench/stability.py --seeds 1-10 [--workloads batch,rx_stream]

For every workload and end-to-end metric this prints the median, the
interquartile range as a share of the median (``statistics.quantiles``,
n=4) and the metric's bound from ``BENCHMARK.json``.  It also answers the
question "is CPU time steadier than wall time?": it reports the spread of
wall seconds, host busy CPU seconds, the benchmark process tree's CPU
seconds and Spark's executor CPU seconds (batch workloads only), from run
to run (summed over the measured passes) and from pass to pass inside a
run (the median over runs).

Run it from the repository root.  It only reads what ``run.py`` prints.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """The detail line and the result line of one run, with the run's wall
    time added to the detail."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=True, timeout=180,
    ).stdout.strip().splitlines()
    detail = json.loads(out[-2])
    detail["run_wall_s"] = time.perf_counter() - t0
    return detail, json.loads(out[-1])


TIMES = ("wall_s", "host_cpu_s", "tree_cpu_s", "executor_cpu_s")


def measured(detail: dict) -> list[dict]:
    """The measured passes (for rx_stream, the whole timed drain)."""
    return [
        p for p in detail["passes"] if "host_cpu_s" in p
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]
    ]
    for w in names:
        runs = [one_run(w, s, spec["run_seconds"]) for s in seeds(args.seeds)]
        metrics = {}
        for m in spec["end_to_end"]:
            vals = [r[1]["metrics"][m["name"]]["value"] for r in runs]
            metrics[m["name"]] = {
                "median": statistics.median(vals),
                "spread": spread(vals),
                "bound": m["bound"],
            }
        per_run = [measured(r[0]) for r in runs]
        summary = {
            "metrics": metrics,
            "failed": sum(r[1]["failed"] for r in runs),
            "run_wall_s": [round(r[0]["run_wall_s"], 1) for r in runs],
            # run to run: each time summed over the run's measured passes
            "run_to_run_spread": {
                t: spread([sum(p.get(t, 0) for p in ps) for ps in per_run])
                for t in TIMES
            },
            # pass to pass: median over runs of the spread inside a run
            "pass_to_pass_spread": {
                t: statistics.median(
                    spread([p[t] for p in ps]) for ps in per_run if len(ps) > 1
                ) if any(len(ps) > 1 for ps in per_run) else None
                for t in TIMES
            },
        }
        print(json.dumps({w: summary}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
