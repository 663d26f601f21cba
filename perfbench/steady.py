#!/usr/bin/env python3
"""Steadiness check: the evidence for the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --first-seed 1
    python3 perfbench/steady.py --counts --first-seed 3

The default mode runs each workload ``--runs`` times, each with its own
seed, and prints for every end-to-end metric its median, its spread (the
distance between the first and third quartile of the runs, as a share of
the median) and the metric's bound, plus the share of failed operations
and the wall time the runs took.
Each spread other than ``setup_s``'s has to stay within its bound; the
target is a third of it.

``--counts`` instead makes two traced runs with the same seed per workload
and prints every Spark count that differs between them (job, stage and
task counts, input and shuffle bytes); it prints nothing else when they
all repeat exactly.
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
ROOT = os.path.dirname(HERE)
COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.input_bytes",
          "spark.shuffle_write_bytes", "spark.shuffle_read_bytes")


def one_run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit code {proc.returncode}")
    for line in proc.stderr.splitlines():  # the run's phase summary
        if line.startswith(f"{workload}:"):
            print(f"  seed {seed}: {line[len(workload) + 2:]}", flush=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--counts", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for name in [w["name"] for w in bench["workloads"]]:
        if a.counts:
            r1, r2 = (one_run(bench, name, a.first_seed, 1) for _ in range(2))
            for k in COUNTS:
                v1, v2 = r1["metrics"][k]["value"], r2["metrics"][k]["value"]
                print(f"{name} {k}: {v1} vs {v2}" if v1 != v2 else f"{name} {k}: {v1} (same)")
            continue
        t0 = time.perf_counter()
        runs = [one_run(bench, name, a.first_seed + i, 0) for i in range(a.runs)]
        fails = {r["failed"] / r["attempted"] for r in runs}
        print(f"{name}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}, "
              f"{(time.perf_counter() - t0) / a.runs:.0f} s a run, "
              f"failed share {sorted(fails)}, correct {all(r['correct'] for r in runs)}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            print(f"  {m['name']:14s} median {statistics.median(vals):10.4f} {m['unit']:3s} "
                  f"spread {spread(vals):6.3f}  bound {m['bound']:.2f}  "
                  f"(third of bound {m['bound'] / 3:.3f})")
            print(f"    values {' '.join(f'{v:.4g}' for v in vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
