#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload serve_sf0.02 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

A run is one Python process with one closed-loop client: one operation at
a time, the next one started when the previous one returns. It

1. makes the workload's inputs from ``--seed`` under a fresh work
   directory in the checkout (``.perfbench_work/``);
2. sets up once: the JVM and a session on ``local[2]`` with fresh stage,
   warehouse and local directories, the workload's own set-up (the query
   registry and first-touch staging, or opening the batch inputs), and its
   warm-up (``serve_sf0.02``: the first call of every operation, collected;
   ``procog_etl``: none, its pass is timed cold). ``setup_s`` runs from
   process start to the end of the warm-up, less input generation;
3. runs whole passes over the mix until ``--seconds`` have gone by;
4. checks the outputs, outside the timed region. An operation whose
   output is wrong counts as failed in every attempt.

``--trace 1`` also records spans and each operation's Spark counters,
reports the per-layer metrics instead of the end-to-end ones, and writes
the spans and counters to ``.perfbench_traces/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "2"
WORKLOAD_NAMES = ("serve_sf0.02", "procog_etl")


def isolate(work: str) -> None:
    """Fixed core count, fresh stage, warehouse, local and temp directories
    inside the checkout, and the repo root as working directory: Python
    workers import the package from there."""
    os.chdir(ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(tmp)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # no inherited site overrides
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_STAGE_DIR=os.path.join(work, "stage"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_CONF=(
            "spark.ui.showConsoleProgress=false;"
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        ),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def stop_jvm() -> None:
    """Stop the session, then the JVM, and wait for it to exit (the Python
    workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from measure import (Tracer, dir_bytes, group_counters, heap_after_gc_mb,
                         planning_s, sql_executions, steal_s, storage_rdds,
                         tree_cpu_s)
    from checks import StandingFault
    from workloads import WORKLOADS

    tr = Tracer(trace)
    wl = WORKLOADS[name](work)
    g0 = time.perf_counter()
    wl.generate(seed)
    gen_s = time.perf_counter() - g0

    from procoggraph_spark.session import apply_adaptive_policy, get_spark

    with tr.span("session.start"):
        spark = get_spark("perfbench")
        apply_adaptive_policy(spark, wl.input_dir)
    wl.stage(spark, tr)
    with tr.span("session.warmup") as warm:
        wl.warm_up(tr)
    setup_s = time.perf_counter() - T_START - gen_s
    sc = spark.sparkContext

    ops = wl.ops()
    calls = []  # (pass, op, seconds) of every timed call
    pass_s, pass_cpu, failed = [], [], {}
    heap = rdds = 0.0
    t_meas = time.perf_counter()
    p = 0
    steal = []
    while True:
        st0 = steal_s()
        cpu0, p0 = tree_cpu_s(), time.perf_counter()
        tr.tags = {"pass": p}
        with tr.span("pass"):
            for i, (n, fn) in enumerate(ops):
                tr.tags = {"pass": p, "op": n}
                group = f"{n}#{p}.{i}"
                sc.setJobGroup(group, group)
                ex0 = sql_executions(spark) if trace else 0
                o0 = time.perf_counter()
                df = None
                with tr.span("op", op=n):
                    try:
                        df = fn(tr)
                    except Exception as e:  # counted, reported, and the pass goes on
                        failed[n] = failed.get(n, 0) + 1
                        print(f"{n} failed: {str(e).splitlines()[0][:300]}", file=sys.stderr)
                calls.append((p, n, time.perf_counter() - o0))
                if trace:
                    c = group_counters(spark, group, ex0)
                    c["planning_s"] = planning_s(df) if df is not None else 0.0
                    tr.counters.append({"pass": p, "op": n, **c})
        pass_s.append(time.perf_counter() - p0)
        pass_cpu.append(tree_cpu_s() - cpu0)
        steal.append(steal_s() - st0)
        if trace:
            heap, rdds = heap_after_gc_mb(spark), storage_rdds(spark)
        p += 1
        if time.perf_counter() - t_meas >= seconds:
            break
    op_s = {n: [s for _, m, s in calls if m == n] for n, _ in ops}
    sc.setJobGroup("check", "check")

    c0 = time.perf_counter()
    try:
        reasons = wl.check()
    except Exception as e:
        reasons = {n: f"check raised {e!r}"[:300] for n, _ in ops}
    print(f"{name}: generate {gen_s:.1f} s, set-up {setup_s:.1f} s "
          f"(warm-up {warm['end'] - warm['start']:.1f} s), passes "
          f"{' '.join(f'{s:.1f}' for s in pass_s)} s, checks {time.perf_counter() - c0:.1f} s; "
          f"CPU {' '.join(f'{s:.1f}' for s in pass_cpu)} s, host steal "
          f"{' '.join(f'{s:.1f}' for s in steal)} s; "
          f"op medians {' '.join(f'{n}={median(v):.2f}' for n, v in op_s.items())}",
          file=sys.stderr)
    for n, why in reasons.items():
        if why is not None:
            print(f"{n} wrong: {why}", file=sys.stderr)
            failed[n] = len(op_s[n])
    correct = all(why is None or isinstance(why, StandingFault) for why in reasons.values())

    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (median(pass_s), "s"),
            "op_geomean_s": (math.exp(statistics.fmean(
                math.log(max(median(v), 1e-9)) for v in op_s.values())), "s"),
            "pass_cpu_s": (median(pass_cpu), "s"),
        }
    else:
        metrics = layer_metrics(tr, p, calls, wl.graph_ops)
        metrics.update({
            "session.warmup_s": (warm["end"] - warm["start"], "s"),
            "session.heap_after_gc_mb": (heap, "MB"),
            "session.storage_rdds": (rdds, "count"),
            "queries.common.stage_bytes": (dir_bytes(os.environ["SPARK_GRAFT_STAGE_DIR"])
                                           + dir_bytes(os.environ["SPARK_GRAFT_WAREHOUSE"]),
                                           "bytes"),
            "sources.export_bytes": (dir_bytes(os.path.join(work, "procog_out", "tsv")),
                                     "bytes"),
            "inputs.generate_s": (gen_s, "s"),
        })
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".perfbench_traces", f"{name}-seed{seed}.json"))
    return {
        "correct": correct,
        "attempted": len(calls),
        "failed": sum(failed.values()),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(tr, passes: int, calls: list, graph: list) -> dict:
    """Per-layer figures: set-up spans as measured, pass figures as medians
    over passes of per-pass sums."""
    def setup_span(name):
        return sum(s["end"] - s["start"] for s in tr.spans if s["name"] == name)

    def per_pass(fn):
        return median([fn(p) for p in range(passes)])

    def counter(key, ops=None):
        return per_pass(lambda p: sum(c[key] for c in tr.counters
                                      if c["pass"] == p and (ops is None or c["op"] in ops)))

    def op_median(n):
        return median([s for _, m, s in calls if m == n])

    out = {
        "session.start_s": (setup_span("session.start"), "s"),
        "queries.registry_s": (setup_span("queries.registry"), "s"),
        "queries.common.stage_s": (setup_span("queries.common.stage"), "s"),
        "queries.build_s": (per_pass(lambda p: sum(
            s["end"] - s["start"] for s in tr.spans
            if s["name"] == "queries.build" and s.get("pass") == p)), "s"),
        "spark.planning_s": (counter("planning_s"), "s"),
        "graph.jobs_per_op": (counter("jobs", graph)
                              / sum(1 for q, m, _ in calls if q == 0 and m in graph), "count"),
        "graph.shuffle_bytes": (counter("shuffle_write_bytes", graph), "bytes"),
        "graph.queries_s": (per_pass(lambda p: sum(s for q, m, s in calls
                                                   if q == p and m in graph)), "s"),
        "pipeline.contacts_s": (op_median("contacts"), "s"),
        "pipeline.build_graph_s": (op_median("build_graph"), "s"),
        "sources.export_s": (op_median("export"), "s"),
    }
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                      ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes")):
        out[f"spark.{key}"] = (counter(key), unit)
    for key, unit in (("python_total_s", "s"), ("python_boot_s", "s"),
                      ("python_sent_bytes", "bytes"), ("python_rows_received", "count")):
        out[f"operators.{key}"] = (counter(key), unit)
    return out


def run_all(a) -> int:
    """Each workload in its own process, in sequence; one summary line each,
    then one JSON object keyed by workload."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"{name}: exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results[name] = res
        shown = ", ".join(f"{k}={m['value']:.4g} {m['unit']}" for k, m in res["metrics"].items())
        print(f"{name}: attempted={res['attempted']} failed={res['failed']} "
              f"correct={res['correct']} {shown}")
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return run_all(a)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    try:
        isolate(work)
        result = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
