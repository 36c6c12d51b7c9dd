"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl-extract --seed 42 --seconds 12 --trace 0

Runs one workload (see ``perfbench/workloads.py``) from this process on
``local[<cores>]``, checks its outputs against the oracles, prints context
lines, and prints as its last line one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the run's spans are written to ``.perfbench_runs/``. Everything the run
writes stays under ``.perfbench_runs/`` in the checkout, and its scratch
directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
# Spark's Python workers import the program too, whatever their directory
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


def burn_reference() -> float:
    """Best-of-3 wall of a fixed pure-Python loop: a thermometer for how
    contended the machine was when the run started."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(3_000_000):
            x += i
        walls.append(time.perf_counter() - t0)
    return min(walls)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_ticks() -> tuple:
    """(stolen, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def end_to_end(setups: list, res) -> dict:
    """The untraced metrics: set-up, the median operation, and the work
    the median operation does per second (documents for crawl-extract and
    rag-ingest, queries for rag-query)."""
    p50 = statistics.median(res.op_walls)
    return {
        "setup_s": statistics.median(setups),
        "op_p50_s": p50,
        "items_per_s": res.items_per_op / p50,
    }


def execute(workload: str, seed: int, seconds: float, trace: bool, n_docs: int | None = None) -> tuple:
    """Run one workload. ``n_docs`` overrides the workload's corpus size
    (the smoke test uses it). -> (result dict for the JSON line, context lines)."""
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import CORES, SETUPS, SIZES, WORKLOADS, start_spark, stop_spark

    os.makedirs(RUNS_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=RUNS_DIR)
    spark = None
    try:
        burn = burn_reference()
        t0 = time.perf_counter()
        wl = WORKLOADS[workload](work, seed, n_docs or SIZES[workload])
        inputs_s = time.perf_counter() - t0
        # set up SETUPS times; the first start launches the JVM, the
        # others restart the session in it; each ends with a warm pass
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_spark(work)
            wl.warm_pass(spark, i)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        steal0 = cpu_ticks()
        res = wl.run(spark, seconds)
        steal1 = cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

        c = wl.corpus
        context = [
            f"workload {workload} seed {seed} cores {CORES} burn_1x_s {burn:.4f}",
            f"corpus: {c.n_docs} docs, {c.payload_mb:.2f} MB payload, kinds {c.kinds};"
            f" inputs {inputs_s:.2f} s, kernel oracle {c.kernel_core_s:.2f} s, Spark-side prep {prepare_s:.2f} s",
            "set-ups (s): " + ", ".join(f"{s:.3f}" for s in setups),
            f"timed ops: {len(res.op_walls)}, walls (s): " + ", ".join(f"{w:.3f}" for w in res.op_walls),
            "CPU seconds: " + ", ".join(f"{w:.2f}" for w in res.op_cpu),
            f"median op: {statistics.median(res.op_cpu):.2f} CPU-seconds,"
            f" {res.items_per_op / statistics.median(res.op_cpu):.3f} items per CPU-second;"
            f" CPU time stolen by the hypervisor while timing: {steal:.1%}",
            *res.notes,
        ]
        if trace:
            tracer = Tracer(spark)
            metrics, more = layers.measure(spark, wl, res, tracer)
            metrics["run.op_cpu_s"] = statistics.median(res.op_cpu)
            metrics["run.steal_share"] = steal
            spans = os.path.join(RUNS_DIR, f"spans-{workload}-seed{seed}.json")
            tracer.dump(spans)
            context += more + [f"spans: {spans}"]
        else:
            metrics = end_to_end(setups, res)
        result = {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }
        return result, context
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="must equal BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
    if args.seconds != spec["run_seconds"]:
        ap.error(f"--seconds must be {spec['run_seconds']}, the run length BENCHMARK.json fixes")
    listed = spec["per_layer" if args.trace else "end_to_end"]
    result, context = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    if set(result["metrics"]) != {m["name"] for m in listed}:
        raise SystemExit("measured metrics do not match BENCHMARK.json")
    result["metrics"] = {
        m["name"]: {"value": float(result["metrics"][m["name"]]), "unit": m["unit"]} for m in listed
    }
    for line in context:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
