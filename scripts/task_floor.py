"""Measures the fixed cost a Spark Python task pays before its function
runs. Usage:

    python scripts/task_floor.py [n_stages] [master]

Runs ``n_stages`` (default 12) one-task Python stages on ``master``
(default ``local[2]``) and prints, for each task, the worker's pid, the
time from the task's launch to the function's first line (the status
store's ``launchTime`` against ``time.time()`` in the worker; one machine,
one clock in local mode) and the wall of the ``importlib.invalidate_caches()``
call PySpark's worker made before loading the task's command (timed by a
wrapper the worker's first task installs, so a worker's first task has
none). The task imports ``document_ai_spark``, as every worker-side
function of the package does, so the worker runs with what the package
installs there. The last line gives the medians over every task after
the first one of its worker.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _probe(rows):
    entry = time.time()
    import document_ai_spark  # noqa: F401

    # the first task of a worker wraps importlib.invalidate_caches, so the
    # call PySpark's worker makes before each later task times itself
    setup_s = getattr(importlib.invalidate_caches, "last_s", None)
    if not hasattr(importlib.invalidate_caches, "last_s"):
        stock = importlib.invalidate_caches

        def timed():
            t0 = time.perf_counter()
            stock()
            timed.last_s = time.perf_counter() - t0

        timed.last_s = None
        importlib.invalidate_caches = timed
    for _ in rows:  # a worker whose input is left unread is not reused
        pass
    yield entry, setup_s, os.getpid()


def main(n_stages: int = 12, master: str = "local[2]") -> None:
    from document_ai_spark.session import get_spark

    spark = get_spark(app_name="task_floor", master=master)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store, dag, bus = jsc.statusStore(), jsc.dagScheduler(), jsc.listenerBus()
    later = []
    try:
        for i in range(n_stages):
            stage = dag.nextStageId()
            entry, setup_s, pid = sc.parallelize([0], 1).mapPartitions(_probe).collect()[0]
            bus.waitUntilEmpty()  # the status store is fed asynchronously
            launch = store.taskList(stage, 0, 1).apply(0).launchTime().getTime() / 1e3
            if setup_s is None:
                inv = "first task of its worker"
            else:
                inv = f"invalidate_caches {1e3 * setup_s:8.3f} ms"
                later.append((entry - launch, setup_s))
            print(f"task {i:2d}: pid {pid}, launch->entry {1e3 * (entry - launch):7.1f} ms, {inv}", flush=True)
    finally:
        spark.stop()
    if later:
        print(
            f"median over {len(later)} later tasks: launch->entry"
            f" {1e3 * statistics.median(x for x, _ in later):.1f} ms,"
            f" invalidate_caches {1e3 * statistics.median(y for _, y in later):.3f} ms"
        )


if __name__ == "__main__":
    main(*(int(a) if i == 0 else a for i, a in enumerate(sys.argv[1:])))
