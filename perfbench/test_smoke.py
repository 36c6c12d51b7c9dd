"""Smoke test of the benchmark's own code on tiny corpora.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced, and one workload traced, on a corpus of
a few dozen documents with a short run length. Each run must pass its
correctness checks and report exactly the metrics BENCHMARK.json lists.
Each run gets a process of its own, as it does from the command line: the
program keeps module-level UDFs bound to the first JVM it talks to.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import ROOT, load_spec
from perfbench.workloads import WORKLOADS

SPEC = load_spec()
TINY_DOCS = 80  # enough for every document kind, PDFs included


def _names(kind: str) -> set:
    return {m["name"] for m in SPEC[kind]}


def _execute(workload: str, seed: int, trace: bool) -> tuple:
    code = (
        "import json; from perfbench.run import execute; "
        f"print(json.dumps(execute({workload!r}, {seed}, 0.5, {trace}, n_docs={TINY_DOCS})))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result, context = json.loads(proc.stdout.strip().splitlines()[-1])
    return result, context


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run(workload):
    result, context = _execute(workload, 42, False)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, context
    assert set(result["metrics"]) == _names("end_to_end")
    assert all(v > 0 for v in result["metrics"].values()), result["metrics"]


def test_traced_run():
    result, context = _execute("rag-query", 7, True)
    assert result["correct"], context
    assert set(result["metrics"]) == _names("per_layer")
    assert any(line.startswith("tracing overhead") for line in context)
