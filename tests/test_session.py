"""Session defaults (document_ai_spark/session.py)."""

import os

from document_ai_spark.session import default_cpus


def test_default_cpus_is_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 5})
    assert default_cpus() == 2
