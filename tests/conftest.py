from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_TINY = os.path.join(TESTDATA, "sf0.001")
SF_SMALL = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from document_ai_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_dir(tmp_path_factory):
    """Tiny deterministic pages corpus shared by pipeline tests (same
    (seed, n) as the committed goldens)."""
    from document_ai_spark.sources.pages import write_pages_parquet

    d = tmp_path_factory.mktemp("pages")
    write_pages_parquet(str(d), 200, seed=42)
    return str(d)


@contextmanager
def session_time_zone(spark, tz):
    """Run the body under session time zone ``tz``, then restore it."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
