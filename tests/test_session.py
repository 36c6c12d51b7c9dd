"""Session defaults (document_ai_spark/session.py)."""

import os
import subprocess
import sys

from document_ai_spark.session import default_cpus


def test_default_cpus_is_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 5})
    assert default_cpus() == 2


RESTART = """
from pyspark.sql import functions as F
from document_ai_spark.functions.embed import embed_udf
from document_ai_spark.functions.normalize import nfc_normalize_udf
from document_ai_spark.operators.dedup import simhash64_udf
from document_ai_spark.session import get_spark

for _ in range(2):
    spark = get_spark(master="local[2]")
    df = spark.createDataFrame([("caf\\u0065\\u0301 one",), ("two words",)], "t string").repartition(2)
    out = df.select(
        embed_udf(F.col("t")).alias("e"), nfc_normalize_udf(F.col("t")).alias("n"), simhash64_udf("t").alias("h")
    ).collect()
    assert len(out) == 2 and out[0].n is not None
    spark.stop()
print("ok")
"""


def test_module_udfs_survive_a_session_restart(tmp_path):
    """The package's pandas UDFs run in a second session of the same
    process without errors on the log: a UDF whose JVM function was cached
    in the first session reported its accumulator through that session's
    closed socket (`Failed to update accumulator 0 (PythonAccumulatorV2)
    ... Broken pipe`, once per task)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))}
    r = subprocess.run(
        [sys.executable, "-c", RESTART], cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert r.returncode == 0 and r.stdout.split() == ["ok"], r.stderr[-4000:]
    assert "Failed to update accumulator" not in r.stderr, r.stderr[-4000:]


STATEFUL = """
import sys, time
from document_ai_spark.session import get_spark, stop_spark

spark = get_spark(master="local[1]", extra_conf={"spark.sql.streaming.stateStore.maintenanceInterval": "100ms"})
spark.range(60).selectExpr("id % 7 AS k").write.parquet(sys.argv[1] + "/in")
q = (
    spark.readStream.schema("k long").parquet(sys.argv[1] + "/in").groupBy("k").count()
    .writeStream.outputMode("complete").format("memory").queryName("counts")
    .option("checkpointLocation", sys.argv[1] + "/cp").trigger(availableNow=True).start()
)
q.awaitTermination()
assert spark.sql("SELECT * FROM counts").count() == 7
stop_spark(spark)
time.sleep(1)  # ten maintenance intervals: the thread would run after the stop
print("ok")
"""


def test_stopping_after_a_stateful_query_logs_no_stack_trace(tmp_path):
    """A stateful availableNow query, then the session stops: the state
    store's maintenance thread used to outlive the session and log
    `IllegalStateException: SparkEnv not active` with its stack."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))}
    r = subprocess.run(
        [sys.executable, "-c", STATEFUL, str(tmp_path)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0 and r.stdout.split() == ["ok"], r.stderr[-4000:]
    assert "Exception" not in r.stderr and "\tat " not in r.stderr, r.stderr[-4000:]
