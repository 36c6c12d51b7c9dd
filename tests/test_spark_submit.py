"""The launch the north rule names: the job under spark-submit.

Each test starts spark-submit as a subprocess (its own driver JVM, the
caller's environment, so SPARK_LOCAL_DIRS is inherited) with a timeout.
"""

import glob
import json
import os
import subprocess
import sys
from collections import Counter

import pyarrow.parquet as pq
import pyspark

from document_ai_spark.session import SETTINGS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the Spark the in-process session runs (PySpark's own launcher rule)
SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "bin", "spark-submit"
)

PROBE = """
import json
from document_ai_spark.session import SETTINGS, get_spark

spark = get_spark()
hadoop = spark._jsparkSession.sessionState().newHadoopConf()
got = {k: spark.conf.get(k) for k in SETTINGS}
got["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
got["committer"] = hadoop.get("mapreduce.fileoutputcommitter.algorithm.version")
got["master"] = spark.sparkContext.master
print(json.dumps(got))
spark.stop()
"""


def _submit(args, cwd, env=None):
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_get_spark_keeps_the_launchers_master_and_conf(tmp_path):
    """get_spark() under spark-submit keeps --master and --conf and fills in
    every other engine setting; files commit with Hadoop's default
    committer, version 1 (a failed job leaves no task's files behind)."""
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))}
    got = _submit(
        ["--conf", "spark.sql.files.maxPartitionBytes=4m", str(probe)], str(tmp_path), env
    )
    assert got["master"] == "local[2]" and got["spark.sql.files.maxPartitionBytes"] == "4m"
    assert got["spark.sql.shuffle.partitions"] == "2"
    assert got["spark.sql.parquet.compression.codec"] == "zstd"
    assert got["committer"] == "1"
    # every other engine setting is in effect
    assert got == {
        **SETTINGS,
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.shuffle.partitions": "2",
        "committer": "1",
        "master": "local[2]",
    }


def test_readme_deploy_command_runs_the_measured_job(spark, pages_dir, tmp_path):
    """README's deploy command, run from outside the checkout with the
    shipped zip, writes zstd files, at most files_per_day per day, and the
    same per-url output as the in-process job."""
    from document_ai_spark.plans.pipeline import load_extracted, run_extraction_by_day

    subprocess.run([sys.executable, os.path.join(REPO, "scripts", "build_dist.py")], check=True, timeout=120)
    out = str(tmp_path / "out")
    _submit(
        [
            "--py-files", os.path.join(REPO, "dist", "document_ai_spark.zip"),
            os.path.join(REPO, "scripts", "extract_job.py"), pages_dir, out, "--by-day",
        ],
        str(tmp_path),
    )
    files = glob.glob(os.path.join(out, "warc_day=*", "*.parquet"))
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs |= {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
    assert codecs == {"ZSTD"}
    per_day = Counter(os.path.dirname(f) for f in files)
    assert len(per_day) == 4 and max(per_day.values()) <= 8  # files_per_day default

    local = str(tmp_path / "local")
    run_extraction_by_day(spark, pages_dir, local, str(tmp_path / "local_run"))

    def per_url(d):
        rows = load_extracted(spark, d).select("url", "kind", "text", "doc_hash").collect()
        return {r.url: (r.kind, r.text, r.doc_hash) for r in rows}

    submitted = per_url(out)
    assert len(submitted) == 200 and submitted == per_url(local)
