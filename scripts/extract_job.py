"""Production extraction job — the spark-submit entry point (north rule).

Ship the package alongside the job and run it on a cluster:

    python scripts/build_dist.py          # -> dist/document_ai_spark.zip
    spark-submit --master <cluster> --py-files dist/document_ai_spark.zip \
        scripts/extract_job.py <pages_dir> <out_dir> [n_groups] [files_per_day] \
        [--by-day] [--warc] [--markdown]

n_groups (default 8) is the number of url-bucket checkpoint keys;
files_per_day (default 8) bounds the files written per day directory.
More than four positional arguments, or an n_groups or files_per_day
that is not a whole number, exits 2 with this text.

Flags: --by-day resumes at warc_day-partition granularity (the scan is
partition-pruned to the pending days; n_groups ignored);
--warc reads raw .warc/.warc.gz files instead of the Parquet table
(one extraction task per file);
--markdown emits structure-marked text (heading/list markers) instead of
plain text — the corpus shape for markdown-structure chunking.

The session is ``document_ai_spark.session.get_spark()`` with no master,
the same settings every benchmark and test runs: spark-submit's
``--master`` and every ``--conf`` key are kept, and the engine settings
(zstd, 8 MB splits, Arrow batching, one shuffle partition
per core, ...) fill in the keys the submit command leaves unset. On a
cluster with dynamic allocation, pass
``--conf spark.sql.shuffle.partitions=<n>``: the core count at start
is not the job's.

Each submission runs one Spark job over the checkpoint keys (url buckets,
or days with --by-day) not yet recorded 'done' in <out_dir>/_checkpoint,
so re-submitting with the same <out_dir> resumes. Either mode writes
<out_dir>/warc_day=<d>/part-<key>-<task>-<attempt>.zstd.parquet: the
tasks write the files with pyarrow into a staging directory, and the
driver deletes the files named with a pending key and moves the new
ones in, leaving _checkpoint and every other file in place (exactly-once;
see document_ai_spark/plans/pipeline.py). <pages_dir> and <out_dir> may
be URIs (s3://, hdfs://). On a real cluster the parquet paths become
Iceberg tables — the plan is unchanged.
"""

from __future__ import annotations

import json
import os
import sys

# Appended, so the --py-files zip, already on sys.path, wins; without
# --py-files (local dev) the checkout is imported.
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    unknown = flags - {"--by-day", "--warc", "--markdown"}
    if unknown:
        # a misspelled flag must fail loudly, not silently run the wrong
        # resume granularity / input format
        print(f"unknown flag(s): {sorted(unknown)}", file=sys.stderr)
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    if not 2 <= len(args) <= 4 or not all(a.isdecimal() for a in args[2:]):
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    if "--by-day" in flags and "--warc" in flags:
        print("--by-day resumes on warc_day PARTITION DIRECTORIES, which raw "
              "WARC input does not have; extract WARC via bucket groups, or "
              "land it in the day-partitioned table first.", file=sys.stderr)
        raise SystemExit(2)
    pages_dir, out_dir = args[0], args[1]
    n_groups = int(args[2]) if len(args) > 2 else 8
    files_per_day = int(args[3]) if len(args) > 3 else 8

    from document_ai_spark.plans.pipeline import run_extraction, run_extraction_by_day
    from document_ai_spark.session import get_spark

    spark = get_spark(app_name="document_ai_spark.extract")
    if "--by-day" in flags:
        summary = run_extraction_by_day(
            spark,
            pages_path=pages_dir,
            out_dir=out_dir,
            run_dir=os.path.join(out_dir, "_checkpoint"),
            files_per_day=files_per_day,
            markdown="--markdown" in flags,
        )
    else:
        summary = run_extraction(
            spark,
            pages_path=pages_dir,
            out_dir=out_dir,
            run_dir=os.path.join(out_dir, "_checkpoint"),
            n_groups=n_groups,
            files_per_day=files_per_day,
            source_format="warc" if "--warc" in flags else "parquet",
            markdown="--markdown" in flags,
        )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
