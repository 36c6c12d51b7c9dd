"""Thin table-catalog adapter: Iceberg when configured, Parquet fallback.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jars, so tables can be addressed through this adapter (SURVEY.md §7 step
0). Today the ANN index tables (operators/ann_index.py) are; the
extraction job (plans/pipeline.py), the collections (sinks/collection.py)
and the checkpoint (plans/checkpoint.py, with pyarrow on the driver)
read and write Parquet directories directly. When the session has an Iceberg catalog configured
(any ``spark.sql.catalog.<name>`` conf), tables resolve to
``<catalog>.<namespace>.<table>`` and writes use the DataFrameWriterV2
``writeTo`` API with ``partitionedBy(days(ts))``; otherwise tables resolve
to Parquet directories with the IDENTICAL partition layout
(``warc_day=YYYY-MM-DD/``), so moving the adapter's tables to a cluster
flips a config, not code.

Reference analog: the ChromaDB collection + SQLite store are the
reference's only 'catalog' (services/ai_service/main.py:56-61,
services/db_service/main.py:6-18); here the catalog is a real table
namespace.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Spark SQL catalog, or None."""
    for k, _ in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            return k.rsplit(".", 1)[1]
    return None


class Catalog:
    """Resolves logical table names to Iceberg identifiers or Parquet dirs."""

    def __init__(self, spark: SparkSession, warehouse_dir: str, namespace: str = "db"):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.namespace = namespace
        self.iceberg = iceberg_catalog(spark)

    # -- resolution ---------------------------------------------------------
    def identifier(self, table: str) -> str:
        if self.iceberg:
            return f"{self.iceberg}.{self.namespace}.{table}"
        return os.path.join(self.warehouse_dir, table)

    # -- read ---------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        ident = self.identifier(table)
        if self.iceberg:
            return self.spark.read.table(ident)
        return self.spark.read.option("basePath", ident).parquet(ident)

    # -- write --------------------------------------------------------------
    def write_day_partitioned(
        self, df: DataFrame, table: str, ts_col: str = "warc_ts", mode: str = "append"
    ) -> None:
        """Write partitioned by day(ts): Iceberg `partitionedBy(days(ts))`,
        Parquet `partitionBy(warc_day=...)` — identical physical layout."""
        ident = self.identifier(table)
        if self.iceberg:
            w = df.writeTo(ident).partitionedBy(F.days(F.col(ts_col)))
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.createOrReplace() if not self.spark.catalog.tableExists(ident) else w.append()
            return
        day_col = "warc_day"
        out = df
        if day_col not in df.columns:
            out = df.withColumn(day_col, F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        out.write.mode(mode).partitionBy(day_col).parquet(ident)

    def write_partitioned(
        self, df: DataFrame, table: str, partition_cols: list, mode: str = "overwrite"
    ) -> None:
        """Identity-partitioned write: one directory (Parquet) / identity
        transform (Iceberg) per distinct value of ``partition_cols``. The
        layout probe reads prune on — `filter(col.isin(...))` over such a
        table touches only the matching directories (PartitionFilters at
        the scan, no data files opened elsewhere). Used by the ANN index
        tables (operators/ann_index.py) where the cluster/sketch id is the
        partition column."""
        ident = self.identifier(table)
        if self.iceberg:
            w = df.writeTo(ident).partitionedBy(*[F.col(c) for c in partition_cols])
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append() if self.spark.catalog.tableExists(ident) else w.create()
            return
        df.write.mode(mode).partitionBy(*partition_cols).parquet(ident)

    def append(self, df: DataFrame, table: str) -> None:
        ident = self.identifier(table)
        if self.iceberg:
            # bootstrap with writeTo().create() so the table takes df's
            # schema (a CTAS from a dummy SELECT would create a mismatched
            # single-column table and every later append would fail)
            if self.spark.catalog.tableExists(ident):
                df.writeTo(ident).append()
            else:
                df.writeTo(ident).create()
        else:
            df.write.mode("append").parquet(ident)

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list,
        num_buckets: int = 16,
        sort_cols: list | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Write a CO-LOCATION-bucketed table: rows are hash-bucketed on
        ``bucket_cols`` into ``num_buckets`` files per partition, and the
        bucketing spec is recorded in the catalog. Two tables bucketed the
        same way join on the bucket key with NO shuffle on either side
        (tests/test_catalog.py pins the Exchange-free sort-merge plan) —
        at 100 TB this is how the repeated dedup anti-joins / enrichment
        joins on doc_hash avoid re-shuffling the fact table every run.
        Iceberg mode writes the real analog — a ``bucket(N, col)``
        partition transform via writeTo(). The Parquet fallback records
        Spark bucketing metadata through ``saveAsTable`` with an explicit
        external path (directory layout still matches ``identifier()``);
        that path supports ONLY mode='overwrite' — a drop+recreate is the
        sole way to refresh external-table bucketing metadata atomically
        enough for this sandbox, and pretending to honor append/error
        semantics on top of it would lie (append under Iceberg uses
        ``append(df, table)`` on the transformed table instead)."""
        if self.iceberg:
            ident = self.identifier(table)
            # one bucket(N, col) transform PER bucket column — silently
            # bucketing only the first column would break the co-location
            # contract for multi-column specs (advice regression). Iceberg
            # buckets per-column (N x N grid) rather than Spark's joint
            # hash, but two tables written with the SAME spec still
            # storage-partition-join shuffle-free, which is the contract.
            transforms = [F.bucket(num_buckets, F.col(c)) for c in bucket_cols]
            w = df.writeTo(ident).partitionedBy(*transforms)
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append() if self.spark.catalog.tableExists(ident) else w.create()
            return
        if mode != "overwrite":
            raise ValueError(
                "parquet-fallback bucketed writes are overwrite-only "
                "(saveAsTable bucketing metadata cannot be appended to safely); "
                "use the Iceberg catalog for appendable bucketed tables"
            )
        path = self.identifier(table)
        name = f"{self.namespace}_{table}"
        w = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        w.saveAsTable(name)

    def read_bucketed(self, table: str) -> DataFrame:
        """Read a table written by write_bucketed WITH its bucketing spec
        (reading the parquet path directly would lose it)."""
        if self.iceberg:
            return self.spark.read.table(self.identifier(table))
        return self.spark.read.table(f"{self.namespace}_{table}")

    def drop(self, table: str) -> None:
        ident = self.identifier(table)
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        else:
            import shutil

            # a write_bucketed table also registered a session-catalog
            # entry pointing at this path; drop BOTH or read_bucketed
            # would resolve a stale table over a deleted directory
            self.spark.sql(f"DROP TABLE IF EXISTS {self.namespace}_{table}")
            shutil.rmtree(ident, ignore_errors=True)
