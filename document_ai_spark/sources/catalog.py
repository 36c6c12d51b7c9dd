"""Thin table-catalog adapter: Iceberg when configured, Parquet fallback.

The north rule targets Iceberg tables; the local setup has no Iceberg runtime
jars, so tables can be addressed through this adapter (SURVEY.md §7 step
0). It holds what the IVF index tables (operators/ann_index.py) use:
``exists``, ``read``, ``write_partitioned`` (identity partitions, the
index itself) and ``drop`` + ``append`` (the one-row ``__meta`` sidecar,
replaced on each build), over ``identifier``. When the session has an Iceberg
catalog configured (any ``spark.sql.catalog.<name>`` conf), tables resolve to
``<catalog>.<namespace>.<table>`` and writes use the DataFrameWriterV2
``writeTo`` API; otherwise tables resolve to Parquet directories with the
same partition layout, so moving the index to a cluster flips a config,
not code.

The extraction job (plans/pipeline.py) writes its Parquet files with
pyarrow inside its Python stage, and the driver replaces exactly the
pending keys' files with them (Iceberg's ``overwritePartitions()``
on a cluster), which none of these writers does. The collections (sinks/collection.py) and the
checkpoint (plans/checkpoint.py, pyarrow on the driver) are Parquet
directories too.

Reference analog: the ChromaDB collection + SQLite store are the
reference's only 'catalog' (services/ai_service/main.py:56-61,
services/db_service/main.py:6-18); here the catalog is a real table
namespace.
"""

from __future__ import annotations

import os
import shutil

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

    def exists(self, table: str) -> bool:
        ident = self.identifier(table)
        if self.iceberg:
            return self.spark.catalog.tableExists(ident)
        return os.path.isdir(ident)

    # -- read ---------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        ident = self.identifier(table)
        if self.iceberg:
            return self.spark.read.table(ident)
        return self.spark.read.option("basePath", ident).parquet(ident)

    # -- write --------------------------------------------------------------
    def write_partitioned(
        self, df: DataFrame, table: str, partition_cols: list, mode: str = "overwrite"
    ) -> None:
        """Identity-partitioned write: one directory (Parquet) / identity
        transform (Iceberg) per distinct value of ``partition_cols``. The
        layout probe reads prune on — `filter(col.isin(...))` over such a
        table touches only the matching directories (PartitionFilters at
        the scan, no data files opened elsewhere). Used by the ANN index
        tables (operators/ann_index.py) where the IVF cluster id is the
        partition column."""
        ident = self.identifier(table)
        if self.iceberg:
            w = df.writeTo(ident).partitionedBy(*[F.col(c) for c in partition_cols])
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append() if self.exists(table) else w.create()
            return
        df.write.mode(mode).partitionBy(*partition_cols).parquet(ident)

    def append(self, df: DataFrame, table: str) -> None:
        ident = self.identifier(table)
        if self.iceberg:
            # bootstrap with writeTo().create() so the table takes df's
            # schema (a CTAS from a dummy SELECT would create a mismatched
            # single-column table and every later append would fail)
            if self.exists(table):
                df.writeTo(ident).append()
            else:
                df.writeTo(ident).create()
        else:
            df.write.mode("append").parquet(ident)

    def drop(self, table: str) -> None:
        ident = self.identifier(table)
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        else:
            shutil.rmtree(ident, ignore_errors=True)
