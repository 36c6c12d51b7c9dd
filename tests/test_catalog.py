"""Catalog adapter (SURVEY.md §7 step 0): the Parquet fallback round-trips
a table; the local setup has no Iceberg jars, so the iceberg branch is
exercised through mocks."""

from __future__ import annotations

import datetime as dt
import os

from document_ai_spark.sources.catalog import Catalog, iceberg_catalog


def test_no_iceberg_catalog_in_sandbox(spark):
    assert iceberg_catalog(spark) is None


def test_parquet_fallback_layout_and_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 3, 1, 10, 0), "a"),
            ("u2", dt.datetime(2024, 3, 2, 11, 0), "b"),
        ],
        "url string, warc_ts timestamp, payload string",
    )
    cat.append(df, "plain_t")
    assert cat.read("plain_t").count() == 2
    cat.drop("plain_t")
    assert not os.path.exists(cat.identifier("plain_t"))


def _iceberg_cat(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.iceberg = "ice"  # no jars in sandbox: drive the branch via mocks
    return cat


def test_iceberg_identifier_resolution(spark, tmp_path):
    cat = _iceberg_cat(spark, tmp_path)
    assert cat.identifier("pages") == "ice.db.pages"
    assert Catalog(spark, str(tmp_path), namespace="raw").identifier("t").endswith("/t")


def test_iceberg_append_bootstraps_with_df_schema(spark, tmp_path):
    """Regression (round-2 ADVICE): first append must writeTo().create()
    from the df's own schema — a dummy CTAS would make a 1-int-column table
    and every later append would fail on schema mismatch."""
    from unittest.mock import MagicMock

    cat = _iceberg_cat(spark, tmp_path)
    cat.spark = MagicMock()
    df = MagicMock()

    # table absent -> create() (schema from df), never append(), no SQL CTAS
    cat.spark.catalog.tableExists.return_value = False
    cat.append(df, "pages")
    df.writeTo.assert_called_once_with("ice.db.pages")
    df.writeTo.return_value.create.assert_called_once_with()
    df.writeTo.return_value.append.assert_not_called()
    cat.spark.sql.assert_not_called()

    # table present -> append()
    df.reset_mock()
    cat.spark.catalog.tableExists.return_value = True
    cat.append(df, "pages")
    df.writeTo.return_value.append.assert_called_once_with()
    df.writeTo.return_value.create.assert_not_called()


def test_iceberg_drop_issues_drop_table(spark, tmp_path):
    from unittest.mock import MagicMock

    cat = _iceberg_cat(spark, tmp_path)
    cat.spark = MagicMock()
    cat.drop("pages")
    cat.spark.sql.assert_called_once_with("DROP TABLE IF EXISTS ice.db.pages")
