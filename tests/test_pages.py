"""The synthetic pages corpus (document_ai_spark/sources/pages.py)."""

import pyarrow.parquet as pq

from document_ai_spark.sources.pages import generate_rows, write_pages_parquet
from document_ai_spark.sources.warc import write_pages_warc


def test_corpus_has_exactly_n_docs(tmp_path):
    # the head (edge cases + a duplicate pair) is 11 rows; a shorter
    # corpus is a prefix of it, not the whole head
    for n in (0, 1, 5, 10, 11, 12):
        assert len(list(generate_rows(n))) == n
    assert list(generate_rows(5)) == list(generate_rows(12))[:5]
    assert write_pages_parquet(str(tmp_path / "pages"), 10) == 10
    assert pq.read_table(str(tmp_path / "pages")).num_rows == 10
    assert write_pages_warc(str(tmp_path / "warc"), 10) == 10


def test_warc_ts_instants_match_files_with_the_naive_type(spark, tmp_path):
    """write_pages_parquet types warc_ts from PAGES_SCHEMA, timestamp[us,
    tz=UTC]. Spark reads the same instants from these files as from files
    holding the naive timestamp[us] it wrote before, in a UTC and in a New
    York session."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from document_ai_spark.plans.pipeline import read_pages

    from .conftest import session_time_zone

    utc, naive = str(tmp_path / "utc"), str(tmp_path / "naive")
    write_pages_parquet(utc, 40)
    t = pq.read_table(utc)
    assert t.schema.field("warc_ts").type == pa.timestamp("us", tz="UTC")
    t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts", t["warc_ts"].cast(pa.timestamp("us")))
    t = t.set_column(t.schema.get_field_index("warc_day"), "warc_day", t["warc_day"].cast(pa.string()))
    pq.write_to_dataset(t, naive, partition_cols=["warc_day"])
    want = sorted(zip(t["url"].to_pylist(), t["warc_ts"].cast(pa.int64()).to_pylist()))

    def instants(path):
        df = read_pages(spark, path).select("url", F.unix_micros("warc_ts").alias("us"))
        return sorted((r.url, r.us) for r in df.collect())

    for tz in ("UTC", "America/New_York"):
        with session_time_zone(spark, tz):
            assert instants(utc) == instants(naive) == want
