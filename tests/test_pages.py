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
