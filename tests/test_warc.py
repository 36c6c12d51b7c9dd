"""WARC source connector: record codec + Spark reader + extraction parity
(sources/warc.py — Common Crawl's native format, per-file parallelism)."""

import datetime as dt
import gzip
import re

import pytest

from document_ai_spark.sources.warc import (
    parse_records,
    read_warc,
    write_pages_warc,
    write_record,
)
from tests.conftest import session_time_zone


def test_record_roundtrip_including_binary_payload():
    # payload containing CRLFs and a fake record header must survive:
    # Content-Length delimits, not pattern matching
    evil = b"x\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nyyy" + bytes(range(256))
    blob = write_record("https://e.com/a", dt.datetime(2024, 3, 2, 5, 6, 7), evil, "en")
    blob += write_record("https://e.com/b", dt.datetime(2024, 3, 3, 0, 0, 0), b"second", "de")
    recs = list(parse_records(blob))
    assert [(r[0], r[3]) for r in recs] == [("https://e.com/a", "en"), ("https://e.com/b", "de")]
    assert recs[0][2] == evil and recs[1][2] == b"second"
    assert recs[0][1] == dt.datetime(2024, 3, 2, 5, 6, 7)


def test_truncated_and_garbage_blobs_are_isolated():
    """An empty blob has no records; junk where a record should start, or
    a malformed record, raises naming its byte offset after the records
    before it were yielded (junk used to be skipped, so a garbage file
    extracted nothing and the job succeeded; a malformed record ended the
    file silently, and a bad WARC-Date became 1970-01-01)."""
    assert list(parse_records(b"")) == []
    assert list(parse_records(b"\r\n\r\n")) == []
    garbage = "WARC record at byte 0: expected b'WARC/1.0', found b'not a warc at al'"
    with pytest.raises(ValueError, match=re.escape(garbage)):
        list(parse_records(b"not a warc at all"))
    good = write_record("https://e.com/x", dt.datetime(2024, 1, 1), b"ok", "en")
    rec = write_record("https://e.com/y", dt.datetime(2024, 1, 1), b"payload", "en")
    at = f"WARC record at byte {len(good)}: "
    damaged = [
        ("expected b'WARC/1.0', found b'junk\\r\\nWARC/1.0\\r\\n'", b"junk\r\n" + good),
        ("truncated payload, 5 of 7 bytes", rec[:-6]),
        ("header block is not terminated", rec[:40]),
        ("header block is not terminated", rec[:40] + good),  # cut, then the next record
        ("bad Content-Length b''", rec.replace(b"Content-Length: 7\r\n", b"")),
        ("bad Content-Length b'seven'", rec.replace(b"Content-Length: 7", b"Content-Length: seven")),
        ("bad Content-Length b'-7'", rec.replace(b"Content-Length: 7", b"Content-Length: -7")),
        ("bad WARC-Date ''", rec.replace(b"WARC-Date: 2024-01-01T00:00:00Z\r\n", b"")),
        ("bad WARC-Date '2024-13-01T00:00:00Z'", rec.replace(b"2024-01-01T", b"2024-13-01T")),
    ]
    for reason, bad in damaged:
        assert bad != rec
        recs = []
        with pytest.raises(ValueError, match="^" + re.escape(at + reason)):
            for r in parse_records(good + bad):
                recs.append(r)
        assert [r[2] for r in recs] == [b"ok"], reason


def test_malformed_warc_record_raises_naming_the_file(spark, tmp_path):
    """read_warc fails on a malformed record, or on a file of junk, with
    the file and offset (a junk file used to yield no rows, so its
    documents vanished from a job that succeeded)."""
    rec = write_record("https://e.com/a", dt.datetime(2024, 1, 1), b"<p>payload</p>", "en")
    for bad, at in ((rec + rec[:-9], len(rec)), (b"not a warc at all", 0)):
        d = tmp_path / f"warc{at}"
        d.mkdir()
        (d / "good.warc").write_bytes(rec)
        (d / "bad.warc").write_bytes(bad)
        with pytest.raises(
            Exception, match=rf"ValueError: malformed WARC file \S*bad\.warc: WARC record at byte {at}:"
        ):
            read_warc(spark, str(d)).collect()


def test_warc_extraction_matches_parquet_path(spark, pages_dir, tmp_path):
    """The same corpus via WARC must extract byte-identically to the
    Parquet path (the north rule's invariant extends across sources), and
    both must keep the UTC day of the layout in any session time zone."""
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import list_days, read_pages

    warc_dir = str(tmp_path / "warc")
    n = write_pages_warc(warc_dir, 200, seed=42, docs_per_file=60)
    assert n == 200

    def fp(df):
        return sorted(
            (r.url, r.doc_hash, r.kind, r.text, r.warc_day) for r in
            df.select("url", "doc_hash", "kind", "text", "warc_day").collect()
        )

    for tz in ("UTC", "America/New_York"):
        with session_time_zone(spark, tz):
            via_warc = fp(extract_pages(read_warc(spark, warc_dir)))
            via_parquet = fp(extract_pages(read_pages(spark, pages_dir)))
        assert via_warc == via_parquet

        # warc_day partition column derived identically: the layout's days
        assert sorted({r[4] for r in via_warc}) == list_days(pages_dir)


def test_gzipped_warc_reads_identically(spark, tmp_path):
    """Common Crawl ships .warc.gz with per-record gzip members — the
    reader must see the same rows as the plain file."""
    from document_ai_spark.sources.pages import generate_rows

    plain_dir, gz_dir = str(tmp_path / "plain"), str(tmp_path / "gz")
    import os as _os
    _os.makedirs(plain_dir); _os.makedirs(gz_dir)
    rows = list(generate_rows(60, seed=9))
    recs = [write_record(r["url"], r["warc_ts"], r["html"] or b"", r["lang"]) for r in rows]
    with open(_os.path.join(plain_dir, "a.warc"), "wb") as f:
        f.write(b"".join(recs))
    # per-record gzip members, concatenated (the Common Crawl layout)
    with open(_os.path.join(gz_dir, "a.warc.gz"), "wb") as f:
        for rec in recs:
            f.write(gzip.compress(rec))

    def fp(d):
        return sorted(
            (r.url, bytes(r.html or b"")) for r in read_warc(spark, d).collect()
        )

    a, b = fp(plain_dir), fp(gz_dir)
    assert a == b and len(a) == 60


@pytest.mark.parametrize("damage", ["crc", "truncated", "not-gzip"])
def test_corrupt_gzip_warc_raises_naming_the_file(spark, tmp_path, damage):
    """A .warc.gz that does not decode fails the read with a ValueError
    naming the file; its records are never silently dropped."""
    rec = write_record("https://e.com/a", dt.datetime(2024, 1, 1), b"<p>payload</p>", "en")
    blob = gzip.compress(rec)
    if damage == "crc":  # the member trailer is CRC32 then ISIZE
        blob = blob[:-8] + bytes([blob[-8] ^ 0xFF]) + blob[-7:]
    elif damage == "truncated":
        blob = blob[: len(blob) // 2]
    else:
        blob = b"this is not gzip at all"
    d = tmp_path / "warc"
    d.mkdir()
    (d / "good.warc").write_bytes(rec)
    (d / "bad.warc.gz").write_bytes(blob)
    with pytest.raises(Exception, match=r"ValueError: corrupt gzip WARC file \S*bad\.warc\.gz"):
        read_warc(spark, str(d)).collect()
