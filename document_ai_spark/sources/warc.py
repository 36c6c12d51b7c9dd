"""WARC source connector: Common Crawl's native archive format.

The engine's primary input is an Iceberg/Parquet ``pages`` table, but raw
web crawls arrive as WARC files (ISO 28500: text headers + byte payload
per record). This module provides a from-scratch reader and a
deterministic writer (no warcio in this environment; the format is simple
enough that a dependency would add risk, not capability):

    record  := "WARC/1.0\\r\\n" header-lines "\\r\\n" payload "\\r\\n\\r\\n"
    header  := "Name: value\\r\\n"   (Content-Length delimits the payload —
                                     payload bytes may contain anything)

Reading strategy for Spark: WARC files are NOT splittable (a record can
straddle any byte offset, and gzip members would need per-record framing),
so parallelism is per-FILE: ``spark.read.format("binaryFile")`` lists the
files, and an Arrow-batched ``mapInArrow`` stage parses each file's
records. At crawl scale, one WARC file is ~1 GB => tens of thousands of
files => file-level parallelism saturates any executor count, so the
parsed rows go straight into the extraction stage, task for task; the
pipeline's one write shuffle (``compact_for_write``) balances the output.
A gzip decode failure, a malformed record or junk between records (any
byte but CR/LF) raises a ValueError naming the file (and the byte offset
of the record or junk): a corrupt archive fails the job instead of
silently dropping its records.

Output schema == the pages table (url, warc_ts, html, text, lang,
warc_day), so ``extract_pages(read_warc(...))`` is a drop-in for the
Parquet path — byte-identical extraction either way (tested roundtrip).
"""

from __future__ import annotations

import datetime as dt
import os
import re
from typing import Iterator, List, Tuple

from pyspark.sql import DataFrame, SparkSession

from document_ai_spark.sources.pages import PAGES_SCHEMA, generate_rows

_CRLF = b"\r\n"
_LINE_ENDS = re.compile(rb"[\r\n]*")  # the only bytes allowed between records

WARC_PAGE_SCHEMA = PAGES_SCHEMA  # warc_day: the UTC date of WARC-Date


# ---------------------------------------------------------------------------
# record-level codec (pure functions; used by both writer and reader)


def write_record(url: str, ts: dt.datetime, payload: bytes, lang: str = "") -> bytes:
    """Serialize one response record. WARC-Date is ISO-8601 Z; the engine's
    determinism rule holds — ts is data, never wall clock."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Target-URI: " + url.encode("utf-8"),
        b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode("ascii"),
        (b"WARC-Identified-Content-Language: " + lang.encode("ascii")) if lang else None,
        b"Content-Length: " + str(len(payload)).encode("ascii"),
    ]
    head = _CRLF.join(h for h in headers if h is not None)
    return head + _CRLF + _CRLF + payload + _CRLF + _CRLF


def parse_records(blob: bytes) -> Iterator[Tuple[str, dt.datetime, bytes, str]]:
    """Yield (url, ts, payload, lang) for every response record in a WARC
    blob. Content-Length delimits payloads (they may contain 'WARC/1.0').
    Only CR and LF may stand between records: any other byte where a
    record should start raises ValueError naming its offset. A record
    whose header block is unterminated (or cut, so that the next
    record's header ends it), whose Content-Length is missing, not a
    non-negative integer or longer than the bytes left, or (for a
    response) whose WARC-Date is missing or not ``YYYY-MM-DDThh:mm:ssZ``
    raises ValueError naming its byte offset: the records after it cannot
    be found, so the file fails instead of losing them silently."""
    pos = 0
    n = len(blob)
    while True:
        start = _LINE_ENDS.match(blob, pos).end()
        if start == n:
            return
        if not blob.startswith(b"WARC/1.0", start):
            found = blob[start : start + 16]
            raise ValueError(f"WARC record at byte {start}: expected b'WARC/1.0', found {found!r}")
        head_end = blob.find(_CRLF + _CRLF, start)
        # a second version line in the block: this record's header was cut
        # and the next record's header ends it
        if head_end == -1 or blob.find(b"WARC/1.0" + _CRLF, start + 1, head_end + 2) != -1:
            raise ValueError(f"WARC record at byte {start}: header block is not terminated")
        headers = {}
        for line in blob[start:head_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            if v:
                headers[k.strip().lower()] = v.strip()
        raw_length = headers.get(b"content-length", b"")
        if not raw_length.isdigit():
            raise ValueError(f"WARC record at byte {start}: bad Content-Length {raw_length!r}")
        length = int(raw_length)
        body_start = head_end + 4
        if body_start + length > n:
            raise ValueError(
                f"WARC record at byte {start}: truncated payload, {n - body_start} of {length} bytes"
            )
        payload = blob[body_start : body_start + length]
        pos = body_start + length
        if headers.get(b"warc-type", b"") == b"response":
            url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
            lang = headers.get(b"warc-identified-content-language", b"").decode("ascii", "replace")
            raw_date = headers.get(b"warc-date", b"").decode("ascii", "replace")
            try:
                ts = dt.datetime.strptime(raw_date, "%Y-%m-%dT%H:%M:%SZ")
            except ValueError:
                raise ValueError(f"WARC record at byte {start}: bad WARC-Date {raw_date!r}") from None
            yield url, ts, payload, lang


# ---------------------------------------------------------------------------
# writer (synthetic corpus -> .warc files)


def write_pages_warc(out_dir: str, n_docs: int, seed: int = 42, docs_per_file: int = 500) -> int:
    """Write the deterministic synthetic pages corpus as .warc files
    (docs_per_file records each) — the WARC twin of write_pages_parquet,
    same (seed, n_docs) => same logical rows."""
    os.makedirs(out_dir, exist_ok=True)
    count = 0
    buf: List[bytes] = []
    file_idx = 0

    def _flush() -> None:
        nonlocal file_idx
        if not buf:
            return
        with open(os.path.join(out_dir, f"part-{file_idx:05d}.warc"), "wb") as f:
            f.write(b"".join(buf))
        file_idx += 1

    for row in generate_rows(n_docs, seed=seed):
        buf.append(
            write_record(row["url"], row["warc_ts"], row["html"] or b"", row["lang"])
        )
        count += 1
        if len(buf) >= docs_per_file:
            _flush()
            buf = []
    _flush()
    return count


# ---------------------------------------------------------------------------
# reader (.warc files -> pages DataFrame)


def read_warc(spark: SparkSession, warc_dir: str) -> DataFrame:
    """WARC files -> pages-schema DataFrame.

    binaryFile scan lists the directory's ``*.warc*`` files (one row per
    file, content in memory — crawl WARCs are ~1 GB, sized for exactly
    this); an Arrow stage parses records. Parallelism is per-file
    (non-splittable format). warc_day is the UTC date of WARC-Date, as in
    the Parquet layout, whatever the session time zone. A ``.gz`` file
    that does not decode, or a record ``parse_records`` rejects, raises
    ValueError naming its path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(WARC_PAGE_SCHEMA)

    def _parse(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import gzip
        import io
        import zlib

        for batch in batches:
            rows = []  # (url, warc_ts, html, text, lang, warc_day) per record
            for path, blob in zip(batch.column("path").to_pylist(), batch.column("content")):
                raw = blob.as_py() or b""  # one file's bytes in Python at a time
                if path.endswith(".gz"):
                    # Common Crawl ships .warc.gz as CONCATENATED per-record
                    # gzip members; GzipFile reads through all members
                    try:
                        raw = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
                    except (OSError, EOFError, zlib.error) as e:
                        raise ValueError(f"corrupt gzip WARC file {path}: {e}") from e
                try:
                    for url, ts, payload, lang in parse_records(raw):
                        rows.append((url, ts, payload, None, lang or None, ts.strftime("%Y-%m-%d")))
                except ValueError as e:
                    raise ValueError(f"malformed WARC file {path}: {e}") from e
            values = zip(*rows) if rows else [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, f.type) for v, f in zip(values, schema)], schema=schema
            )

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.warc*").load(warc_dir)
    return files.select("path", "content").mapInArrow(_parse, schema=WARC_PAGE_SCHEMA)
