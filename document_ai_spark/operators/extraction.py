"""The core extraction operator: Arrow-batched mapInArrow over raw payloads.

Spark re-expression of the reference's per-batch convert stage
(reference services/ai_service/add_documents.py:43-44 ->
document_conversion/docling_pdf_loader.py:26-33), per SURVEY.md U1/X3:

    pages --scan-aligned--> mapInArrow(extract_batch)

Design for 100 TB:
  * mapInArrow (iterator of pyarrow RecordBatches) — pipelined, no
    per-partition materialization, and NO pandas detour: input columns
    the kernel doesn't touch (url, warc_ts, lang, warc_day) pass through
    zero-copy, and the output — including the spans list<struct> column
    — is assembled as flat pyarrow arrays + offsets, skipping one boxing
    of ~30 span tuples per document each way (measured ~12% off the whole
    Python stage vs the mapInPandas formulation at sf0.1).
  * no shuffle: the stage runs on the scan's own splits (8 MB parquet
    splits, one task per WARC file). Skew is handled after extraction by
    the pipeline's one write shuffle on (warc_day, url bucket) — see
    plans/pipeline.compact_for_write — which moves only the extracted
    output, much smaller than the html input.
  * per-document error isolation inside the kernel (kind='error' rows) — a
    poison page never fails a task, so task retries stay idempotent.
  * column pruning: only (url, warc_ts, lang, html, warc_day) enter the
    stage.
"""

from __future__ import annotations

import functools
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("block_id", T.IntegerType()),
            T.StructField("char_start", T.LongType()),
            T.StructField("char_end", T.LongType()),
            T.StructField("tag", T.StringType()),
            T.StructField("text_density", T.DoubleType()),
            T.StructField("link_density", T.DoubleType()),
        ]
    )
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("doc_hash", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("warc_day", T.StringType()),
    ]
)


def _extract_batches(
    batches: Iterator["pa.RecordBatch"], markdown: bool = False
) -> Iterator["pa.RecordBatch"]:
    # imports inside the worker so the closure pickles only names
    import pyarrow as pa

    from document_ai_spark.kernel.extract import extract_document

    span_fields = [
        pa.field("block_id", pa.int32()),
        pa.field("char_start", pa.int64()),
        pa.field("char_end", pa.int64()),
        pa.field("tag", pa.string()),
        pa.field("text_density", pa.float64()),
        pa.field("link_density", pa.float64()),
    ]
    names = [f.name for f in EXTRACTED_SCHEMA.fields]

    for batch in batches:
        payloads = batch.column(3).to_pylist()  # html
        doc_hash: list = []
        kind: list = []
        text: list = []
        n_chars: list = []
        n_blocks: list = []
        err: list = []
        bytes_in: list = []
        # spans as flat columns + list offsets: no per-span Python tuples
        off = [0]
        s_id: list = []
        s_start: list = []
        s_end: list = []
        s_tag: list = []
        s_td: list = []
        s_ld: list = []
        for payload in payloads:
            b = bytes(payload) if payload is not None else b""
            dh, kd, tx, spans, nc, nb, er = extract_document(b, markdown=markdown)
            doc_hash.append(dh)
            kind.append(kd)
            text.append(tx)
            n_chars.append(nc)
            n_blocks.append(nb)
            err.append(er)
            bytes_in.append(len(b))
            for s in spans:
                s_id.append(s["block_id"])
                s_start.append(s["char_start"])
                s_end.append(s["char_end"])
                s_tag.append(s["tag"])
                s_td.append(s["text_density"])
                s_ld.append(s["link_density"])
            off.append(len(s_id))
        spans_arr = pa.ListArray.from_arrays(
            pa.array(off, pa.int32()),
            pa.StructArray.from_arrays(
                [
                    pa.array(s_id, pa.int32()),
                    pa.array(s_start, pa.int64()),
                    pa.array(s_end, pa.int64()),
                    pa.array(s_tag, pa.string()),
                    pa.array(s_td, pa.float64()),
                    pa.array(s_ld, pa.float64()),
                ],
                fields=span_fields,
            ),
        )
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(0),  # url: zero-copy passthrough
                batch.column(1),  # warc_ts
                batch.column(2),  # lang
                pa.array(doc_hash, pa.string()),
                pa.array(kind, pa.string()),
                pa.array(text, pa.string()),
                spans_arr,
                pa.array(n_chars, pa.int64()),
                pa.array(n_blocks, pa.int32()),
                pa.array(err, pa.string()),
                pa.array(bytes_in, pa.int64()),
                batch.column(4),  # warc_day
            ],
            names=names,
        )


def extract_pages(pages: DataFrame, markdown: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, warc_day, ...) -> extracted
    DataFrame.

    One Arrow stage over the input's own partitions. Every output row is a
    pure function of its input row, so output is independent of physical
    partitioning (byte-identity invariant). warc_day is the input row's
    own (its partition value), never recomputed from warc_ts in the
    session time zone: the output lands under the day the input and its
    checkpoint key name.

    ``markdown=True``: the kernel emits structure-marked text ('#'-level
    headings, '- ' list items; PDF regions with heading-size fonts) —
    feed `chunk_by_heading` for the reference's markdown-splitter shape.
    """
    # explicit pruning before the UDF; ORDER IS LOAD-BEARING — the Arrow
    # stage addresses input columns positionally (batch.column(i))
    df = pages.select("url", "warc_ts", "lang", "html", F.col("warc_day").cast("string"))
    return df.mapInArrow(
        functools.partial(_extract_batches, markdown=markdown), schema=EXTRACTED_SCHEMA
    )
