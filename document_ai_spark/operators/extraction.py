"""The core extraction operator: Arrow-batched mapInArrow over raw payloads.

Spark re-expression of the reference's per-batch convert stage
(reference services/ai_service/add_documents.py:43-44 ->
document_conversion/docling_pdf_loader.py:26-33), per SURVEY.md U1/X3:

    pages --scan-aligned--> mapInArrow(extract_batch)

Design for 100 TB:
  * mapInArrow (iterator of pyarrow RecordBatches) — pipelined, no
    per-partition materialization, and NO pandas detour: input columns
    the kernel doesn't touch (url, warc_ts, lang, warc_day) pass through
    zero-copy, by name. The kernel's result tuples are transposed, and
    each new column is one ``pa.array`` typed by the Arrow form of
    EXTRACTED_SCHEMA, so the span dicts become the list<struct> column
    with no second copy of its type.
  * no shuffle: the stage runs on the scan's own splits (8 MB parquet
    splits, one task per WARC file). Skew is handled after extraction by
    the pipeline's one write shuffle on (warc_day, url bucket) — see
    plans/pipeline.compact_for_write — which moves only the extracted
    output, much smaller than the html input; after it, a second Arrow
    stage writes the files with pyarrow (plans/pipeline._write_files).
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
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    from document_ai_spark.kernel.extract import extract_document

    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    made = ("doc_hash", "kind", "text", "spans", "n_chars", "n_blocks", "error")
    for batch in batches:
        html = batch.column("html")
        results = [extract_document(b, markdown=markdown) for b in html.to_pylist()]
        values = zip(*results) if results else [()] * len(made)
        columns = {k: pa.array(v, schema.field(k).type) for k, v in zip(made, values)}
        columns["bytes_in"] = pc.binary_length(html).fill_null(0).cast(pa.int64())
        yield pa.RecordBatch.from_arrays(
            [columns[n] if n in columns else batch.column(n) for n in schema.names],
            names=schema.names,
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
    # only the columns the stage reads or passes through enter it
    df = pages.select("url", "warc_ts", "lang", "html", F.col("warc_day").cast("string"))
    return df.mapInArrow(
        functools.partial(_extract_batches, markdown=markdown), schema=EXTRACTED_SCHEMA
    )
