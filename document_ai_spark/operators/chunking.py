"""Chunk splitting: 1 document row -> N chunk rows (SURVEY.md U2/T4/F6).

Capability analog of the reference's markdown splitter
(reference services/ai_service/document_conversion/document_splitter.py:17-33:
langchain MarkdownTextSplitter, chunk_size=4000 chars, overlap=200, and
chunk ids f"{file_path}_chunk_{i}" at :31). One chunker per shape, both
JVM-only column expressions (no Python in the plan, whole-stage codegen):

1. ``chunk_fixed`` — sliding char window (sequence/transform/substring).
   The RAG ingest chunks with it at 4000/200.
2. ``chunk_by_heading`` — a heading plus its section, over structure-marked
   (markdown) text.

Both read the ``text`` column and emit, through one row builder, the
input's other columns then chunk_index, chunk_id
(``functions.scalars.chunk_id``: "{id}_chunk_{i}"), chunk_text,
char_start, char_end (offsets into the text; text[start:end] == chunk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from document_ai_spark.functions.scalars import chunk_id


def _chunk_rows(df: DataFrame, chunks: Column, id_col: str) -> DataFrame:
    """One row per element of ``chunks`` (structs of chunk_index,
    chunk_text, char_start, char_end): df's columns except ``text``, then
    the chunk columns, the id named after ``id_col``."""
    keep = [c for c in df.columns if c != "text"]
    return df.select(*keep, F.explode(chunks).alias("c")).select(
        *keep,
        "c.chunk_index",
        chunk_id(F.col(id_col), F.col("c.chunk_index")).alias("chunk_id"),
        "c.chunk_text",
        "c.char_start",
        "c.char_end",
    )


def _fixed_chunks_col(text: Column, chunk_size: int, overlap: int) -> Column:
    step = chunk_size - overlap
    if step <= 0:
        raise ValueError("chunk_size must exceed overlap")
    n = F.length(text)
    n_chunks = (F.floor((n - F.lit(1)) / F.lit(step)) + F.lit(1)).cast("int")
    idx = F.when(n > 0, F.sequence(F.lit(0), n_chunks - F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_index"),
            F.substring(text, i * step + 1, chunk_size).alias("chunk_text"),
            (i * step).cast("long").alias("char_start"),
            F.least(i.cast("long") * step + chunk_size, n.cast("long")).alias("char_end"),
        ),
    )


def chunk_fixed(
    df: DataFrame,
    id_col: str = "url",
    chunk_size: int = 4000,
    overlap: int = 200,
) -> DataFrame:
    """Explode df into chunk rows using the JVM-only sliding window.

    Output: all columns but ``text`` + (chunk_index, chunk_id,
    chunk_text, char_start, char_end). Empty/null text -> zero rows
    (matches the reference: no chunks from an empty document).
    """
    return _chunk_rows(df, _fixed_chunks_col(F.col("text"), chunk_size, overlap), id_col)


def chunk_by_heading(df: DataFrame) -> DataFrame:
    """Split structure-marked text at markdown heading boundaries: each
    chunk is a heading plus its following content, until the next heading
    (the MarkdownHeaderTextSplitter shape — reference parity for
    document_splitter.py's structure-aware chunking over
    export_to_markdown output). Chunk ids are named after ``url``.

    Formulation is lookahead-free so the DuckDB oracle can mirror it in
    RE2: any pre-existing U+0001 is STRIPPED (it is the split sentinel;
    offsets refer to the cleaned text), then the boundary string
    "\\n\\n#" is literal-replaced with "\\x01#" and split on \\x01.
    Offsets are computed PER ROW with higher-order array functions
    (transform + slice/aggregate prefix sums) — no window, hence NO
    SHUFFLE and no cross-row state: rows sharing a url cannot corrupt
    each other's offsets (their chunk_ids still collide — the url must
    identify the row, same contract as chunk_fixed). Offsets re-add the
    removed "\\n\\n" separators, so
    ``cleaned_text[char_start:char_end] == chunk_text``. Empty/null
    text -> zero rows.
    """
    cleaned = F.replace(F.col("text"), F.lit("\x01"), F.lit(""))
    # the text column now holds its parts (an array computed once per
    # row, not once per lambda call); the row builder drops it
    parted = df.filter(F.length(cleaned) > 0).withColumn(
        "text", F.split(F.replace(cleaned, F.lit("\n\n#"), F.lit("\x01#")), "\x01")
    )
    parts = F.col("text")

    def _chunk(x: Column, i: Column) -> Column:
        # prefix-sum offsets per element: chunks-per-doc is small, so the
        # O(chunks^2) slice+aggregate stays trivial and entirely codegen'd
        before = F.slice(parts, F.lit(1), i)
        start = F.aggregate(before, F.lit(0).cast("long"), lambda a, y: a + F.length(y))
        start = start + i.cast("long") * 2
        return F.struct(
            i.cast("int").alias("chunk_index"),
            x.alias("chunk_text"),
            start.alias("char_start"),
            (start + F.length(x)).cast("long").alias("char_end"),
        )

    return _chunk_rows(parted, F.transform(parts, _chunk), "url")
