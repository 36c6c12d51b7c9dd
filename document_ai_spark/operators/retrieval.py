"""Retrieval query path: top-k -> deterministic rerank -> context fold.

Spark re-expression of the reference's RAG chain (SURVEY.md §3.2):
retrieve k=7 by cosine (reference services/ai_service/query_llm.py:33-35;
scored by similarity.brute_force_topk's kernel)
-> LLM listwise rerank (:40-43, replaced by a deterministic lexical-overlap
rescorer for testability) -> format_docs context fold
(reference services/ai_service/utils/query.py:69-101: "\n\n"-joined, each
chunk suffixed "[Source: path, Chunk: id]"). The LLM generation step is an
external model service, out of data-plane scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_ai_spark.functions.embed import embed_text_py
from document_ai_spark.operators.similarity import _exact_topk


def retrieve_topk(chunks: DataFrame, query: str, k: int = 7) -> DataFrame:
    """Embed the query (driver-side, same hashed-feature function as the
    corpus) and take exact cosine top-k of ``embedding``, ties by
    ``chunk_id`` -> the chunk columns + score."""
    return _exact_topk(chunks, embed_text_py(query), k, "chunk_id", "embedding")


def lexical_rerank(retrieved: DataFrame, query: str) -> DataFrame:
    """Deterministic stand-in for the reference's LLM listwise rerank:
    rescore by query-term overlap (count of query tokens present in the
    chunk_text / #query tokens), then re-sort by (rerank_score, score,
    chunk_id)."""
    terms = sorted({t.lower() for t in query.split() if t})
    score = F.lit(0.0)  # no query terms: every row 0.0, still sorted
    if terms:
        hits = sum(F.when(F.lower(F.col("chunk_text")).contains(t), 1).otherwise(0) for t in terms)
        score = F.round(hits / F.lit(len(terms)), 4)
    out = retrieved.withColumn("rerank_score", score)
    return out.orderBy(F.desc("rerank_score"), F.desc("score"), F.asc("chunk_id"))


def format_docs(retrieved: DataFrame) -> DataFrame:
    """Order-sensitive context fold (A5): one row with the prompt context:
    chunks sorted by (score desc, chunk_id), formatted
    '{chunk_text}\n[Source: {url}, Chunk: {chunk_id}]' and joined with
    '\n\n'."""
    formatted = retrieved.select(
        "score",
        "chunk_id",
        F.format_string(
            "%s\n[Source: %s, Chunk: %s]", F.col("chunk_text"), F.col("url"), F.col("chunk_id")
        ).alias("fmt"),
    )
    # ascending on (-score, chunk_id) is (score desc, chunk_id asc): one
    # JVM sort, no per-pair lambda comparator; Spark orders -0.0 == 0.0
    return formatted.agg(
        F.concat_ws(
            "\n\n",
            F.sort_array(
                F.collect_list(F.struct((-F.col("score")).alias("s"), F.col("chunk_id").alias("i"), "fmt"))
            ).getField("fmt"),
        ).alias("context")
    )
