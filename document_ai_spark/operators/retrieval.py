"""Retrieval query path: top-k -> deterministic rerank -> context fold.

Spark re-expression of the reference's RAG chain (SURVEY.md §3.2):
retrieve k=7 by cosine (reference services/ai_service/query_llm.py:33-35;
scored by similarity.brute_force_topk's kernel)
-> LLM listwise rerank (:40-43, replaced by a deterministic lexical-overlap
rescorer for testability) -> format_docs context fold
(reference services/ai_service/utils/query.py:69-101: "\n\n"-joined, each
chunk suffixed "[Source: path, Chunk: id]"). The LLM generation step is an
external model service, out of data-plane scope.

A query over ``sinks.collection.read_collection`` is ONE Spark job: the
read is typed from the collection's footer, and the top-k, rerank sort and
fold run in one stage (TakeOrderedAndProject -> Sort ->
ObjectHashAggregate, no Exchange). With so little data, building the plan
is a large share of a query, so the rerank and fold are built from few
driver -> JVM calls: ``F`` functions rather than Column methods, and the
fold as one constant SQL expression that no query text enters.
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
    chunk_id).

    ``lower(chunk_text)`` is built once; each term is one literal
    ``contains`` against it, so a term matches as a plain substring (no
    LIKE or regex characters) and query text never enters SQL. A null
    chunk_text matches no term. The plan is built from ``F`` functions,
    about 3 driver -> JVM calls each, not Column methods, which cost about
    11 (PySpark records each one's call site)."""
    terms = sorted({t.lower() for t in query.split() if t})
    score = F.lit(0.0)  # no query terms: every row 0.0, still sorted
    if terms:
        text = F.lower(F.coalesce(F.col("chunk_text"), F.lit("")))
        found = F.array(*[F.contains(text, F.lit(t)) for t in terms])
        hits = F.size(F.array_remove(found, False))  # terms present
        score = F.round(hits / len(terms), 4)
    out = retrieved.withColumn("rerank_score", score)
    return out.orderBy(F.desc("rerank_score"), F.desc("score"), F.asc("chunk_id"))


# ascending on (-score, chunk_id) is (score desc, chunk_id asc): one JVM
# sort, no per-pair lambda comparator; Spark orders -0.0 == 0.0. The SQL
# literals hold real newline characters, not escapes, so the session's
# escapedStringLiterals setting cannot change them.
_CONTEXT_SQL = (
    "concat_ws('\n\n', sort_array(collect_list(struct("
    "-score AS s, chunk_id AS i, "
    "format_string('%s\n[Source: %s, Chunk: %s]', chunk_text, url, chunk_id) AS fmt"
    "))).fmt) AS context"
)


def format_docs(retrieved: DataFrame) -> DataFrame:
    """Order-sensitive context fold (A5): one row with the prompt context:
    chunks sorted by (score desc, chunk_id), formatted
    '{chunk_text}\n[Source: {url}, Chunk: {chunk_id}]' and joined with
    '\n\n'. One ``agg`` over one constant SQL expression, _CONTEXT_SQL."""
    return retrieved.agg(F.expr(_CONTEXT_SQL))
