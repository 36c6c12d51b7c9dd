"""Print the physical plans that matter, with the properties to look for.

    python scripts/show_plans.py [sf_dir]

For each plan: what to check (PushedFilters reaching the scan, ReadSchema
pruned to referenced columns, BroadcastHashJoin on dimension sides, no
Exchange before the extraction UDF, explicit partitioning on the write
shuffle, one stage for a RAG query). tests/test_plans.py asserts these; this script makes them
visible for review.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def section(title: str, note: str, df) -> None:
    print("=" * 78)
    print(title)
    print("CHECK:", note)
    print("-" * 78)
    df.explain("formatted")


def rag_query(spark, tmp: str):
    """format_docs(lexical_rerank(retrieve_topk(read_collection(...)))) over
    a 60-chunk collection written under ``tmp``."""
    from document_ai_spark.functions.embed import embed_text_py
    from document_ai_spark.operators.retrieval import format_docs, lexical_rerank, retrieve_topk
    from document_ai_spark.sinks.collection import append_chunks, read_collection

    coll = os.path.join(tmp, "coll")
    texts = [f"chunk {i} on spark arrow batches and parquet footers {i * 7}" for i in range(60)]
    rows = [(i, f"https://example.com/{i % 6}", t, embed_text_py(t)) for i, t in enumerate(texts)]
    schema = "chunk_id long, url string, chunk_text string, embedding array<float>"
    append_chunks(spark.createDataFrame(rows, schema).repartition(3), coll)
    q = "parquet footers spark"
    return format_docs(lexical_rerank(retrieve_topk(read_collection(spark, coll), q, k=7), q))


def main() -> None:
    import __spark_entry__ as entry
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import compact_for_write, read_pages
    from document_ai_spark.session import get_spark
    from document_ai_spark.sources.pages import write_pages_parquet

    spark = get_spark(app_name="plans", master="local[8]")

    corpus = os.path.join(tempfile.gettempdir(), "da_spark_plan_pages")
    if not os.path.isdir(corpus):
        write_pages_parquet(corpus, 500, seed=42)

    section(
        "EXTRACTION (production plan)",
        "scan ReadSchema = exactly url/warc_ts/html/lang (no `text`); NO "
        "Exchange between Scan and the Arrow eval node (MapInArrow); one Exchange (hashpartitioning "
        "on warc_day + url-bucket) before the write",
        compact_for_write(extract_pages(read_pages(spark, corpus)), files_per_day=4),
    )
    section(
        "q01 pricing summary",
        "PushedFilters has LessThanOrEqual(l_shipdate,...); ReadSchema has no "
        "l_partkey/l_tax; partial then final HashAggregate",
        entry.q01_pricing_summary(spark, SF_DIR),
    )
    section(
        "q27 shipping priority (TPC-H Q3 shape)",
        "both date filters pushed; EqualTo(c_mktsegment,BUILDING) pushed; "
        "customer side BroadcastHashJoin",
        entry.q27_shipping_priority(spark, SF_DIR),
    )
    section(
        "q06 cosine top-k",
        "TakeOrderedAndProject (top-k without full sort)",
        entry.q06_topk_cosine(spark, SF_DIR),
    )
    with tempfile.TemporaryDirectory(prefix="da_spark_plan_coll_") as tmp:
        section(
            "RAG query (perfbench's rag-query shape over a small collection)",
            "ONE MapInArrow; NO Exchange; TakeOrderedAndProject -> Sort -> "
            "ObjectHashAggregate in one stage (one Spark job per query: the "
            "collection's schema comes from its footer, not a job)",
            rag_query(spark, tmp),
        )
    spark.stop()


if __name__ == "__main__":
    main()
