"""Per-layer measurements of a traced run (``--trace 1``).

After the workload's own timed loop, a traced run walks the whole chain
once — kernel, extraction, the production job and its checkpoint, the
ingest layers, retrieval — with a span around each call into the program,
then repeats the workload's own operation inside a span. The layers the
workload exercises run on its own corpus, the others on its small warm
corpus. Every layer is timed by calling its public function from
here; nothing inside ``document_ai_spark`` is instrumented.

Which end-to-end metric each layer metric should move, on which workload,
is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import oracle
from perfbench.trace import Tracer
from perfbench.workloads import (
    CORES,
    CrawlExtract,
    RagIngest,
    RagQuery,
    build_collection,
    extract_job,
    ingest,
    make_queries,
    parquet_files,
    query,
    read_dir,
    read_table,
)

KERNEL_SAMPLE = {"html": 400, "pdf": 150}
PROBE_QUERIES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_rates(corpus) -> dict:
    """Single-thread docs/s of direct kernel calls on a fixed sample."""
    from document_ai_spark.kernel.extract import extract_document

    out = {}
    for kind, n in KERNEL_SAMPLE.items():
        sample = [r["html"] for r in corpus.rows if corpus.extracted[r["url"]]["kind"] == kind][:n]
        if not sample:
            raise ValueError(f"the corpus has no {kind} document to time the kernel on")
        done, t0 = 0, time.perf_counter()
        while done == 0 or time.perf_counter() - t0 < 0.5:
            for payload in sample:
                extract_document(payload)
            done += len(sample)
        out[f"kernel.{kind}_docs_per_s"] = done / (time.perf_counter() - t0)
    return out


def measure(spark, wl, res, tracer: Tracer) -> tuple:
    """-> (per-layer metrics, context lines)."""
    from pyspark.sql import functions as F

    from document_ai_spark.functions.embed import embed_udf
    from document_ai_spark.operators.chunking import chunk_fixed
    from document_ai_spark.operators.dedup import dedup_new_vs_existing
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.operators.retrieval import format_docs, lexical_rerank, retrieve_topk
    from document_ai_spark.plans import checkpoint
    from document_ai_spark.plans.pipeline import read_pages
    from document_ai_spark.sinks.collection import append_chunks, read_collection

    c = wl.corpus
    m = kernel_rates(c)
    span = tracer.span
    # layers the workload does not exercise are walked on its small warm
    # corpus, to keep the traced run short
    ext = c if isinstance(wl, CrawlExtract) else wl.warm
    rag = c if isinstance(wl, (RagIngest, RagQuery)) else wl.warm

    # extraction alone: scan -> mapInArrow, forced by a noop write
    with span("extraction.noop") as noop:
        _noop(extract_pages(read_pages(spark, ext.pages_dir)))
    m["extraction.noop_s"] = noop["wall_s"]
    m["extraction.busy_s"] = noop["run_s"]
    m["extraction.task_skew"] = noop["task_max_s"] / max(noop["task_p50_s"], 1e-3)
    m["kernel.share"] = ext.kernel_core_s / (CORES * noop["wall_s"])

    # the production job; its write side is whatever extraction alone is not
    out, run = wl.path("trace", "out"), wl.path("trace", "run")
    with span("pipeline.job") as job:
        extract_job(spark, ext.pages_dir, out, run)
    m["pipeline.write_s"] = job["wall_s"] - noop["wall_s"]
    m["pipeline.shuffle_write_mb"] = job["shuffle_write_mb"]
    m["pipeline.output_files"] = len(parquet_files(out))
    m["pipeline.jobs"] = job["jobs"]
    m["extraction.error_docs"] = sum(r["kind"] == "error" for r in read_dir(out, ["kind"]))
    with span("checkpoint.done_groups") as done:
        checkpoint.done_groups(spark, run)
    with span("checkpoint.resume_noop") as resume:
        extract_job(spark, ext.pages_dir, out, run)
    m["checkpoint.done_groups_s"] = done["wall_s"]
    m["checkpoint.resume_noop_s"] = resume["wall_s"]

    # ingest layers one at a time, each on the previous layer's staged output
    if isinstance(wl, RagIngest):
        base = wl.base
    else:
        base = wl.path("trace", "base_coll")
        with span("collection.build"):
            build_collection(spark, os.path.join(rag.docs_dir, "base.parquet"), base)
    coll, stage = wl.path("trace", "coll"), wl.path("trace", "stage")
    shutil.copytree(base, coll)
    offer = spark.read.parquet(os.path.join(rag.docs_dir, "offer.parquet"))
    new = dedup_new_vs_existing(offer, read_collection(spark, coll))
    with span("dedup") as dedup:
        _noop(new)
    new.write.parquet(os.path.join(stage, "new"))
    new = spark.read.parquet(os.path.join(stage, "new"))
    chunks = chunk_fixed(new.select("url", "doc_hash", "text"))
    with span("chunking") as chunking:
        _noop(chunks)
    chunks.write.parquet(os.path.join(stage, "chunks"))
    chunks = spark.read.parquet(os.path.join(stage, "chunks"))
    embedded = chunks.withColumn("embedding", embed_udf(F.col("chunk_text")))
    with span("embed") as embed:
        _noop(embedded)
    embedded.write.parquet(os.path.join(stage, "embedded"))
    with span("collection.append") as append:
        append_chunks(spark.read.parquet(os.path.join(stage, "embedded")), coll)
    rows_in, rows_out, n_chunks = offer.count(), new.count(), chunks.count()
    m["dedup.s"] = dedup["wall_s"]
    m["dedup.rows_in"] = rows_in
    m["dedup.rows_out"] = rows_out
    m["chunking.s"] = chunking["wall_s"]
    m["chunking.chunks_per_doc"] = n_chunks / max(rows_out, 1)
    m["embed.chunks_per_s"] = n_chunks / embed["wall_s"]
    m["collection.append_s"] = append["wall_s"]

    # retrieval, on the collection the workload queries, else on one of the
    # warm corpus
    if isinstance(wl, RagQuery):
        target = wl.coll
    elif rag is wl.warm:
        target = coll
    else:
        target = wl.path("trace", "warm_coll")
        build_collection(spark, os.path.join(wl.warm.docs_dir, "all.parquet"), target)
    files = parquet_files(target)
    m["collection.files"] = len(files)
    m["collection.bytes_per_chunk"] = sum(map(os.path.getsize, files)) / read_table(target, ["chunk_id"]).num_rows
    topk, fold, scanned, tasks = [], [], [], []
    for q in make_queries(c, wl.seed + 1, PROBE_QUERIES):
        top_df = retrieve_topk(read_collection(spark, target), q, k=oracle.TOP_K)
        with span("retrieval.topk") as s:
            rows = top_df.collect()
        local = spark.createDataFrame(rows, schema=top_df.schema)
        with span("retrieval.rerank_format") as f:
            format_docs(lexical_rerank(local, q)).collect()
        topk.append(s["wall_s"])
        fold.append(f["wall_s"])
        scanned.append(s["input_records"])
        tasks.append(s["tasks"])
    m["retrieval.topk_s"] = statistics.median(topk)
    m["retrieval.rerank_format_s"] = statistics.median(fold)
    m["retrieval.chunks_scanned"] = statistics.median(scanned)
    m["retrieval.tasks"] = statistics.median(tasks)

    # the workload's own operation once more, inside a span
    if isinstance(wl, RagQuery):
        with span("op") as op:
            query(spark, wl.coll, wl.queries[0])
    elif isinstance(wl, RagIngest):
        op_coll = wl.path("trace", "op_coll")
        shutil.copytree(wl.base, op_coll)
        with span("op") as op:
            ingest(spark, wl.offer, op_coll)
    else:
        op = job  # the traced production job above is this workload's operation
    untraced = statistics.median(res.op_walls)
    m["spark.gc_s"] = op["gc_s"]
    m["spark.spill_mb"] = op["spill_mb"]
    m["trace.overhead_s"] = op["wall_s"] - untraced

    context = [
        f"extraction wall split: job {job['wall_s']:.3f} s = extraction.noop_s {noop['wall_s']:.3f}"
        f" + pipeline.write_s {m['pipeline.write_s']:.3f} ({ext.n_docs} docs);"
        f" kernel core-seconds {ext.kernel_core_s:.3f}"
        f" = kernel.share {m['kernel.share']:.3f} x {CORES} cores x extraction.noop_s",
        f"dedup kept {rows_out} of {rows_in} offered docs; {n_chunks} chunks",
        f"tracing overhead: traced op {op['wall_s']:.4f} s - untraced median {untraced:.4f} s"
        f" = {m['trace.overhead_s']:.4f} s",
    ]
    return m, context
