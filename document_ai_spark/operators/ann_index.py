"""Materialized ANN index tables: build once, probe pruned.

The query-time paths in operators/similarity.py assign every vector its
bucket per query. This module is the scale path of one of them, IVF
(``ivf_topk``): the same steps — the nearest-centroid column
(``similarity._with_buckets``: the numpy bucket function ``_bucket_ids``,
one pass per Arrow batch), an ``isin`` over the probe set
(``_probe_clusters``: the same function applied to the query on the
driver), ``brute_force_topk`` — with the assignment written once as a
partition column:

  * ``build_ann_index`` writes the embedding table IDENTITY-PARTITIONED
    by ``ivf_cluster`` via ``Catalog.write_partitioned``: one directory
    (Parquet) / identity transform (Iceberg) per cluster.
  * ``ivf_topk_indexed`` reads it and ``isin``-filters the partition
    column. Catalyst turns that into PartitionFilters at the scan: only
    the probed directories' files are opened (tests/test_ann_index.py
    pins the pruned file count from the executed plan), so a probe reads
    ~nprobe/k of the corpus.

LSH stays a query-time path (``similarity.lsh_bucketed_topk``); it has
no materialized index.

Reference analog: ChromaDB's persisted HNSW index (reference
services/ai_service/main.py:56-61) — built once at ingest, probed at
query time; here partition pruning replaces the graph walk.

Determinism: centroids come from train_ivf_centroids (exact-DECIMAL
Lloyd), so the cluster of a vector is a pure function of its value, and
rebuilding the index at any parallelism yields byte-identical cluster
assignment. A vector of another length than the centroids raises a
ValueError naming its id (build: ``id_col``; append: the frame's first
column) instead of landing in a cluster.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_ai_spark.operators.similarity import (
    _probe_clusters,
    _with_buckets,
    brute_force_topk,
    train_ivf_centroids,
)
from document_ai_spark.sources.catalog import Catalog


def _fingerprint(centroids: list) -> str:
    """Digest of the centroids: equal fingerprints <=> the same bucket
    function."""
    return hashlib.blake2b(json.dumps(centroids, sort_keys=True).encode(), digest_size=16).hexdigest()


def build_ann_index(
    emb: DataFrame,
    catalog: Catalog,
    table: str,
    centroids: list | None = None,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Assign each vector its nearest centroid (trained here unless
    passed in) and write ``table`` identity-partitioned by
    ``ivf_cluster``, plus a ``<table>__meta`` SIDECAR table holding the
    centroids' fingerprint — appends validate against it so an index can
    never silently mix two bucketings. Returns the centroid list (the
    probe metadata). An empty centroid list (an empty embedding table, or
    ``centroids=[]``) raises before anything is written."""
    if centroids is None:
        centroids = train_ivf_centroids(emb, k=n_clusters, vec_col=vec_col, id_col=id_col)
    if not centroids:
        raise ValueError(f"build_ann_index: no centroids for {table!r}; is the embedding table empty?")
    indexed = _with_buckets(emb, centroids, id_col, vec_col, "ivf_cluster")
    catalog.write_partitioned(indexed, table, ["ivf_cluster"])
    meta = emb.sparkSession.createDataFrame([(_fingerprint(centroids),)], "fingerprint string")
    catalog.drop(f"{table}__meta")
    catalog.append(meta.coalesce(1), f"{table}__meta")
    return centroids


def append_to_ann_index(
    emb: DataFrame,
    catalog: Catalog,
    table: str,
    centroids: list,
    vec_col: str = "embedding",
) -> None:
    """INCREMENTAL index maintenance: assign the new vectors with the
    centroids the index was built with and append their partitions — no
    retrain, no rewrite of existing clusters. Because the cluster of a
    vector is a pure function of (vector, centroids), appended rows land
    in the same directories probes already prune to, and a probe issued
    mid-append sees a consistent prefix. The centroids are validated
    against the ``<table>__meta`` sidecar's fingerprint first: other
    centroids raise instead of landing rows in clusters probes never
    read, and a table without a sidecar raises (rebuild it). Retrain +
    rebuild (build_ann_index) only when drift degrades recall — the same
    build/refresh split as any IVF service."""
    if not catalog.exists(f"{table}__meta"):
        raise ValueError(
            f"append_to_ann_index: {table!r} has no {table}__meta sidecar; "
            "rebuild it with build_ann_index"
        )
    built = catalog.read(f"{table}__meta").first().fingerprint
    fp = _fingerprint(centroids)
    if built != fp:
        raise ValueError(
            f"append_to_ann_index: bucket-function mismatch for {table!r} "
            f"(index built with centroids {built}, append has {fp})"
        )
    # a row of the wrong length is named by the frame's first column
    indexed = _with_buckets(emb, centroids, emb.columns[0], vec_col, "ivf_cluster")
    catalog.write_partitioned(indexed, table, ["ivf_cluster"], mode="append")


def ivf_topk_indexed(
    catalog: Catalog,
    table: str,
    query_vec: list,
    centroids: list,
    k: int = 7,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe against a table written by build_ann_index: the ``isin``
    over the partition column becomes PartitionFilters at the parquet
    scan — only the nprobe probed directories are read. nprobe ==
    len(centroids) reads everything and is exact (q47's recall
    contract); any nprobe returns what similarity.ivf_topk does."""
    probe = _probe_clusters(query_vec, centroids, nprobe)
    cand = catalog.read(table).filter(F.col("ivf_cluster").isin(probe))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)
