"""Materialized ANN index tables: build once, probe pruned.

The query-time paths in operators/similarity.py assign every vector its
bucket per query. This module is their scale path: the same steps —
``similarity._assign_buckets`` (the numpy bucket function
``_bucket_ids``, one pass per Arrow batch), an ``isin`` over the probe set
(``_probe_clusters`` / ``_probe_prefixes``: the same function applied to
the query on the driver), ``brute_force_topk`` — with the assignment
written once as a partition column:

  * ``build_ann_index`` writes the embedding table IDENTITY-PARTITIONED
    by its bucket id (IVF nearest centroid or LSH sign-sketch prefix) via
    ``Catalog.write_partitioned``: one directory (Parquet) / identity
    transform (Iceberg) per bucket.
  * ``ivf_topk_indexed`` / ``lsh_topk_indexed`` read it and ``isin``-filter
    the partition column. Catalyst turns that into PartitionFilters at the
    scan: only the probed directories' files are opened
    (tests/test_ann_index.py pins the pruned file count from the executed
    plan), so a probe reads ~nprobe/k of the corpus.

Reference analog: ChromaDB's persisted HNSW index (reference
services/ai_service/main.py:56-61) — built once at ingest, probed at
query time; here partition pruning replaces the graph walk.

Determinism: centroids come from train_ivf_centroids (exact-DECIMAL
Lloyd) and hyperplanes from blake2b — the bucket of a vector is a pure
function of its value, so rebuilding the index at any parallelism yields
byte-identical bucket assignment. A vector of another length than the
index's raises a ValueError naming its id (build: ``id_col``; append: the
frame's first column) instead of landing in a bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_ai_spark.operators.similarity import (
    _assign_buckets,
    _hyperplanes,
    _probe_clusters,
    _probe_prefixes,
    brute_force_topk,
    train_ivf_centroids,
)
from document_ai_spark.sources.catalog import Catalog


def _params_fingerprint(method: str, centroids: list | None, dim: int, n_planes: int, prefix_bits: int) -> str:
    """Deterministic digest of everything the bucket assignment depends
    on — equality of fingerprints <=> identical bucket function."""
    import hashlib
    import json

    if method == "ivf":
        blob = json.dumps(centroids, sort_keys=True).encode()
    else:
        blob = json.dumps([method, dim, n_planes, prefix_bits]).encode()
    return hashlib.blake2b(blob, digest_size=16).hexdigest()


def build_ann_index(
    emb: DataFrame,
    catalog: Catalog,
    table: str,
    method: str = "ivf",
    centroids: list | None = None,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    prefix_bits: int = 8,
    dim: int | None = None,
) -> list:
    """Assign each vector its coarse bucket and write ``table`` identity-
    partitioned by it, plus a ``<table>__meta`` SIDECAR table recording a
    fingerprint of the bucket function (method + centroids / dim +
    hyperplane params) — appends validate against it so an index can
    never silently mix incompatible bucketings. Returns the probe
    metadata (IVF: the centroid list; LSH: the hyperplane matrix as
    nested lists).

    method='ivf'  -> partition column ``ivf_cluster`` (nearest centroid;
                     centroids trained here unless passed in).
    method='lsh'  -> partition column ``sketch_prefix`` (low
                     ``prefix_bits`` bits of the sign-sketch).
    """
    if method == "ivf" and centroids is None:
        centroids = train_ivf_centroids(emb, k=n_clusters, vec_col=vec_col, id_col=id_col)
    indexed, part_col, dim = _assign_buckets(
        emb, method, centroids, id_col, vec_col, n_planes, prefix_bits, dim=dim
    )
    catalog.write_partitioned(indexed, table, [part_col])
    fp = _params_fingerprint(method, centroids, dim, n_planes, prefix_bits)
    meta = emb.sparkSession.createDataFrame(
        [(method, fp, dim, n_planes, prefix_bits)],
        "method string, fingerprint string, dim int, n_planes int, prefix_bits int",
    )
    if catalog.iceberg:
        catalog.drop(f"{table}__meta")
        catalog.append(meta.coalesce(1), f"{table}__meta")
    else:
        meta.coalesce(1).write.mode("overwrite").parquet(
            catalog.identifier(f"{table}__meta")
        )
    if method == "ivf":
        return centroids
    return [list(row) for row in _hyperplanes(dim, n_planes)]


def append_to_ann_index(
    emb: DataFrame,
    catalog: Catalog,
    table: str,
    method: str = "ivf",
    centroids: list | None = None,
    vec_col: str = "embedding",
    n_planes: int = 16,
    prefix_bits: int = 8,
) -> None:
    """INCREMENTAL index maintenance: assign the new vectors with the
    EXISTING probe metadata (the centroids the index was built with /
    the deterministic hyperplanes) and append their partitions — no
    retrain, no rewrite of existing buckets. This is the arriving-data
    path of the index-is-a-table design: because the bucket of a vector
    is a pure function of (vector, metadata), appended rows land in the
    same directories probes already prune to, and a probe issued mid-
    append sees a consistent prefix. The append is validated against the
    ``<table>__meta`` sidecar fingerprint — mismatched centroids /
    hyperplane params / dim raise instead of silently landing rows in
    buckets probes never read, and a table without a sidecar raises
    (rebuild it). Retrain + rebuild (build_ann_index) only when drift
    degrades recall — the same build/refresh split as any IVF service."""
    if not catalog.exists(f"{table}__meta"):
        raise ValueError(
            f"append_to_ann_index: {table!r} has no {table}__meta sidecar; "
            "rebuild it with build_ann_index"
        )
    # the sidecar carries the dim the index was built with, so the append
    # path launches no data-side driver job at all (k×dim centroids / a
    # 5-field meta row are the only driver reads)
    meta = catalog.read(f"{table}__meta").first()
    # a row of the wrong length is named by the frame's first column
    indexed, part_col, dim = _assign_buckets(
        emb, method, centroids, emb.columns[0], vec_col, n_planes, prefix_bits, dim=meta.dim
    )
    # validate against the sidecar the build wrote: appending with
    # different hyperplane params / centroids / dim would place rows in
    # buckets probes never read — fail loudly instead
    fp = _params_fingerprint(method, centroids, dim, n_planes, prefix_bits)
    if meta.method != method or meta.fingerprint != fp:
        raise ValueError(
            f"append_to_ann_index: bucket-function mismatch for {table!r} "
            f"(index built as {meta.method}/{meta.fingerprint}, append is {method}/{fp})"
        )
    catalog.write_partitioned(indexed, table, [part_col], mode="append")


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
    """IVF probe against a table written by build_ann_index(method='ivf'):
    the ``isin`` over the partition column becomes PartitionFilters at
    the parquet scan — only the nprobe probed directories are read.
    nprobe == len(centroids) reads everything and is exact (q47's
    recall contract); any nprobe returns what similarity.ivf_topk does."""
    probe = _probe_clusters(query_vec, centroids, nprobe)
    cand = catalog.read(table).filter(F.col("ivf_cluster").isin(probe))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def lsh_topk_indexed(
    catalog: Catalog,
    table: str,
    query_vec: list,
    k: int = 7,
    n_planes: int = 16,
    prefix_bits: int = 8,
    multi_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH against a table written by
    build_ann_index(method='lsh'): the probe set (hamming ball around the
    query's prefix) is enumerated driver-side and pushed as an ``isin``
    partition filter — the pruned-probe demonstration of q23's documented
    scale path. Returns what similarity.lsh_bucketed_topk does with the
    same parameters."""
    probe = _probe_prefixes(query_vec, n_planes, prefix_bits, multi_probe)
    cand = catalog.read(table).filter(F.col("sketch_prefix").isin(probe))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)
