"""Similarity search over embedding columns (SURVEY.md T1 + ANN scale path).

Capability analog of the reference's ChromaDB cosine top-k retrieval
(k=7, hnsw:space=cosine; reference services/ai_service/query_llm.py:33-35,
services/ai_service/main.py:56-61). One exact scorer, brute_force_topk:
numpy per Arrow batch (``mapInArrow``, the query in the closure), each
batch's top-k, then one global ``orderBy(score desc, id asc).limit(k)``.
Its scores are bit-identical to ``F.round(cosine_sim(vec, q), 4)``.
Every other top-k path runs it on a candidate set: batch_topk scores many
queries per batch; lsh_bucketed_topk / ivf_topk keep the rows whose bucket
is in the query's probe set, and operators/ann_index.py runs the IVF steps
over a table partitioned by ``ivf_cluster``, so the probe prunes files.

One bucket function, ``_bucket_ids``, computes every bucket: the sign-
sketch prefix against the hyperplanes (LSH) or the nearest centroid by
cosine (IVF), with the scorer's left-to-right folds. It runs per Arrow
batch on the rows (inside the scoring stage of lsh_bucketed_topk /
ivf_topk; as the ``_with_buckets`` column of ``assign_cluster``, the
index build and the Lloyd step of train_ivf_centroids) and on the 1 x dim
query for its probe set (``_probe_prefixes`` / ``_probe_clusters``), so a
query and its own row always share a bucket. A vector of another length
than the query's, the centroids' or the hyperplanes' raises a ValueError
naming its id.
"""

from __future__ import annotations

import decimal
import hashlib
from itertools import combinations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# rounding moves a score <= 0.5e-4, so a row 1e-4 below the k-th raw score
# rounds strictly below it (rounding is monotone); 1e-4 more for float error
_ROUND_SLACK = 2e-4


def _seq_sum(m: np.ndarray) -> np.ndarray:
    """Row sums accumulated left to right, as cosine_sim's aggregate() folds."""
    return np.cumsum(m, axis=-1)[..., -1]


def _round4(x: float) -> float:
    """Spark's round(x, 4): HALF_UP on the shortest repr, never -0.0."""
    d = decimal.Decimal(repr(float(x))).quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP)
    return float(d) + 0.0


def _batch_vectors(batch: pa.RecordBatch, id_col: str, vec_col: str, dim: int) -> np.ndarray:
    """The batch's vectors as an n x dim float64 matrix. A null vector, or
    one holding a null, is a zero row (cosine_sim scores it 0.0); any other
    length than ``dim`` (the query's, the centroids' or the hyperplanes')
    raises, naming the row's ``id_col``."""
    col = batch.column(vec_col)
    lens = pc.list_value_length(col).fill_null(dim).to_numpy(zero_copy_only=False)
    if (lens != dim).any():
        i = int(np.argmax(lens != dim))
        rid = batch.column(id_col)[i].as_py()
        raise ValueError(f"{vec_col} of {id_col}={rid!r} has {lens[i]} dims, not {dim}")
    valid = np.flatnonzero(col.is_valid().to_numpy(zero_copy_only=False))
    flat = col.flatten()
    m = np.zeros((len(col), dim))
    m[valid] = flat.to_numpy(zero_copy_only=False).reshape(-1, dim)
    if flat.null_count:
        m[valid[flat.is_null().to_numpy(zero_copy_only=False).reshape(-1, dim).any(axis=1)]] = 0.0
    return m


def _cosines(m: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    """cosine_sim of every row of ``m`` (row norms ``norms``) with ``q``,
    bit for bit: the same left-to-right folds. A zero row or q scores 0.0."""
    denom = norms * np.sqrt(_seq_sum(q * q))
    ok = denom > 0
    return np.where(ok, (_seq_sum(m * q) + 0.0) / np.where(ok, denom, 1.0), 0.0)


def _batch_topk(batch: pa.RecordBatch, queries: list, k: int, id_col: str, vec_col: str):
    """Per query, the batch's top-k under (4-dp score desc, id asc) ->
    (row indices, scores). Only rows within _ROUND_SLACK of the k-th raw
    score are rounded and sorted."""
    ids, m = batch.column(id_col), None
    for q in queries:
        if m is None or m.shape[1] != len(q):
            m = _batch_vectors(batch, id_col, vec_col, len(q))
            norms = np.sqrt(_seq_sum(m * m))
        raw = _cosines(m, norms, q)
        cand = np.arange(len(raw))
        if 0 < k < len(raw):
            kth = np.partition(raw, len(raw) - k)[len(raw) - k]
            cand = np.flatnonzero(raw >= kth - _ROUND_SLACK)
        top = sorted(zip((-_round4(raw[i]) for i in cand), ids.take(cand).to_pylist(), cand.tolist()))[:k]
        yield np.array([i for _, _, i in top], dtype=np.int64), [-s for s, _, _ in top]


def _scored(df: DataFrame, query_vecs: list, k: int, id_col: str, vec_col: str, keep=None) -> DataFrame:
    """Every column of ``df`` + score + _q (the query's index): the top-k
    rows of each Arrow batch for each query, among the rows ``keep`` (a
    batch -> boolean mask, e.g. an ANN probe) selects."""
    qs = [np.asarray(q, dtype=np.float64) for q in query_vecs]

    def score(batches):
        for b in batches:
            if keep is not None:
                b = b.filter(pa.array(keep(b)))
            for j, (rows, scores) in enumerate(_batch_topk(b, qs, k, id_col, vec_col)):
                top = b.take(rows).append_column("score", pa.array(scores, pa.float64()))
                yield top.append_column("_q", pa.array(np.full(len(rows), j, np.int32)))

    extra = [T.StructField("score", T.DoubleType()), T.StructField("_q", T.IntegerType())]
    return df.mapInArrow(score, T.StructType([*df.schema, *extra]))


def _exact_topk(df: DataFrame, query_vec: list, k: int, id_col: str, vec_col: str, keep=None) -> DataFrame:
    """brute_force_topk keeping every column of ``df`` (+ score)."""
    top = _scored(df, [query_vec], k, id_col, vec_col, keep).drop("_q")
    return top.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def brute_force_topk(
    emb: DataFrame, query_vec: list, k: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector -> (id, score)."""
    return _exact_topk(emb.select(id_col, vec_col), query_vec, k, id_col, vec_col).select(id_col, "score")


def batch_topk(
    emb: DataFrame, queries: DataFrame, k: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "query_id", qvec_col: str = "query_vec",
) -> DataFrame:
    """Top-k corpus vectors per query row -> (query_id, vec_id, score,
    rank). The queries are collected to the driver (they were broadcast
    before); a window over the per-batch top-k rows picks each query's k."""
    qrows = queries.select(qid_col, qvec_col).collect()
    keys = emb.sparkSession.createDataFrame(
        [(j, r[0]) for j, r in enumerate(qrows)],
        T.StructType([T.StructField("_q", T.IntegerType()), queries.schema[qid_col]]),
    )
    top = _scored(emb.select(id_col, vec_col), [r[1] for r in qrows], k, id_col, vec_col)
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        top.join(F.broadcast(keys), "_q")
        .select(qid_col, id_col, "score")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Candidate sets: LSH (random hyperplane) and IVF (inverted-file) buckets


def _hyperplanes(dim: int, n_planes: int, seed: bytes = b"document_ai_spark/lsh") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: rows are unit vectors whose
    components derive from blake2b(seed, plane, block) — no RNG state."""
    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        vals = []
        block = 0
        while len(vals) < dim:
            d = hashlib.blake2b(seed + b"|%d|%d" % (p, block), digest_size=64).digest()
            vals.extend(int.from_bytes(d[i : i + 2], "big") - 32768 for i in range(0, 64, 2))
            block += 1
        v = np.array(vals[:dim], dtype=np.float64)
        out[p] = v / np.linalg.norm(v)
    return out


def _bucket_ids(m: np.ndarray, weights: np.ndarray, prefix_bits: int | None = None) -> np.ndarray:
    """The ONE bucket function of every ANN path, for rows and queries
    alike: an n x dim matrix (``_batch_vectors``) -> bucket ids.

    LSH (``prefix_bits`` set, ``weights`` the hyperplanes): the low
    ``prefix_bits`` bits of the sign sketch, bit p set iff v·h_p > 0 ->
    shape (n,). IVF (``weights`` the centroids): centroid ids by cosine,
    descending, ties -> lowest id -> shape (n, k); column 0 is a row's
    cluster, and a query probes the first nprobe. Dot products are the
    _seq_sum folds, so an IVF score is cosine_sim's bit for bit, and a
    zero row (a null vector) scores 0.0 against every centroid."""
    if prefix_bits is not None:
        ids = np.zeros(len(m), dtype=np.int64)
        for p, h in enumerate(weights[:prefix_bits]):
            ids |= (_seq_sum(m * h) > 0).astype(np.int64) << p
        return ids
    norms = np.sqrt(_seq_sum(m * m))
    scores = np.stack([_cosines(m, norms, c) for c in weights], axis=1)
    return np.argsort(-scores, axis=1, kind="stable")


def _batch_buckets(
    batch: pa.RecordBatch, w: np.ndarray, prefix_bits: int | None, id_col: str, vec_col: str
) -> np.ndarray:
    """Every row's bucket in one Arrow batch: its LSH prefix or IVF
    cluster (``_bucket_ids``). A vector of another length than the
    weights raises a ValueError naming its ``id_col``."""
    ids = _bucket_ids(_batch_vectors(batch, id_col, vec_col, w.shape[1]), w, prefix_bits)
    return ids if prefix_bits is not None else ids[:, 0]


def _with_buckets(df: DataFrame, centroids, id_col: str, vec_col: str, out_col: str) -> DataFrame:
    """``df`` + ``out_col``: every row's IVF cluster (an int), one numpy
    pass per Arrow batch."""
    w = np.asarray(centroids, dtype=np.float64)

    def assign(batches):
        for b in batches:
            ids = _batch_buckets(b, w, None, id_col, vec_col)
            yield b.append_column(out_col, pa.array(ids.astype(np.int32)))

    return df.mapInArrow(assign, T.StructType([*df.schema, T.StructField(out_col, T.IntegerType())]))


def _probed_topk(
    emb: DataFrame, query_vec: list, k: int, id_col: str, vec_col: str, weights, prefix_bits, probe: list
) -> DataFrame:
    """brute_force_topk over the rows whose bucket is in ``probe``. The
    buckets are computed inside the scoring stage: a second Python stage
    chained before it can lose the ValueError of a wrong-length row to a
    CancelledKeyException."""
    w = np.asarray(weights, dtype=np.float64)

    def keep(b):
        return np.isin(_batch_buckets(b, w, prefix_bits, id_col, vec_col), probe)

    return _exact_topk(emb.select(id_col, vec_col), query_vec, k, id_col, vec_col, keep).select(id_col, "score")


def _probe_prefixes(query_vec: list, n_planes: int, prefix_bits: int, multi_probe: int) -> list:
    """Every sketch prefix within hamming distance ``multi_probe`` of the
    query's — sum_{h<=p} C(prefix_bits, h) values, enumerated driver-side."""
    q = np.asarray([query_vec], dtype=np.float64)
    qprefix = int(_bucket_ids(q, _hyperplanes(q.shape[1], n_planes), prefix_bits)[0])
    flips = (f for h in range(1, multi_probe + 1) for f in combinations(range(prefix_bits), h))
    return [qprefix] + [qprefix ^ sum(1 << b for b in f) for f in flips]


def _probe_clusters(query_vec: list, centroids: list, nprobe: int) -> list:
    """The ``nprobe`` centroid ids nearest the query by cosine (ties ->
    lowest id)."""
    q = np.asarray([query_vec], dtype=np.float64)
    return _bucket_ids(q, np.asarray(centroids, dtype=np.float64))[0, :nprobe].tolist()


def lsh_bucketed_topk(
    emb: DataFrame, query_vec: list, k: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 16, prefix_bits: int = 8, multi_probe: int = 1,
) -> DataFrame:
    """ANN top-k: restrict exact scoring to vectors whose sketch prefix is
    within hamming distance ``multi_probe`` of the query's (multi-probe
    LSH), then exact cosine on the candidates only.

    Cost dial: fraction of corpus scanned ≈
    sum_{h<=p} C(prefix_bits, h) / 2^prefix_bits  (p=1, 8 bits => 9/256).
    prefix_bits up + multi_probe up => same recall, finer buckets. Every
    query re-buckets the whole corpus; the materialized index that prunes
    at the file scan is IVF's (ann_index.ivf_topk_indexed)."""
    planes = _hyperplanes(len(query_vec), n_planes)
    probe = _probe_prefixes(query_vec, n_planes, prefix_bits, multi_probe)
    return _probed_topk(emb, query_vec, k, id_col, vec_col, planes, prefix_bits, probe)


def assign_cluster(
    df: DataFrame, centroids: list, vec_col: str = "embedding", out_col: str = "ivf_cluster"
) -> DataFrame:
    """Nearest-centroid id per row (max cosine; ties -> lowest id): the
    IVF case of ``_bucket_ids``, one numpy pass per Arrow batch — no
    shuffle, and a pure function of the row, so the assignment is
    independent of physical partitioning. A vector of another length than
    the centroids raises a ValueError naming the row by ``df``'s first
    column."""
    return _with_buckets(df, centroids, df.columns[0], vec_col, out_col)


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = 4096,
) -> list:
    """DETERMINISTIC k-means for IVF coarse quantization — closes SURVEY
    §9's objection (reference analog: ChromaDB's HNSW index build,
    main.py:60, which is approximate and unordered; here determinism is a
    hard requirement so byte-identity survives re-partitioning):

      * train set + init = the ``sample_limit`` / ``k`` LOWEST-ID vectors
        (stable under any partitioning — no RDD sampling),
      * Lloyd updates compute per-dimension means with EXACT DECIMAL(30,12)
        sums — decimal addition is associative, so shuffle/combine order
        cannot change a centroid by even an ulp (float sums, the usual
        nondeterminism objection to distributed k-means, never occur),
      * an empty cluster keeps its previous centroid.

    Returns k x dim Python lists (small; ship via broadcast/literals).
    """
    base = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy(id_col)
        .limit(sample_limit)
        .cache()
    )
    centroids = [list(r["_v"]) for r in base.orderBy(id_col).limit(k).collect()]
    dim = len(centroids[0]) if centroids else 0
    for _ in range(iters if centroids else 0):
        assigned = _with_buckets(base, centroids, id_col, "_v", "_c")
        sums = (
            assigned.select("_c", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_c", "_d")
            .agg(
                F.sum(F.col("_x").cast("decimal(30,12)")).alias("_s"),
                F.count("*").alias("_n"),
            )
            .collect()  # k x dim rows — tiny
        )
        percluster: dict = {}
        for r in sums:
            percluster.setdefault(r["_c"], {})[r["_d"]] = (r["_s"], r["_n"])
        centroids = [
            [float(dims[d][0]) / dims[d][1] for d in range(dim)]
            if (dims := percluster.get(c)) is not None
            else centroids[c]
            for c in range(len(centroids))
        ]
    base.unpersist()
    return centroids


def ivf_topk(
    emb: DataFrame, query_vec: list, centroids: list, k: int = 7, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` centroids nearest the query and
    exact-score only their members; nprobe == len(centroids) is exact
    (the recall dial q47 pins, same contract as the LSH path's q41). At
    10^12 rows ``ivf_cluster`` is a partition column written at index-build
    time (ann_index.ivf_topk_indexed), so probing prunes at the file-scan
    level and the per-query cost is ~nprobe/k of the corpus."""
    probe = _probe_clusters(query_vec, centroids, nprobe)
    return _probed_topk(emb, query_vec, k, id_col, vec_col, centroids, None, probe)
