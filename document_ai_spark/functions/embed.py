"""Deterministic hashed-feature text embeddings (SURVEY.md §2.11 embed_udf).

Capability analog of the reference's REST embedding provider
(reference services/ai_service/embedding/alibaba.py:26-38: dimension 1024,
micro-batches of 10). Re-expressed offline-deterministic: the feature
hashing trick (Weinberger et al., ICML 2009) — each lowercase word token
hashes to one of DIM buckets with a ±1 sign bit, counts L2-normalized.
md5-based bucket/sign (first 8 bytes) => independent of PYTHONHASHSEED,
machine, and partition order — and expressible in ANSI SQL
('0x'||substr(md5(t),1,16)), so the q26 DuckDB oracle can recompute the
exact embeddings. Arrow-batched pandas UDF (the Arrow batch replaces the
reference's size-10 REST micro-batching); numpy inner loop, no per-row
Python UDF.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIM = 1024
_TOKEN_RE = re.compile(r"[\w一-鿿]+", re.UNICODE)


# token -> (bucket, sign): a pure function of the token, so caching it
# changes nothing about the output, only skips the blake2b. Web text
# repeats tokens heavily (hit rates >99%); bounded so a pathological
# vocabulary cannot grow worker memory unboundedly.
_TOKEN_CACHE: dict = {}
_TOKEN_CACHE_MAX = 1_000_000


def _token_feature(tok: str, dim: int):
    key = (tok, dim)
    f = _TOKEN_CACHE.get(key)
    if f is None:
        d = hashlib.md5(tok.encode("utf-8")).digest()[:8]
        h = int.from_bytes(d, "big")
        f = (h % dim, 1.0 if (h >> 63) & 1 else -1.0)
        if len(_TOKEN_CACHE) < _TOKEN_CACHE_MAX:
            _TOKEN_CACHE[key] = f
    return f


def embed_text_py(text: str, dim: int = DIM) -> list:
    """Pure-Python/numpy oracle: hashed-feature embedding of one string."""
    v = np.zeros(dim, dtype=np.float64)
    for tok in _TOKEN_RE.findall((text or "").lower()):
        idx, sign = _token_feature(tok, dim)
        v[idx] += sign
    norm = np.linalg.norm(v)
    if norm > 0:
        v /= norm
    # round-trip through float32 exactly as before, vectorized
    return v.astype(np.float32).tolist()


def _embed_batch(texts: pd.Series, dim: int = DIM) -> pd.Series:
    """Vectorized batch twin of embed_text_py: tokenize every row, factorize
    the batch's flat token stream through pandas' C hashtable (no sort, no
    per-token Python), hash only the UNIQUE tokens, then accumulate all
    rows at once with one np.bincount per chunk. Byte-identical to the
    scalar path: every accumulated value is a small exact integer in
    float64 (order-independent), the row norm is the sqrt of an exact
    integer sum, and the float32 round-trip is unchanged."""
    token_lists = [_TOKEN_RE.findall((t or "").lower()) for t in texts]
    n = len(token_lists)
    out = np.zeros((n, dim), dtype=np.float64)
    chunk = max(1, (32 << 20) // (dim * 8))  # bound bincount scratch ~32 MB
    for s in range(0, n, chunk):
        rows = token_lists[s : s + chunk]
        counts = np.fromiter((len(r) for r in rows), np.int64, count=len(rows))
        total = int(counts.sum())
        if total == 0:
            continue
        flat = np.empty(total, dtype=object)
        pos = 0
        for r in rows:
            flat[pos : pos + len(r)] = r
            pos += len(r)
        codes, uniq = pd.factorize(flat)
        feats = [_token_feature(t, dim) for t in uniq]
        u_idx = np.fromiter((f[0] for f in feats), np.int64, count=len(feats))
        u_sign = np.fromiter((f[1] for f in feats), np.float64, count=len(feats))
        row_ids = np.repeat(np.arange(len(rows), dtype=np.int64), counts)
        out[s : s + len(rows)] = np.bincount(
            row_ids * dim + u_idx[codes],
            weights=u_sign[codes],
            minlength=len(rows) * dim,
        ).reshape(len(rows), dim)
    norms = np.sqrt(np.einsum("ij,ij->i", out, out))
    nz = norms > 0
    out[nz] /= norms[nz, None]
    out32 = out.astype(np.float32)
    # rows go to Arrow as float32 ndarrays (same values the old per-row
    # .tolist() produced, minus 3M Python float allocations per batch)
    return pd.Series(list(out32))


def _embed_series(texts: pd.Series) -> pd.Series:
    return _embed_batch(texts)


def embed_udf(texts):
    """Column: ``embed_text_py`` of each row, computed per Arrow batch.

    The pandas UDF is built per call: a module-level one would cache its
    JVM function on first use (``UserDefinedFunction._judf``) and with it
    the first session's Python accumulator, so after ``spark.stop()`` and
    a new session in the same process every task using it would log
    ``Failed to update accumulator 0 (PythonAccumulatorV2) ... Broken pipe``."""
    return F.pandas_udf(_embed_series, T.ArrayType(T.FloatType()))(texts)


def cosine_sim(a, b):
    """Column expression: cosine similarity of two array<float> columns,
    computed in double precision JVM-side (zip_with + aggregate — no
    Python). A null or zero vector scores 0.0; unequal lengths give null."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot_product(a, b) / (na * nb)).otherwise(F.lit(0.0))


def l2_norm(v):
    """Column expression: L2 norm of an array<float> column in double
    precision (same fold as cosine_sim's denominator — hoist it to a column
    before a self-join so it is computed per row, not per pair)."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def dot_product(a, b):
    """Double-precision dot product of two array<float> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
