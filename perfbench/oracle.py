"""Reference computations the benchmark checks the program's outputs against.

Every oracle runs on the driver, single-threaded, outside the timed
region:

* extraction: the program's own kernel (``kernel.extract.extract_document``)
  called directly, one payload at a time — the single-thread oracle the
  north rule compares the Spark job with;
* chunking: the 4000/200 fixed-window split rule restated in plain Python;
* retrieval: cosine top-k, lexical rerank and context fold restated in
  numpy and plain Python, with Spark's left-to-right double sums and its
  HALF_UP rounding reproduced so scores compare exactly.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os
import time

import numpy as np

from document_ai_spark.kernel.extract import extract_document

CHUNK_SIZE, CHUNK_OVERLAP = 4000, 200
TOP_K = 7


def row_digest(kind, text, spans) -> str:
    """Digest of one extracted document's (kind, text, spans)."""
    keys = ("block_id", "char_start", "char_end", "tag", "text_density", "link_density")
    flat = [[s[k] for k in keys] for s in spans or []]
    blob = json.dumps([kind, text or "", flat], ensure_ascii=False)
    return hashlib.blake2b(blob.encode("utf-8"), digest_size=16).hexdigest()


def extract_all(pages: list) -> tuple:
    """Run the kernel over every page row. Returns ({url: result}, core_s),
    where core_s is the kernel's single-thread wall for the whole corpus."""
    out = {}
    t0 = time.perf_counter()
    for row in pages:
        doc_hash, kind, text, spans, n_chars, _, _ = extract_document(row["html"] or b"")
        out[row["url"]] = {
            "doc_hash": doc_hash,
            "kind": kind,
            "text": text or "",
            "digest": row_digest(kind, text, spans),
        }
    return out, time.perf_counter() - t0


def golden_mismatches(golden_dir: str, got: dict) -> set:
    """Urls of ``got`` ({url: row with "text" and "doc_hash"}) whose text or
    hash differs byte for byte from the committed goldens (seed 42)."""
    with open(os.path.join(golden_dir, "index.json")) as f:
        index = json.load(f)
    bad = set()
    for url, meta in index.items():
        row = got.get(url)
        if row is None:
            continue  # a missing url is counted by the oracle check
        with open(os.path.join(golden_dir, meta["hash"] + ".txt"), "rb") as f:
            want = f.read()
        if (row["text"] or "").encode("utf-8") != want or row["doc_hash"] != meta["doc_hash"]:
            bad.add(url)
    return bad


def split_fixed(url: str, text: str) -> list:
    """[(chunk_id, chunk_text)] under the fixed-window rule: windows of
    CHUNK_SIZE characters starting every CHUNK_SIZE - CHUNK_OVERLAP."""
    step = CHUNK_SIZE - CHUNK_OVERLAP
    if not text:
        return []
    n = (len(text) - 1) // step + 1
    return [(f"{url}_chunk_{i}", text[i * step : i * step + CHUNK_SIZE]) for i in range(n)]


def _round_half_up(x: float, places: int = 4) -> float:
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def _seq_sum(m: np.ndarray) -> np.ndarray:
    """Row sums accumulated left to right, as Spark's aggregate() folds."""
    return np.cumsum(m, axis=-1)[..., -1]


class RetrievalOracle:
    """Exact top-k + context fold over a collection held as numpy arrays."""

    def __init__(self, chunk_ids, urls, texts, embeddings):
        self.ids = list(chunk_ids)
        self.urls = list(urls)
        self.texts = list(texts)
        self.emb = np.asarray(embeddings, dtype=np.float32).astype(np.float64)
        self.norms = np.sqrt(_seq_sum(self.emb * self.emb))

    def context(self, query: str, query_vec) -> str:
        q = np.asarray(query_vec, dtype=np.float32).astype(np.float64)
        qn = np.sqrt(_seq_sum(q * q))
        dots = _seq_sum(self.emb * q)
        ok = (self.norms > 0) & (qn > 0)
        cos = np.where(ok, dots / np.where(ok, self.norms * qn, 1.0), 0.0)
        scored = sorted(
            ((_round_half_up(float(c)), cid, i) for i, (c, cid) in enumerate(zip(cos, self.ids))),
            key=lambda t: (-t[0], t[1]),
        )
        # the lexical rerank reorders the top k, but the context fold sorts
        # them by cosine score again, so the rerank never changes the context
        top = scored[:TOP_K]
        return "\n\n".join(
            f"{self.texts[i]}\n[Source: {self.urls[i]}, Chunk: {cid}]" for _, cid, i in top
        )
