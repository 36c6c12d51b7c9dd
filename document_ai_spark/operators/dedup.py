"""Deduplication operators — exact and near-duplicate, at 100 TB scale.

Exact dedup generalizes the reference's hash-based duplicate skip
(reference services/ai_service/add_documents.py:27-32 +
services/ai_service/utils/existence_check.py:18-26) from a per-document
point probe into set-at-a-time joins/aggregations. Near-dup operators
(MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine) are the
training-data-pipeline extensions: all shuffle on small derived keys
(band hashes / buckets), never on document text.

Scale notes:
  * exact_dedup: one hash-aggregate shuffle on a 16-byte digest; map-side
    partial agg kicks in; no text moves after the hash projection.
  * minhash signatures: explode to shingles -> groupBy(doc) min-agg per
    hash fn. Shingle rows are (doc_id, 16B substring) — wide but shuffle-free
    until the agg; signature table is tiny (k longs/doc).
  * LSH banding: candidates = self-join on (band_id, band_hash) — the join
    key is uniformly distributed by construction, so no skew; cost is
    |bucket|^2 only within colliding buckets.
  * simhash: 64-bit fingerprint per doc via Arrow-batched UDF; near-dup =
    same fingerprint band (hamming via xor bit_count in SQL).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct content (md5 of text).

    Window-free formulation: min-agg on the digest then semi-join back —
    two shuffles on narrow keys, no sort, AQE-coalesced. Returns the
    surviving rows of ``df``."""
    digest = F.md5(F.col(text_col)).alias("content_md5")
    keep = (
        df.select(digest, F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def dedup_new_vs_existing(incoming: DataFrame, existing: DataFrame) -> DataFrame:
    """The reference's duplicate-skip filter as an anti-join (J1):
    rows of ``incoming`` whose doc_hash is absent from ``existing``.

    Join strategy is deliberately left to AQE: the existing-hash side is a
    narrow digest projection, and AQE converts the shuffle anti-join to a
    broadcast join at runtime whenever the built side lands under
    ``spark.sql.autoBroadcastJoinThreshold`` — a size measured on REAL
    post-filter bytes, which no driver-side row-count heuristic can match
    without triggering an extra count job (tests/test_operators.py pins
    this contract)."""
    ex = existing.select("doc_hash").distinct()
    return incoming.join(ex, "doc_hash", "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH

def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 16, stride: int = 8) -> DataFrame:
    """(id, shingle) rows: char k-grams at fixed stride — JVM-only
    (sequence/transform/substring + explode), no Python."""
    n = F.length(F.col(text_col))
    starts = F.when(
        n >= k,
        F.sequence(F.lit(0), F.floor((n - k) / stride).cast("int"), F.lit(1)),
    ).otherwise(F.when(n > 0, F.array(F.lit(0))).otherwise(F.array().cast("array<int>")))
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(starts, lambda i: F.substring(F.col(text_col), i * stride + 1, k))
        ).alias("shingle"),
    ).distinct()


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16,
    k: int = 16, stride: int = 8,
) -> DataFrame:
    """(id, sig_0..sig_{H-1}): min over shingles of md5(j || '|' || shingle).

    md5-based so the identical computation is expressible in the DuckDB
    oracle; one shuffle (groupBy id), H min-aggregates computed map-side."""
    sh = shingles(df, text_col, id_col, k, stride)
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(j)), F.col("shingle")))).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_groups(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 4
) -> DataFrame:
    """Band the signature and emit candidate-duplicate buckets:
    (band_id, band_hash, n_docs, doc_ids) for buckets with >1 doc.

    Docs sharing any band collide => candidate pair; exact verify follows
    with ngram_jaccard on the (small) candidate set."""
    sig_cols = [c for c in signatures.columns if c.startswith("sig_")]
    rows_per_band = len(sig_cols) // bands
    assert rows_per_band * bands == len(sig_cols), "bands must divide num_hashes"
    band_exprs = []
    for b in range(bands):
        cols = sig_cols[b * rows_per_band : (b + 1) * rows_per_band]
        band_exprs.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *cols)).alias("band_hash"))
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_exprs)).alias("b")
    ).select(id_col, "b.band_id", "b.band_hash")
    return (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 16, stride: int = 8, threshold: float = 0.0,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over char-shingle sets for all id pairs (a < b) that
    share at least one shingle. Intersection via shingle equi-join,
    union = |A| + |B| - inter. Use after LSH at scale; standalone only on
    bounded subsets.

    ``max_shingle_df`` is the hot-shingle guard that makes that contract
    mechanical: the equi-join produces |docs containing s|**2 rows per
    shingle, so ONE boilerplate 16-gram shared by 10**6 documents is a
    quadratic skew bomb. Shingles whose document frequency exceeds the
    cap are dropped from the JOIN side only (an anti-join vs the — tiny,
    AQE-broadcast — hot set); per-doc set sizes still count every
    shingle, so results are EXACT for every pair none of whose shared
    shingles is hot, and jaccard is under- (never over-) estimated for
    pairs sharing boilerplate. Default 1000 caps any shingle's join
    contribution at 10**6 rows; ``None`` disables the guard."""
    sh = shingles(df, text_col, id_col, k, stride)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash (64-bit, Arrow-batched UDF)


# token -> ±1 bit-vote vector: pure function of the token; cached so the
# blake2b + 64-bit unpack run once per distinct token per worker.
_SIMHASH_TOKEN_CACHE: dict = {}
_SIMHASH_CACHE_MAX = 1_000_000


def _token_votes(tok: str) -> np.ndarray:
    v = _SIMHASH_TOKEN_CACHE.get(tok)
    if v is None:
        # first 8 bytes of md5 (not blake2b): equally deterministic and
        # uniform, and expressible in ANSI SQL ('0x'||substr(md5(t),1,16))
        # so the q22 driver oracle can recompute fingerprints exactly
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        v = np.fromiter(
            (1 if (h >> bit) & 1 else -1 for bit in range(64)), dtype=np.int64, count=64
        )
        if len(_SIMHASH_TOKEN_CACHE) < _SIMHASH_CACHE_MAX:
            _SIMHASH_TOKEN_CACHE[tok] = v
    return v


def simhash64_py(text: str) -> int:
    """Charikar simhash over word tokens: per-token 64-bit blake2b hash,
    signed bit voting. Returns SIGNED int64 (Spark LongType)."""
    import re as _re

    acc = np.zeros(64, dtype=np.int64)
    for tok in _re.findall(r"[\w一-鿿]+", (text or "").lower()):
        acc += _token_votes(tok)
    v = 0
    for bit in range(64):
        if acc[bit] > 0:
            v |= 1 << bit
    return v - (1 << 64) if v >= 1 << 63 else v


def _simhash64_series(texts: pd.Series) -> pd.Series:
    return texts.map(simhash64_py)


def simhash64_udf(texts):
    """Column: ``simhash64_py`` of each row. Built per call, as
    ``functions.embed.embed_udf`` (a cached UDF outlives its session)."""
    return F.pandas_udf(_simhash64_series, T.LongType())(texts)


def simhash_near_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, LSH-style: split the
    64-bit fingerprint into (max_hamming+1) bands — any pair within
    max_hamming must agree on >=1 band (pigeonhole) — equi-join on band,
    verify exact hamming via xor bit_count. No O(n^2) anywhere."""
    nbands = max_hamming + 1
    width = 64 // nbands
    sims = df.select(F.col(id_col), simhash64_udf(F.col(text_col)).alias("simhash"))
    bands = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band_id", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------------------
# embedding cosine near-dup


def embedding_near_dups(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, id_limit: int | None = None,
) -> DataFrame:
    """Pairs (a<b) with cosine similarity >= threshold.

    Brute-force O(n^2) formulation for bounded sets (``id_limit``); the
    scale path buckets by an LSH random-hyperplane sign prefix first (see
    operators.similarity.lsh_bucketed_topk for the pattern)."""
    from document_ai_spark.functions.embed import dot_product, l2_norm

    df = emb.select(F.col(id_col), F.col(vec_col))
    if id_limit is not None:
        df = df.filter(F.col(id_col) < id_limit)
    # Precompute each row's norm ONCE before the self-join: inside the join
    # the norm would be re-evaluated per PAIR (O(n^2) 1024-element folds
    # instead of O(n)). Same expression tree as cosine_sim => bit-identical
    # scores (dot / (na * nb)), just hoisted.
    df = df.withColumn("_norm", l2_norm(F.col(vec_col)))
    a, b = df.alias("a"), df.alias("b")
    dot = dot_product(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    cos = F.when(
        (F.col("a._norm") > 0) & (F.col("b._norm") > 0),
        dot / (F.col("a._norm") * F.col("b._norm")),
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: distributed connected components


def connected_components(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b", max_iterations: int = 20
) -> DataFrame:
    """(id, component) for every node, component = min id reachable.

    Alternating large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) expressed as joins +
    min-aggregates — no driver-side graph, converges in O(log^2 n) rounds.
    This is how near-dup PAIRS (minhash/simhash/cosine) become dedup
    GROUPS at 10^12-doc scale; a driver-side union-find would need every
    edge on one machine.

    Each round: attach to every node the minimum id in its current
    neighborhood (including itself), rewire edges to point at that
    minimum, dedupe. Fixpoint when the edge set stops changing (checked by
    count of changed links).
    """
    # normalize: undirected edge list as (src < dst) pairs, no self-loops
    e = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    nodes = e.select(F.col("u").alias("id")).union(e.select("v")).distinct()

    # link(id -> parent), initially id -> min(neighbors ∪ {id})
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    link = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("p")).select(
        F.col("u").alias("id"), F.when(F.col("p") < F.col("id"), F.col("p")).otherwise(F.col("id")).alias("p")
    )

    for _ in range(max_iterations):
        # pointer jumping: p' = parent(parent(id))
        l2 = link.select(F.col("id").alias("pid"), F.col("p").alias("gp"))
        jumped = (
            link.join(l2, link.p == l2.pid, "left")
            .select("id", F.coalesce("gp", "p").alias("p"))
        )
        # min over (own parent, parents of neighbors)
        nbr_min = (
            sym.join(jumped.withColumnRenamed("id", "v2"), sym.v == F.col("v2"))
            .groupBy("u")
            .agg(F.min("p").alias("np"))
            .select(F.col("u").alias("id"), "np")
        )
        # materialize the round ONCE with a changed flag riding along; the
        # convergence probe then scans the checkpointed blocks instead of
        # recomputing the whole round's lineage as a second job
        new_link = (
            jumped.join(nbr_min, "id", "left")
            .join(link.select("id", F.col("p").alias("op")), "id")
            .select(
                "id",
                F.least(F.col("p"), F.coalesce("np", "p")).alias("p"),
                (F.least(F.col("p"), F.coalesce("np", "p")) != F.col("op")).alias(
                    "changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_link.filter("changed").limit(1).count()
        link = new_link.select("id", "p")
        if not changed:
            break
    else:
        # silently returning partially-converged labels would split one
        # duplicate cluster into several canonical docs downstream
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"iterations (links still changing); raise max_iterations — "
            f"convergence is O(log^2 n) rounds, so this indicates either a "
            f"pathological graph or far more rounds needed than configured"
        )

    return nodes.join(link, "id", "left").select(
        "id", F.coalesce("p", "id").alias("component")
    )


def resolve_duplicate_groups(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Near-dup pairs -> (id, component, is_canonical): one canonical (min
    id) survivor per duplicate cluster; the anti-join of non-canonical ids
    against the corpus is the dedup filter."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.withColumn("is_canonical", F.col("id") == F.col("component"))


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    max_line_df: int = 50,
) -> DataFrame:
    """CCNet-style LINE-LEVEL corpus dedup (capability extension; no
    reference analog — the reference dedups whole documents only): drop
    every line whose trimmed content appears in more than ``max_line_df``
    distinct documents. This is the standard web-pipeline pass that kills
    in-content boilerplate the block extractor legitimately keeps
    ("Subscribe to our newsletter...", share bars, cookie sentences) —
    the same text-block appearing across hundreds of pages is template,
    not content.

    -> (id, clean_text, n_lines, n_dropped): clean_text is the document
    with hot lines removed, remaining lines re-joined with '\\n' in
    original order (empty lines — e.g. the '\\n\\n' block joiners —
    are never counted and never dropped, so block structure survives).

    100 TB plan: posexplode is JVM-only; the df count aggregates
    xxhash64 LINE HASHES (8 bytes each, map-side partial agg), never
    line text; the hot set (df > threshold) is tiny by construction —
    boilerplate is what repeats — so the anti-join broadcasts under AQE.
    The one text-moving shuffle is the groupBy(id) reassembly, same
    shape as chunking. 64-bit hash collisions are the standard accepted
    trade (a collision could only over-drop a line whose hash twin is
    hot); the oracle's string-keyed recomputation would flag one."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    )
    hashed = lines.withColumn("lh", F.xxhash64(F.trim(F.col("line"))))
    hot = (
        hashed.filter(F.trim(F.col("line")) != "")
        .groupBy("lh")
        .agg(F.count_distinct("id").alias("line_df"))
        .filter(F.col("line_df") > max_line_df)
        .select(F.col("lh").alias("hot_lh"))
    )
    # hot derives from hashed, so the join keys get distinct names: the
    # condition never rests on Spark disambiguating a self-join
    kept = hashed.join(
        F.broadcast(hot),
        (F.col("lh") == F.col("hot_lh")) & (F.trim(F.col("line")) != F.lit("")),
        "left_anti",
    )
    agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    # per-doc line totals come from size(split(...)) on the ORIGINAL rows
    # — no second explode — and the LEFT join keeps documents whose every
    # line was hot (clean_text = '', all lines dropped) instead of
    # silently erasing them from the output (review find)
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), "\n", -1)).alias("n_lines"),
    )
    return totals.join(agg, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.col("n_lines").cast("int").alias("n_lines"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).cast("int").alias("n_dropped"),
    )
