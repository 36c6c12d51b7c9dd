"""Operator-level tests with pure-Python oracles (non-SQL-expressible ops)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet")


# -- chunking ---------------------------------------------------------------

def test_chunk_by_heading_splits_on_structure(spark):
    from document_ai_spark.operators.chunking import chunk_by_heading

    md = (
        "# Title\n\nintro paragraph text\n\n## Section One\n\nbody one"
        "\n\nmore body\n\n## Section Two\n\nbody two"
    )
    df = spark.createDataFrame([("u1", md), ("u2", "no headings at all"), ("u3", "")],
                               "url string, text string")
    got = sorted(
        (r.url, r.chunk_index, r.chunk_text, r.char_start, r.char_end)
        for r in chunk_by_heading(df).collect()
    )
    # u1: chunks start at each heading; u2: single chunk; u3 (empty): none
    assert [g[2] for g in got if g[0] == "u1"] == [
        "# Title\n\nintro paragraph text",
        "## Section One\n\nbody one\n\nmore body",
        "## Section Two\n\nbody two",
    ]
    assert [g[2] for g in got if g[0] == "u2"] == ["no headings at all"]
    assert not [g for g in got if g[0] == "u3"]
    # offsets reconstruct the original text exactly
    for url, text in [("u1", md), ("u2", "no headings at all")]:
        for _, _, chunk, s, e in [g for g in got if g[0] == url]:
            assert text[s:e] == chunk


def test_chunk_by_heading_strips_sentinel_and_keeps_offsets(spark):
    # a pre-existing U+0001 must not create a bogus boundary or shift
    # offsets: it is stripped first, offsets refer to the CLEANED text
    from document_ai_spark.operators.chunking import chunk_by_heading

    raw = "intro with \x01 control char\n\n# Heading\n\nbody text"
    cleaned = raw.replace("\x01", "")
    df = spark.createDataFrame([("u1", raw)], "url string, text string")
    got = sorted(
        (r.chunk_index, r.chunk_text, r.char_start, r.char_end)
        for r in chunk_by_heading(df).collect()
    )
    assert [g[1] for g in got] == ["intro with  control char", "# Heading\n\nbody text"]
    for _, chunk, s, e in got:
        assert cleaned[s:e] == chunk


def test_chunk_by_heading_rows_sharing_id_do_not_corrupt_offsets(spark):
    # per-row offset computation: two rows with the SAME id value must
    # each get offsets local to their own text (chunk_id collides — the
    # documented id-uniqueness contract — but offsets stay correct)
    from document_ai_spark.operators.chunking import chunk_by_heading

    t1 = "alpha text\n\n# One\n\nbody"
    t2 = "totally different longer document text\n\n# Two\n\nmore body here"
    df = spark.createDataFrame([("dup", t1), ("dup", t2)], "url string, text string")
    rows = chunk_by_heading(df).collect()
    assert len(rows) == 4
    # every chunk's offsets must reconstruct within the source that
    # actually CONTAINS it (chunk texts are disjoint between t1 and t2)
    for r in rows:
        src = t1 if r.chunk_text in t1 else t2
        assert src[r.char_start : r.char_end] == r.chunk_text


def test_chunk_by_heading_plan_has_no_shuffle(spark):
    from document_ai_spark.operators.chunking import chunk_by_heading

    df = spark.createDataFrame([("u", "a\n\n# H\n\nb")], "url string, text string")
    plan = chunk_by_heading(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # per-row higher-order funcs, no window


def test_chunk_spans_reconstruct(spark, docs):
    from document_ai_spark.operators.chunking import chunk_fixed

    c = chunk_fixed(docs.limit(50), "doc_id", chunk_size=120, overlap=20)
    joined = c.join(docs.select("doc_id", "text"), "doc_id")
    bad = joined.filter(
        F.expr("substring(text, char_start + 1, char_end - char_start) != chunk_text")
    ).count()
    assert bad == 0


# -- simhash ----------------------------------------------------------------

def test_simhash_udf_matches_python(spark, docs):
    from document_ai_spark.operators.dedup import simhash64_py, simhash64_udf

    sample = docs.limit(30)
    got = {r["doc_id"]: r["sh"] for r in sample.select("doc_id", simhash64_udf("text").alias("sh")).collect()}
    want = {r["doc_id"]: simhash64_py(r["text"]) for r in sample.collect()}
    assert got == want


def test_simhash_identical_and_perturbed():
    from document_ai_spark.operators.dedup import simhash64_py

    base = "the quick brown fox jumps over the lazy dog " * 20
    same = simhash64_py(base)
    assert same == simhash64_py(base)
    perturbed = simhash64_py(base + " extra token")
    ham = bin((same ^ perturbed) & ((1 << 64) - 1)).count("1")
    assert ham <= 8  # near-dup stays near in hamming space
    different = simhash64_py("completely unrelated words about spark engines and parquet files")
    ham2 = bin((same ^ different) & ((1 << 64) - 1)).count("1")
    assert ham2 > ham


def test_simhash_banding_finds_all_close_pairs(spark, docs):
    """LSH banding must be lossless for pairs within max_hamming
    (pigeonhole): compare against brute-force hamming join."""
    from document_ai_spark.operators.dedup import simhash64_py, simhash_near_dups

    sample = docs.filter(F.col("doc_id") < 80)
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(sample, "text", "doc_id", max_hamming=12).collect()
    }
    rows = [(r["doc_id"], simhash64_py(r["text"])) for r in sample.collect()]
    want = set()
    for i, (ida, ha) in enumerate(rows):
        for idb, hb in rows[i + 1 :]:
            if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 12:
                want.add((min(ida, idb), max(ida, idb)))
    assert got == want


# -- embeddings & similarity --------------------------------------------------

def test_embed_udf_matches_python_oracle(spark, docs):
    from document_ai_spark.functions.embed import embed_text_py, embed_udf

    sample = docs.limit(20)
    got = {r["doc_id"]: r["e"] for r in sample.select("doc_id", embed_udf("text").alias("e")).collect()}
    for r in sample.collect():
        want = embed_text_py(r["text"])
        assert got[r["doc_id"]] == want  # bit-exact, not approximate
    # unit norm
    for v in got.values():
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_embed_batch_is_bitwise_twin_of_scalar_path():
    """The vectorized factorize+bincount batch path must be BYTE-identical
    to the per-token scalar oracle (it is: every accumulated value is an
    exact small integer in float64, so summation order cannot round)."""
    import random

    import pandas as pd

    from document_ai_spark.functions.embed import _embed_batch, embed_text_py

    rng = random.Random(11)
    vocab = ["the", "a", "日本語", "тест", "x" * 40] + [f"t{i}" for i in range(300)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 250)))
        for _ in range(400)
    ] + ["", None, "   ", "!!!", "Mixed CASE case"]
    batch = _embed_batch(pd.Series(texts))
    for got, text in zip(batch, texts):
        assert list(got) == embed_text_py(text)


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    from document_ai_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk

    qv = [r[0] for r in emb.filter(F.col("vec_id") == 1).select(F.explode("embedding")).collect()]
    exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_bucketed_topk(emb, qv, k=10, prefix_bits=2).collect()]
    # query itself must be found; recall@10 >= 0.5 at 2 prefix bits (1/4 scan)
    assert 1 in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_centroids_deterministic_across_partitionings(spark, emb):
    """The SURVEY §9 objection, answered: exact DECIMAL Lloyd means =>
    bit-identical centroids regardless of how the train set is split."""
    from document_ai_spark.operators.similarity import train_ivf_centroids

    c1 = train_ivf_centroids(emb.repartition(1), k=6, iters=2, sample_limit=512)
    c2 = train_ivf_centroids(emb.repartition(13), k=6, iters=2, sample_limit=512)
    assert c1 == c2  # exact float equality, not approx


def test_ivf_full_probe_equals_brute_force(spark, emb):
    from document_ai_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    qv = [r[0] for r in emb.filter(F.col("vec_id") == 1).select(F.explode("embedding")).collect()]
    cents = train_ivf_centroids(emb, k=6, iters=2, sample_limit=512)
    exact = [(r["vec_id"], r["score"]) for r in brute_force_topk(emb, qv, k=10).collect()]
    full = [(r["vec_id"], r["score"]) for r in ivf_topk(emb, qv, cents, k=10, nprobe=6).collect()]
    assert exact == full


def test_ivf_pruned_probe_finds_query_and_subsets_corpus(spark, emb):
    from document_ai_spark.operators.similarity import (
        assign_cluster,
        ivf_topk,
        train_ivf_centroids,
    )

    qv = [r[0] for r in emb.filter(F.col("vec_id") == 1).select(F.explode("embedding")).collect()]
    cents = train_ivf_centroids(emb, k=6, iters=2, sample_limit=512)
    got = [r["vec_id"] for r in ivf_topk(emb, qv, cents, k=10, nprobe=1).collect()]
    assert 1 in got  # the query's own vector lives in the probed cluster
    # nprobe=1 scans only one cluster's members
    sizes = {
        r["ivf_cluster"]: r["count"]
        for r in assign_cluster(emb, cents).groupBy("ivf_cluster").count().collect()
    }
    assert max(sizes.values()) < emb.count()  # clustering is non-degenerate


def test_bucket_ids_match_cosine_sim_and_sign_sketch(spark, emb, docs):
    """Every ANN path buckets with one numpy function. Its IVF cluster must
    be the argmax over cosine_sim columns (ties -> lowest id) and its LSH
    prefix the low bits of a per-row ``planes @ v > 0``, on the sf0.001
    embeddings, on 500 1024-dim embed_udf vectors, and on hand-built ties,
    zero, null and null-holding vectors. A query's own vector must fall in
    its probe set at nprobe=1 and at multi_probe=0."""
    from document_ai_spark.functions.embed import cosine_sim, embed_udf
    from document_ai_spark.operators import similarity as S

    hand = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),  # ties centroids 1 and 2
            (2, [0.0, 0.0, 2.0]),  # centroid 0 alone
            (3, [0.0, 1.0, 0.0]),  # 0.0 against every centroid
            (4, [0.0, 0.0, 0.0]),
            (5, None),
            (6, [1.0, None, 1.0]),
            (7, [1.0, 0.0, 1.0]),  # ties centroids 0, 1 and 2
        ],
        "vec_id long, embedding array<double>",
    )
    embedded = docs.select(F.col("doc_id").alias("vec_id"), embed_udf("text").alias("embedding"))
    inputs = [
        (emb, S.train_ivf_centroids(emb, k=6, iters=2, sample_limit=512)),
        (embedded, None),
        (hand, [[0.0, 0.0, 1.0], [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]]),
    ]
    for df, cents in inputs:
        cents = cents or S.train_ivf_centroids(df, k=16, iters=2)
        rows = {r.vec_id: r.embedding for r in df.collect()}
        dim = len(cents[0])
        got = {r.vec_id: r.ivf_cluster for r in S.assign_cluster(df, cents).collect()}
        cdf = spark.createDataFrame(list(enumerate(cents)), "c int, cvec array<double>")
        best = {}
        for r in df.crossJoin(cdf).select(
            "vec_id", "c", cosine_sim(F.col("embedding"), F.col("cvec")).alias("s")
        ).collect():
            best[r.vec_id] = max(best.get(r.vec_id, (r.s, -r.c)), (r.s, -r.c))
        assert got == {v: -negc for v, (_, negc) in best.items()}
        assert len(got) == len(rows)

        planes = S._hyperplanes(dim, 16)
        batches = df.toArrow().to_batches()
        for bits in (4, 8):
            sketches = {}
            for b in batches:
                ids = S._batch_buckets(b, planes, bits, "vec_id", "embedding")
                sketches.update(zip(b.column("vec_id").to_pylist(), ids.tolist()))
            want = {}
            for v, vec in rows.items():
                ok = vec is not None and None not in vec
                sketch = planes @ np.asarray(vec, dtype=np.float64) > 0 if ok else [False]
                want[v] = sum(1 << p for p, bit in enumerate(sketch) if bit) & ((1 << bits) - 1)
            assert sketches == want
            for v, vec in rows.items():
                assert vec is None or S._probe_prefixes(vec, 16, bits, 0) == [sketches[v]]
        for v, vec in rows.items():
            assert vec is None or S._probe_clusters(vec, cents, 1) == [got[v]]

    assert [got[v] for v in range(1, 8)] == [1, 0, 0, 0, 0, 0, 0]


def test_batch_topk_per_query(spark, emb):
    from document_ai_spark.operators.similarity import batch_topk

    qs = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = batch_topk(emb, qs, k=5)
    counts = {r["query_id"]: r["n"] for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(v == 5 for v in counts.values()) and len(counts) == 4
    # self-match ranks first with score 1.0
    firsts = {r["query_id"]: (r["vec_id"], r["score"]) for r in out.filter(F.col("rank") == 1).collect()}
    for qid, (vid, score) in firsts.items():
        assert vid == qid and score == 1.0


# -- multimodal plumbing ------------------------------------------------------

def test_media_features_deterministic_and_shaped(spark, docs):
    from document_ai_spark.operators.multimodal import N_FEATURES, media_features

    media = docs.limit(30).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    a = {r["media_id"]: (r["content_hash"], tuple(r["features"])) for r in media_features(media).collect()}
    b = {r["media_id"]: (r["content_hash"], tuple(r["features"])) for r in media_features(media.repartition(7)).collect()}
    assert a == b
    for h, feats in a.values():
        assert len(feats) == N_FEATURES
        assert abs(sum(feats) - 1.0) < 1e-3  # normalized histogram


def test_media_real_decode_isolates_unknown_formats(spark, docs):
    # decode_stub=False now runs the REAL stdlib codecs (PNG/BMP/WAV);
    # text payloads sniff as 'unknown' and isolate to null-feature rows —
    # the external-codec seam — instead of raising (kernel totality)
    from document_ai_spark.operators.multimodal import media_features

    media = docs.limit(2).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    rows = media_features(media, decode_stub=False).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.media_type == "unknown" and r.features is None


def test_exact_scorer_is_identical_to_cosine_sim(spark, emb):
    """The numpy scorer must give exactly the 4-dp scores of
    F.round(cosine_sim(...), 4): batch_topk over all pairs of the sf0.001
    embeddings plus non-unit ramp queries, and brute_force_topk for the
    ramps and two embeddings, whose rows must be batch_topk's for that
    query. Also: ties break by id ascending, and k above the row count
    returns every row."""
    from document_ai_spark.functions.embed import cosine_sim
    from document_ai_spark.operators.similarity import batch_topk, brute_force_topk

    n = emb.count()
    dim = len(emb.first().embedding)
    ramps = [[((-1) ** i) * (1.0 + i / s) for i in range(dim)] for s in (7.0, 3.0, 0.5)]
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("query_vec")
    ).unionByName(
        spark.createDataFrame(
            [(-1 - j, q) for j, q in enumerate(ramps)], "query_id long, query_vec array<double>"
        )
    )
    ref = F.round(cosine_sim(F.col("embedding"), F.col("query_vec")), 4)
    want = {
        (r.query_id, r.vec_id): r.score
        for r in emb.crossJoin(queries).select("query_id", "vec_id", ref.alias("score")).collect()
    }
    rows = sorted((r.query_id, r.rank, r.vec_id, r.score) for r in batch_topk(emb, queries, k=n + 5).collect())
    assert {(q, v): s for q, _, v, s in rows} == want  # 0 differing scores
    assert len(rows) == len(want)

    own = [(i, list(emb.filter(F.col("vec_id") == i).first().embedding)) for i in (0, 7)]
    for qid, qv in [(-1 - j, q) for j, q in enumerate(ramps)] + own:
        exact = [(r.vec_id, r.score) for r in brute_force_topk(emb, qv, k=n + 5).collect()]
        assert len(exact) == n
        assert exact == [(v, s) for q, _, v, s in rows if q == qid]
        assert exact == sorted(exact, key=lambda t: (-t[1], t[0]))

    # cosines on a 4-dp boundary: 1/32 and 5/32 exactly (HALF_UP, not
    # half-even), and row 3's 1/32 only when the products are summed left
    # to right (its two -2^-54 terms are lost one at a time, not as a pair)
    t = 2.0**-27
    q = [1.0, 0.0, t, t, 0.0, 0.0, 0.0, 0.0]
    edges = spark.createDataFrame(
        [
            (1, [1.0, 31.0, 0.0, 0.0, 7.0, 3.0, 2.0, 0.0]),
            (2, [5.0, 31.0, 0.0, 0.0, 6.0, 1.0, 1.0, 0.0]),
            (3, [1.0, 31.0, -t, -t, 7.0, 3.0, 2.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    ql = F.array(*[F.lit(x) for x in q])
    ref = edges.select("vec_id", F.round(cosine_sim(F.col("embedding"), ql), 4).alias("score"))
    expect = [(2, 0.1563), (1, 0.0313), (3, 0.0313)]
    assert [tuple(r) for r in ref.orderBy(F.desc("score"), "vec_id").collect()] == expect
    assert [tuple(r) for r in brute_force_topk(edges, q, k=3).collect()] == expect

    # ties: equal vectors score equal and come out by id ascending, across
    # partitions and Arrow batches
    tied = spark.createDataFrame(
        [(i, [1.0, 2.0, 2.0] if i % 3 == 0 else [float(i), 1.0, -1.0]) for i in range(600, 0, -1)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    top = [(r.vec_id, r.score) for r in brute_force_topk(tied, [1.0, 2.0, 2.0], k=4).collect()]
    assert top == [(3, 1.0), (6, 1.0), (9, 1.0), (12, 1.0)]


def test_exact_scorer_rejects_dimension_mismatch(spark, tmp_path):
    # a vector whose length differs from the query's used to score null
    # and sort last; it must raise, naming the row. A null vector scores 0.
    # The ANN paths bucket with the same check: the IVF assignment put the
    # row in cluster 0 (never probed here) and the LSH sketch padded it.
    from document_ai_spark.operators.ann_index import build_ann_index
    from document_ai_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_bucketed_topk
    from document_ai_spark.sources.catalog import Catalog

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    ok = brute_force_topk(df.filter("vec_id < 3"), [1.0, 0.0]).collect()
    assert [(r.vec_id, r.score) for r in ok] == [(1, 1.0), (2, 0.0)]
    cents, cat = [[1.0, 0.0], [0.0, 1.0]], Catalog(spark, str(tmp_path))
    for run in (
        lambda: brute_force_topk(df, [1.0, 0.0]).collect(),
        lambda: ivf_topk(df, [0.0, 1.0], cents, nprobe=1).collect(),
        lambda: lsh_bucketed_topk(df, [0.0, 1.0], prefix_bits=2, multi_probe=0).collect(),
        lambda: build_ann_index(df, cat, "ivf", centroids=cents),
    ):
        with pytest.raises(Exception, match=r"ValueError: embedding of vec_id=3 has 3 dims"):
            run()


def test_rerank_and_context_fold_on_hand_built_rows(spark):
    from document_ai_spark.functions.embed import embed_text_py
    from document_ai_spark.operators.retrieval import format_docs, lexical_rerank, retrieve_topk

    rows = [  # (chunk_id, url, chunk_text, score); ids 3 and 5 tie on score
        (5, "u5", "spark", 0.95),
        (1, "u1", "Apache SPARK runs jobs", 0.9),
        (4, "u4", "nothing relevant", 0.5),
        (2, "u2", "spark and arrow batches", 0.8),
        (3, "u3", "Arrow only", 0.95),
    ]
    df = spark.createDataFrame(rows, "chunk_id long, url string, chunk_text string, score double")
    df = df.repartition(3)

    # query terms are lowercased and deduplicated: {arrow, jobs, spark}
    reranked = lexical_rerank(df, "Spark ARROW spark jobs").collect()
    assert [(r.chunk_id, r.rerank_score) for r in reranked] == [
        (1, 0.6667), (2, 0.6667), (3, 0.3333), (5, 0.3333), (4, 0.0),
    ]
    # no query terms: every row scores 0.0 and the order is score desc, id asc
    empty = lexical_rerank(df, "   ").collect()
    assert [(r.chunk_id, r.rerank_score) for r in empty] == [(i, 0.0) for i in (3, 5, 1, 2, 4)]

    by_id = {r[0]: r for r in rows}
    want = "\n\n".join(
        f"{by_id[i][2]}\n[Source: {by_id[i][1]}, Chunk: {i}]" for i in (3, 5, 1, 2, 4)
    )
    assert format_docs(df).collect()[0].context == want
    # the rerank reorders rows but never the context
    assert format_docs(lexical_rerank(df, "Spark ARROW spark jobs")).collect()[0].context == want

    chunks = spark.createDataFrame(
        [(i, u, t, embed_text_py(t)) for i, u, t, _ in rows],
        "chunk_id long, url string, chunk_text string, embedding array<float>",
    )
    top = retrieve_topk(chunks, "Spark and ARROW batches", k=2).collect()
    assert top[0].chunk_id == 2 and top[0].score == 1.0 and len(top) == 2
    assert top[0].asDict().keys() == {"chunk_id", "url", "chunk_text", "embedding", "score"}


def test_rerank_matches_special_characters_as_literal_substrings(spark):
    """Query terms are literal ``contains`` arguments, never SQL text, LIKE
    patterns or regexes. The parent matched them literally as well; this
    pins that the plan built from fewer JVM calls still does."""
    from document_ai_spark.operators.retrieval import lexical_rerank

    rows = [  # (chunk_id, chunk_text): each hits exactly the terms listed
        (1, "it's 50% done"),  # it's, 50%
        (2, "snake_case path\\to f(x)"),  # snake_case, path\to, f(x)
        (3, "its 50 done snakeXcase pathto fx"),  # none: every near miss
        (4, None),  # a null text matches no term
    ]
    df = spark.createDataFrame(
        [(i, f"u{i}", t, 0.5) for i, t in rows], "chunk_id long, url string, chunk_text string, score double"
    )
    query = "it's 50% snake_case path\\to f(x) ')"
    got = {r.chunk_id: r.rerank_score for r in lexical_rerank(df, query).collect()}
    assert got == {1: 0.3333, 2: 0.5, 3: 0.0, 4: 0.0}  # of 6 terms


def test_query_over_a_collection_is_one_spark_job(spark, tmp_path):
    """perfbench's timed query shape: read_collection -> retrieve_topk ->
    lexical_rerank -> format_docs -> collect. Inferring the collection's
    schema with a Spark job made it 2."""
    from document_ai_spark.functions.embed import embed_text_py
    from document_ai_spark.operators.retrieval import format_docs, lexical_rerank, retrieve_topk
    from document_ai_spark.sinks.collection import append_chunks, read_collection

    path = str(tmp_path / "coll")
    texts = [f"chunk {i} about spark arrow batches and parquet footers {i * 7}" for i in range(40)]
    chunks = spark.createDataFrame(
        [(i, f"u{i % 5}", t, embed_text_py(t)) for i, t in enumerate(texts)],
        "chunk_id long, url string, chunk_text string, embedding array<float>",
    )
    append_chunks(chunks.repartition(3), path)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    q = "parquet footers spark"
    before = dag.nextJobId()
    context = format_docs(lexical_rerank(retrieve_topk(read_collection(spark, path), q, k=7), q)).collect()
    assert dag.nextJobId() - before == 1
    assert context[0].context.count("[Source: ") == 7

def test_repetition_features_known_values(spark):
    from document_ai_spark.operators.textstats import repetition_features

    docs = spark.createDataFrame(
        [
            # 4 sentences: "same thing" x3 + 1 unique -> dup frac 3/4
            (1, "same thing. same thing. same thing. another one."),
            # bigram "aa bb" appears 3x of 5 bigrams total
            (2, "aa bb aa bb aa bb"),
            (3, ""),  # degenerate -> zeros
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.dup_sent_frac, r.top_bigram_frac) for r in repetition_features(docs).collect()}
    assert rows[1][0] == 0.75
    assert rows[2] == (0.0, 0.6)  # "aa bb" 3/5
    assert rows[3] == (0.0, 0.0)


# -- url canonicalization ---------------------------------------------------

def test_url_strip_tracking_param_order_invariant(spark):
    """Regression (round-2 ADVICE): a tracking param FIRST used to leave
    'p&page=1' (malformed, and order-dependent dedup keys)."""
    from document_ai_spark.functions.scalars import url_strip_tracking

    cases = [
        ("https://e.com/p?utm_source=a&page=1", "https://e.com/p?page=1"),
        ("https://e.com/p?page=1&utm_source=a", "https://e.com/p?page=1"),
        ("https://e.com/p?utm_source=a&utm_medium=b&page=1", "https://e.com/p?page=1"),
        ("https://e.com/p?utm_source=a", "https://e.com/p"),
        ("https://e.com/p?utm_source=a#frag", "https://e.com/p#frag"),
        ("https://e.com/p?fbclid=x&a=1&gclid=y&b=2", "https://e.com/p?a=1&b=2"),
        ("https://e.com/p?a=1", "https://e.com/p?a=1"),
        ("https://e.com/p", "https://e.com/p"),
        # literal '&' in the PATH is legal (RFC 3986 sub-delim) and must
        # survive untouched — regression for the over-firing '&'->'?'
        # promotion found in round-2 review
        ("https://e.com/a&b", "https://e.com/a&b"),
        ("https://e.com/a&b?utm_source=x&c=1", "https://e.com/a&b?c=1"),
        # consecutive tracking params, first position
        ("https://e.com/p?utm_source=a&utm_medium=b", "https://e.com/p"),
        ("https://e.com/p?utm_source=a&utm_medium=b&c=1#f", "https://e.com/p?c=1#f"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(url_strip_tracking(F.col("url"))).collect()]
    assert got == [w for _, w in cases]


def test_connected_components_raises_when_not_converged(spark):
    from document_ai_spark.operators.dedup import connected_components

    # a 40-node path needs several pointer-jumping rounds; 1 is not enough
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=1).collect()


def test_gopher_signals_known_values(spark):
    from document_ai_spark.operators.textstats import gopher_signals

    good = " ".join(["alpha beta gamma delta words here okay fine"] * 8)  # 64 words
    rows = [
        (1, good),                      # passes all bounds
        (2, "short text"),              # too few words
        (3, " ".join(["#"] * 60)),      # symbols, no alpha
        (4, ""),                        # empty
        (5, None),                      # null
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_signals(df).collect()}
    assert got[1].n_words == 64 and got[1].gopher_keep
    assert got[1].frac_alpha_words == 1.0
    assert got[2].n_words == 2 and not got[2].gopher_keep
    assert got[3].frac_alpha_words == 0.0 and got[3].symbol_word_ratio == 1.0
    assert not got[3].gopher_keep
    assert got[4].n_words == 0 and got[4].mean_word_len == 0.0 and not got[4].gopher_keep
    assert got[5].n_words == 0 and not got[5].gopher_keep


def test_scrub_pii_masks_in_order(spark):
    from document_ai_spark.functions.scalars import pii_counts, scrub_pii

    rows = [
        (1, "mail me at jane.doe+x@sub.example.co.uk today"),
        (2, "server at 192.168.001.1 port open"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "ssn 123-45-6789 leaked"),
        (5, "plain text, nothing to mask 42"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r.i: (r.clean, r.n_email, r.n_ssn, r.n_ipv4, r.n_phone)
        for r in df.select(
            "i",
            scrub_pii(F.col("t")).alias("clean"),
            *[v.alias(k) for k, v in pii_counts(F.col("t")).items()],
        ).collect()
    }
    assert got[1] == ("mail me at <EMAIL> today", 1, 0, 0, 0)
    assert got[2] == ("server at <IP> port open", 0, 0, 1, 0)
    assert got[3] == ("call <PHONE> now", 0, 0, 0, 1)
    assert got[4] == ("ssn <SSN> leaked", 0, 1, 0, 0)
    assert got[5] == ("plain text, nothing to mask 42", 0, 0, 0, 0)


def test_nfc_normalize_unifies_decomposed(spark):
    from document_ai_spark.functions.normalize import nfc_normalize_udf

    df = spark.createDataFrame(
        [(1, "café"), (2, "café"), (3, None)], "i long, t string"
    )
    got = {r.i: r.n for r in df.select("i", nfc_normalize_udf(F.col("t")).alias("n")).collect()}
    assert got[1] == got[2] == "café"
    assert got[3] is None


def test_lang_id_trigram_on_marked_text(spark):
    """NOTE: the driver's documents fixture carries the SAME vocabulary
    under every lang label, so content-based accuracy is untestable there
    (q43 is parity-gated against the SQL oracle instead). Here: correct
    guesses on genuinely per-language text, determinism, and the 'und'
    fallback."""
    from document_ai_spark.operators.textstats import lang_id_trigram, lang_trigram_profiles

    profiles = lang_trigram_profiles()
    assert set(profiles) == {"en", "de", "es", "fr", "zh"}
    assert all(profiles.values())  # every language has distinctive trigrams
    assert profiles == lang_trigram_profiles()  # deterministic

    rows = [
        (1, "en", "the fox ran over the fence with the dog and the cat"),
        (2, "de", "der fuchs sprang über den zaun mit und der hund"),
        (3, "es", "el zorro salta sobre el perro con muchas ganas el dia"),
        (4, "fr", "le renard saute par dessus avec beaucoup le chien"),
        (5, "zh", "狐狸 跳过 了 的 篱笆 很 快 关于 狗 许多 words"),
        (6, "und", "xxxx yyyy zzzz qqqq"),
    ]
    df = spark.createDataFrame(rows, "i long, want string, t string")
    got = {r.i: r.g for r in df.select("i", lang_id_trigram(F.col("t")).alias("g")).collect()}
    for i, want, _ in rows:
        assert got[i] == want, (i, want, got[i])


def test_bigram_lm_scores_hand_computed(spark):
    # tiny corpus, hand-checkable: V=3 ('a','b','c'); doc 1 = "a b a b",
    # doc 2 = "a c". bigrams: d1: (a,b)x2 (b,a)x1; d2: (a,c)x1.
    # c1: a->3, b->1; c2: (a,b)=2, (b,a)=1, (a,c)=1; add-1, V=3:
    # P(b|a)=(2+1)/(3+3)=.5, P(a|b)=(1+1)/(1+3)=.5, P(c|a)=(1+1)/(3+3)=1/3
    import math

    from document_ai_spark.operators.textstats import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a-c")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert rows[1].n_bigrams == 3 and rows[2].n_bigrams == 1
    assert rows[1].nll == 1.0  # three bigrams, each -log2(0.5) = 1
    assert rows[2].nll == round(round(-math.log2(2 / 6), 4), 3)
    # single-token / empty docs produce no row (no bigrams)
    docs2 = spark.createDataFrame([(1, "only"), (2, "")], "doc_id long, text string")
    assert bigram_lm_scores(docs2).count() == 0


def test_ngram_jaccard_hot_shingle_cap_defuses_quadratic_blowup(spark):
    # 12 docs all sharing ONE boilerplate shingle (the 16-char footer) but
    # otherwise pairwise-disjoint text. Uncapped, the shared shingle makes
    # all C(12,2)=66 pairs join-visible; with the cap below 12 the hot
    # shingle is dropped from the join side and NO pair survives — while a
    # genuinely-similar pair (same body) still comes out exact.
    from document_ai_spark.operators.dedup import ngram_jaccard_pairs

    footer = "=" * 16
    # body = a 48-char run of one distinct letter: no two docs share any
    # shingle except the footer
    rows = [(i, chr(ord("a") + i) * 48 + footer) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(docs, k=16, stride=16, max_shingle_df=None)
    capped = ngram_jaccard_pairs(docs, k=16, stride=16, max_shingle_df=11)
    assert uncapped.count() == 66
    assert capped.count() == 0
    # a true near-dup pair (identical body, distinct tail) survives the cap
    # with identical jaccard to the uncapped run: only hot shingles drop.
    twin = spark.createDataFrame(
        [(1, "shared paragraph body " * 8 + "tail-one"),
         (2, "shared paragraph body " * 8 + "tail-two"),
         (3, "completely different content here " * 6)],
        "doc_id long, text string",
    )
    got_cap = ngram_jaccard_pairs(twin, k=16, stride=8, max_shingle_df=1000).collect()
    got_raw = ngram_jaccard_pairs(twin, k=16, stride=8, max_shingle_df=None).collect()
    assert sorted(map(tuple, got_cap)) == sorted(map(tuple, got_raw))
    assert any(r.id_a == 1 and r.id_b == 2 and r.jaccard > 0.8 for r in got_cap)


def test_bigram_lm_broadcast_full_vocab_equals_full_join(spark):
    # the q47-style pin: with top_v >= |vocab| nothing maps to <unk>, so
    # the broadcast (map-side score join) variant is row-identical to the
    # full-join variant on real corpus text.
    from document_ai_spark.operators.textstats import (
        bigram_lm_scores,
        bigram_lm_scores_broadcast,
    )

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
    full = bigram_lm_scores(docs).collect()
    bcast = bigram_lm_scores_broadcast(docs, top_v=10**6).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, bcast))
    assert len(full) > 0


def test_bigram_lm_broadcast_unk_hand_computed(spark):
    # bounded-vocab semantics, hand-checked: corpus "a b a b a c" with
    # top_v=2 keeps {a, b} (freq 3, 2); c -> <unk>. V over unked tokens =
    # |{a, b, <unk>}| = 3. bigrams (a,b)(b,a)(a,b)(b,a)(a,<unk>):
    # c1: a->3, b->2; c2: (a,b)=2, (b,a)=2, (a,<unk>)=1; add-1:
    # P(b|a)=3/6, P(a|b)=3/5, P(<unk>|a)=2/6.
    import math

    from document_ai_spark.operators.textstats import bigram_lm_scores_broadcast

    docs = spark.createDataFrame([(1, "a b a b a c")], "doc_id long, text string")
    row = bigram_lm_scores_broadcast(docs, top_v=2).collect()[0]
    terms = [
        round(-math.log2(3 / 6), 4),
        round(-math.log2(3 / 5), 4),
        round(-math.log2(3 / 6), 4),
        round(-math.log2(3 / 5), 4),
        round(-math.log2(2 / 6), 4),
    ]
    assert row.n_bigrams == 5
    assert row.nll == round(sum(terms) / 5, 3)


def test_remove_boilerplate_lines(spark):
    """CCNet-style line-frequency dedup: hot lines (df > threshold) drop
    from every document, empty lines and order survive, untouched docs
    round-trip byte-identically."""
    from document_ai_spark.operators.dedup import remove_boilerplate_lines

    hot = "SUBSCRIBE to our newsletter"
    rows = [
        (1, f"unique alpha\n\n{hot}\n\nbody one"),
        (2, f"{hot}\n\nbody two"),
        (3, f"body three\n\n  {hot}  "),   # whitespace-padded twin: trim matches
        (4, "only unique text here\n\nsecond unique line"),
        (5, f"{hot}\nno empties {hot} inline stays\n{hot}"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r.id: r for r in remove_boilerplate_lines(df, "text", "id", max_line_df=2).collect()}
    # hot line df = 4 docs (1,2,3,5) > 2 -> dropped everywhere
    assert got[1].clean_text == "unique alpha\n\n\nbody one"
    assert got[1].n_lines == 5 and got[1].n_dropped == 1
    assert got[2].clean_text == "\nbody two"
    assert got[3].clean_text == "body three\n"  # the padded twin dropped too
    # untouched doc: byte-identical round trip
    assert got[4].clean_text == rows[3][1] and got[4].n_dropped == 0
    # a line CONTAINING the hot text is a different line: kept
    assert got[5].clean_text == f"no empties {hot} inline stays"
    assert got[5].n_dropped == 2
    # threshold boundary: df == max_line_df is NOT hot
    got2 = {r.id: r for r in remove_boilerplate_lines(df, "text", "id", max_line_df=4).collect()}
    assert got2[2].clean_text == rows[1][1] and got2[2].n_dropped == 0


def test_remove_boilerplate_lines_all_hot_doc_survives(spark):
    """A document whose EVERY line is hot must come back with
    clean_text='' and full drop counters — not vanish (review find)."""
    from document_ai_spark.operators.dedup import remove_boilerplate_lines

    hot = "COOKIE NOTICE"
    rows = [(1, hot), (2, hot), (3, hot), (4, f"{hot}\n{hot}"), (5, "real content")]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r.id: r for r in remove_boilerplate_lines(df, "text", "id", max_line_df=2).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[4].clean_text == "" and got[4].n_lines == 2 and got[4].n_dropped == 2
    assert got[1].clean_text == "" and got[1].n_dropped == 1
    assert got[5].clean_text == "real content" and got[5].n_dropped == 0
