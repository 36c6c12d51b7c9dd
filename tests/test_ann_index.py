"""Materialized ANN index (operators/ann_index.py): build → probe must
(a) return the same results as the query-time paths in similarity.py and
(b) PROVABLY prune at the file-scan level — the executed plan's scan
metrics must show only the probed partitions/files were read."""

import io
import os
from contextlib import redirect_stdout

import pytest

from document_ai_spark.operators import similarity as S
from document_ai_spark.operators.ann_index import build_ann_index, ivf_topk_indexed
from document_ai_spark.sources.catalog import Catalog

from .conftest import SF_TINY

N_CLUSTERS = 8


def _query_vec(dim=16):
    # deterministic non-trivial query: alternate-sign ramp
    return [((-1) ** i) * (1.0 + i / 7.0) for i in range(dim)]


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(os.path.join(SF_TINY, "embeddings.parquet"))
    return df.cache()


@pytest.fixture(scope="module")
def ivf_index(spark, emb, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("ann_wh")))
    centroids = build_ann_index(emb, cat, "emb_ivf", n_clusters=N_CLUSTERS)
    return cat, centroids


def _dim(emb):
    return len(emb.select("embedding").first()[0])


def _scan_metrics(df):
    """Collect the result, then read (numPartitions, numFiles) off the
    executed plan's file-scan leaf (unwrapping AQE if present)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numPartitions"):
            return int(m.apply("numPartitions").value()), int(m.apply("numFiles").value())
    raise AssertionError("no file-scan leaf with partition metrics in plan")


def _partition_filters(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return "\n".join(l for l in buf.getvalue().splitlines() if "PartitionFilters" in l)


def test_index_layout_is_identity_partitioned(ivf_index):
    cat, centroids = ivf_index
    assert len(centroids) == N_CLUSTERS
    root = cat.identifier("emb_ivf")
    parts = sorted(d for d in os.listdir(root) if d.startswith("ivf_cluster="))
    assert len(parts) >= 2  # one directory per non-empty cluster


def test_full_probe_is_exact(emb, ivf_index):
    cat, centroids = ivf_index
    q = _query_vec(_dim(emb))
    exact = S.brute_force_topk(emb, q, k=7).collect()
    got = ivf_topk_indexed(cat, "emb_ivf", q, centroids, k=7, nprobe=N_CLUSTERS).collect()
    assert [(r.vec_id, r.score) for r in got] == [(r.vec_id, r.score) for r in exact]


def test_indexed_probe_matches_query_time_ivf(emb, ivf_index):
    cat, centroids = ivf_index
    q = _query_vec(_dim(emb))
    for nprobe in (1, 3):
        a = S.ivf_topk(emb, q, centroids, k=7, nprobe=nprobe).collect()
        b = ivf_topk_indexed(cat, "emb_ivf", q, centroids, k=7, nprobe=nprobe).collect()
        assert [(r.vec_id, r.score) for r in b] == [(r.vec_id, r.score) for r in a]


def test_probe_scan_is_partition_pruned(emb, ivf_index):
    cat, centroids = ivf_index
    q = _query_vec(_dim(emb))
    total_parts, total_files = _scan_metrics(cat.read("emb_ivf"))
    probed = ivf_topk_indexed(cat, "emb_ivf", q, centroids, k=7, nprobe=2)
    assert "ivf_cluster" in _partition_filters(probed)  # filter reached the scan
    nparts, nfiles = _scan_metrics(probed)
    assert nparts <= 2 < total_parts  # only probed directories touched
    assert nfiles < total_files


def test_rebuild_is_deterministic(spark, emb, tmp_path_factory):
    # same input -> byte-identical bucket assignment, any build order
    cat = Catalog(spark, str(tmp_path_factory.mktemp("ann_wh_det")))
    c1 = build_ann_index(emb, cat, "emb_a", n_clusters=4)
    c2 = build_ann_index(emb, cat, "emb_b", n_clusters=4)
    assert c1 == c2
    a = {r.vec_id: r.ivf_cluster for r in cat.read("emb_a").collect()}
    b = {r.vec_id: r.ivf_cluster for r in cat.read("emb_b").collect()}
    assert a == b


def test_append_maintains_index(spark, emb, tmp_path_factory):
    # build on the first half, append the second with the SAME centroids:
    # probes over the incrementally-built index must equal probes over a
    # from-scratch build on the full corpus (bucket = pure function)
    from document_ai_spark.operators.ann_index import append_to_ann_index

    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    cat = Catalog(spark, str(tmp_path_factory.mktemp("ann_wh_app")))
    from document_ai_spark.operators.similarity import train_ivf_centroids

    cents = train_ivf_centroids(emb, k=4)  # metadata fixed up front
    build_ann_index(half_a, cat, "emb_inc", centroids=cents, n_clusters=4)
    append_to_ann_index(half_b, cat, "emb_inc", centroids=cents)
    build_ann_index(emb, cat, "emb_full", centroids=cents, n_clusters=4)
    q = _query_vec(_dim(emb))
    for nprobe in (1, 4):
        a = ivf_topk_indexed(cat, "emb_inc", q, cents, k=7, nprobe=nprobe).collect()
        b = ivf_topk_indexed(cat, "emb_full", q, cents, k=7, nprobe=nprobe).collect()
        assert [(r.vec_id, r.score) for r in a] == [(r.vec_id, r.score) for r in b]
    # the appended table still prunes
    probed = ivf_topk_indexed(cat, "emb_inc", q, cents, k=7, nprobe=1)
    nparts, _ = _scan_metrics(probed)
    total_parts, _ = _scan_metrics(cat.read("emb_inc"))
    assert nparts == 1 < total_parts


def test_append_rejects_mismatched_bucket_function(spark, emb, tmp_path_factory):
    # the sidecar fingerprint guard: appending with other centroids (of
    # the same or another dim) must raise, not silently strand rows in
    # clusters probes never read
    from document_ai_spark.operators.ann_index import append_to_ann_index
    from document_ai_spark.operators.similarity import train_ivf_centroids

    cat = Catalog(spark, str(tmp_path_factory.mktemp("ann_wh_guard")))
    c1 = train_ivf_centroids(emb, k=4)
    c2 = train_ivf_centroids(emb, k=2)
    build_ann_index(emb, cat, "g_ivf", centroids=c1, n_clusters=4)
    before = cat.read("g_ivf").count()
    for other in (c2, [c[: len(c) // 2] for c in c1]):
        with pytest.raises(ValueError, match="mismatch"):
            append_to_ann_index(emb, cat, "g_ivf", centroids=other)
    assert cat.read("g_ivf").count() == before
    # matching centroids still append fine
    append_to_ann_index(emb, cat, "g_ivf", centroids=c1)
    assert cat.read("g_ivf").count() == 2 * before


def test_append_without_a_sidecar_raises(spark, emb, tmp_path_factory):
    """Every build writes <table>__meta; an index without one cannot be
    validated, so appending to it raises and leaves its files as they are."""
    import shutil

    from document_ai_spark.operators.ann_index import append_to_ann_index

    cat = Catalog(spark, str(tmp_path_factory.mktemp("ann_wh_nometa")))
    cents = build_ann_index(emb, cat, "bare", n_clusters=4)
    shutil.rmtree(cat.identifier("bare__meta"))
    root = cat.identifier("bare")

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, names in os.walk(root)
            for f in names
        }

    before = files()
    with pytest.raises(ValueError, match="'bare' has no bare__meta sidecar; rebuild it with build_ann_index"):
        append_to_ann_index(emb, cat, "bare", centroids=cents)
    assert files() == before
