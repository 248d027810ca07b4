"""HNSW sharded-graph ANN (SURVEY K5 — `index/impl/hnswlib/
gamma_index_hnswlib.cc:128,316-380`): recall methodology mirrors the
reference's own acceptance tests (recall vs exact kernel), plus the
traversal-time filter/band semantics hnswlib enforces
(`hnswalg.h:312-313,379-380`)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gamma_spark.operators import knn
from gamma_spark.operators.hnsw import HnswIndex, NpHnsw


@pytest.fixture(scope="module")
def docs(embeddings):
    return embeddings.withColumnRenamed("vec_id", "_docid")


@pytest.fixture(scope="module")
def queries(spark, docs):
    rows = docs.orderBy("_docid").limit(8).collect()
    return spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )


def _recall(approx_rows, exact_rows):
    a = {(r.qid, r._docid) for r in approx_rows}
    e = {(r.qid, r._docid) for r in exact_rows}
    return len(a & e) / len(e)


# ---------------------------------------------------------------------------
# in-memory kernel
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("metric", ["L2", "IP", "COSINE"])
def test_np_hnsw_recall(metric):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(600, 16))
    q = mat[:20]
    g = NpHnsw(m=16, ef_construction=80, metric=metric).build(mat, seed=1)
    pos, _ = g.search(q, k=10, ef=120)
    # brute-force truth
    if metric == "L2":
        d = ((q[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    else:
        mm = mat
        qq = q
        if metric == "COSINE":
            mm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            qq = q / np.linalg.norm(q, axis=1, keepdims=True)
        d = -(qq @ mm.T)
    truth = np.argsort(d, axis=1, kind="stable")[:, :10]
    hits = sum(len(set(pos[i]) & set(truth[i])) for i in range(len(q)))
    assert hits / truth.size >= 0.95


def test_np_hnsw_deterministic():
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(300, 8))
    g1 = NpHnsw(m=8, ef_construction=40).build(mat, seed=5)
    g2 = NpHnsw(m=8, ef_construction=40).build(mat, seed=5)
    p1, d1 = g1.search(mat[:10], k=5, ef=50)
    p2, d2 = g2.search(mat[:10], k=5, ef=50)
    assert (p1 == p2).all() and np.allclose(d1, d2)


def test_np_hnsw_valid_mask_keeps_recall():
    """Invalid nodes are routed *through*, not around: recall over the
    valid subset stays high even when 50% of nodes are filtered."""
    rng = np.random.default_rng(3)
    mat = rng.normal(size=(500, 12))
    valid = np.arange(500) % 2 == 0
    g = NpHnsw(m=16, ef_construction=80).build(mat, seed=2)
    pos, _ = g.search(mat[:10], k=5, ef=150, valid=valid)
    assert (valid[pos[pos >= 0]]).all()
    d = ((mat[:10][:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    d[:, ~valid] = np.inf
    truth = np.argsort(d, axis=1, kind="stable")[:, :5]
    hits = sum(len(set(pos[i]) & set(truth[i])) for i in range(10))
    assert hits / truth.size >= 0.9


# ---------------------------------------------------------------------------
# sharded Spark index
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hnsw(docs):
    return HnswIndex.build(docs, nshards=4, m=16, ef_construction=80, metric="L2")


def test_hnsw_recall_vs_exact(hnsw, docs, queries):
    exact = knn.knn_join(docs, queries, k=10, metric="L2").collect()
    approx = hnsw.search(None, queries, k=10, ef_search=128, mode="graph").collect()
    assert _recall(approx, exact) >= 0.9
    # self-hit: every query vector is a doc, so rank-1 must be itself
    best = {r.qid: r._docid for r in approx if r.rank == 1}
    assert all(q == d for q, d in best.items())


def test_hnsw_filter_during_traversal(hnsw, docs, queries):
    pred = F.col("label") == 1
    exact = knn.knn_join(docs, queries, k=10, metric="L2", predicate=pred).collect()
    approx = hnsw.search(
        None, queries, k=10, ef_search=200, predicate=pred, mode="graph"
    ).collect()
    labels = {r._docid: r.label for r in docs.select("_docid", "label").collect()}
    assert all(labels[r._docid] == 1 for r in approx)
    assert _recall(approx, exact) >= 0.85


def test_hnsw_score_band(hnsw, docs, queries):
    lo, hi = 1.0, 15.0
    out = hnsw.search(
        None, queries, k=10, ef_search=200, min_score=lo, max_score=hi,
        mode="graph",
    ).collect()
    assert out, "band should admit some hits"
    assert all(lo <= r.score <= hi for r in out)


@pytest.mark.parametrize("mode", ["graph", "scan"])
def test_hnsw_qsplits_invariant(hnsw, queries, mode):
    a = hnsw.knn_join_distributed(queries, k=10, ef_search=128, mode=mode).collect()
    b = hnsw.knn_join_distributed(
        queries, k=10, ef_search=128, qsplits=3, mode=mode
    ).collect()
    ka = {(r.qid, r.rank): (r._docid, r.score) for r in a}
    kb = {(r.qid, r.rank): (r._docid, r.score) for r in b}
    if mode == "graph":
        # per-candidate gathers: bit-identical under any partitioning
        assert ka == kb
    else:
        # GEMM accumulation order varies with the query blocking (the
        # knn_scan caveat): ranks exact, scores to 1e-9
        assert ka.keys() == kb.keys()
        for key, (doc, score) in ka.items():
            doc_b, score_b = kb[key]
            assert doc == doc_b
            assert score == pytest.approx(score_b, abs=1e-9)


def test_hnsw_deterministic_rebuild(docs, queries):
    a = HnswIndex.build(docs, nshards=4, m=16, metric="IP", seed=9)
    b = HnswIndex.build(docs, nshards=4, m=16, metric="IP", seed=9)
    ra = {(r.qid, r.rank): (r._docid, r.score)
          for r in a.search(None, queries, k=5, mode="graph").collect()}
    rb = {(r.qid, r.rank): (r._docid, r.score)
          for r in b.search(None, queries, k=5, mode="graph").collect()}
    assert ra == rb


def test_hnsw_dump_load_roundtrip(docs, queries, tmp_path):
    path = str(tmp_path / "hnsw_idx")
    built = HnswIndex.build(docs, nshards=2, m=16, metric="COSINE", path=path)
    loaded = HnswIndex.load(docs.sparkSession, path)
    r1 = {(r.qid, r.rank): r._docid
          for r in built.search(None, queries, k=5, mode="graph").collect()}
    r2 = {(r.qid, r.rank): r._docid
          for r in loaded.search(None, queries, k=5, mode="graph").collect()}
    assert r1 == r2
    assert loaded.metric == "COSINE" and loaded.nshards == 2


def test_hnsw_metric_mismatch_raises(hnsw, queries):
    with pytest.raises(ValueError):
        hnsw.search(None, queries, k=5, metric="IP")


def test_hnsw_registered():
    from gamma_spark.operators.ann import get_model

    assert get_model("HNSW") is HnswIndex


# ---------------------------------------------------------------------------
# HNSW coarse quantizer for IVF (SURVEY K3's optional hnsw coarse path)
# ---------------------------------------------------------------------------

def test_hnsw_probe_matches_brute_probe():
    from gamma_spark.operators.ivf import IvfFlatIndex

    rng = np.random.default_rng(21)
    cents = rng.normal(size=(256, 16))
    idx = IvfFlatIndex(cents, index_df=None)
    q = rng.normal(size=(40, 16))
    brute = idx.probe_clusters(q, nprobe=8)
    idx.enable_hnsw_probe(m=16, ef_construction=80, ef_search=64)
    graph = idx.probe_clusters(q, nprobe=8)
    # probe recall: the graph's 8 picks vs the true 8 nearest centroids
    hits = sum(len(set(graph[i]) & set(brute[i])) for i in range(len(q)))
    assert hits / brute.size >= 0.95
    # degenerate nprobe == ncentroids must bypass the graph (exact)
    full_a = idx.probe_clusters(q[:4], nprobe=256)
    idx._hnsw_probe = None
    full_b = idx.probe_clusters(q[:4], nprobe=256)
    assert (full_a == full_b).all()


def test_hnsw_probe_end_to_end(docs, queries):
    from gamma_spark.operators import knn
    from gamma_spark.operators.ivf import IvfFlatIndex

    idx = IvfFlatIndex.build(docs, ncentroids=16, seed=42)
    idx.enable_hnsw_probe(m=8, ef_construction=40, ef_search=32)
    out = idx.search(None, queries, k=10, metric="L2", nprobe=4).collect()
    exact = knn.knn_join(docs, queries, k=10, metric="L2").collect()
    assert _recall(out, exact) >= 0.5  # same floor as the brute probe at nprobe=4/16


def test_hnsw_append_segments(docs, queries, tmp_path):
    """T2 micro-batch append: old graphs untouched, new docs land in
    fresh segments, search covers both, persistence round-trips."""
    old = docs.filter(F.col("_docid") < 400)
    new = docs.filter(F.col("_docid") >= 400)
    path = str(tmp_path / "grow")
    idx = HnswIndex.build(old, nshards=2, m=16, metric="L2", path=path)
    grown = idx.append(new, nshards=1)
    assert grown.nshards == 3
    assert grown.index_df.count() == docs.count()
    # old shard rows byte-identical (append-only)
    old_rows = idx.index_df.filter(F.col("_shard") < 2).count()
    assert grown.index_df.filter(F.col("_shard") < 2).count() == old_rows
    # a query targeting a new doc finds it
    target = new.orderBy("_docid").limit(1).collect()[0]
    q = docs.sparkSession.createDataFrame(
        [(int(target._docid), [float(x) for x in target.embedding])],
        "qid long, qvec array<float>",
    )
    hits = grown.search(None, q, k=3, ef_search=64).collect()
    assert hits[0]._docid == target._docid
    # reload sees the appended segments
    reloaded = HnswIndex.load(docs.sparkSession, path)
    assert reloaded.nshards == 3 and reloaded.index_df.count() == docs.count()
    # append resolved the operating-point dim from the batch and
    # persisted it (legacy indexes built before dim recording repair
    # themselves on the first append)
    assert reloaded.dim == len(target.embedding)


def test_hnsw_append_single_writer(docs, tmp_path):
    """Path-backed appends commit under the store's writer lock (r9):
    with the lock held — a mid-flight appender or router backfill — a
    second appender fails fast with ConcurrentWriterError BEFORE any
    graph write, instead of both reading nshards=N and the later meta
    rewrite dropping the other's committed segment."""
    from gamma_spark.io_util import ConcurrentWriterError, writer_lock

    old = docs.filter(F.col("_docid") < 400)
    new = docs.filter(F.col("_docid") >= 400)
    path = str(tmp_path / "locked")
    idx = HnswIndex.build(old, nshards=2, m=16, metric="L2", path=path)
    graph_rows = idx.index_df.count()
    with writer_lock(path):
        with pytest.raises(ConcurrentWriterError):
            idx.append(new, nshards=1)
    # nothing committed: graph row count and meta nshards unchanged
    reloaded = HnswIndex.load(docs.sparkSession, path)
    assert reloaded.nshards == 2
    assert reloaded.index_df.count() == graph_rows
    # lock released -> the append succeeds
    grown = idx.append(new, nshards=1)
    assert grown.nshards == 3


def test_hnsw_append_stale_handle_fails_fast(docs, tmp_path):
    """r9 review fix: SEQUENTIAL appenders from separately opened
    handles never contend on the lock — a handle opened at nshards=N
    appending after another handle advanced the store would land its
    segment in an EXISTING _shard partition (two unrelated graphs
    interleaved). The commit must re-check disk meta and fail fast,
    the same contract as BucketedDocStore._swap_commit."""
    from gamma_spark.io_util import ConcurrentWriterError

    old = docs.filter(F.col("_docid") < 400)
    new = docs.filter(F.col("_docid") >= 400)
    path = str(tmp_path / "stale")
    HnswIndex.build(old, nshards=2, m=16, metric="L2", path=path)
    a = HnswIndex.load(docs.sparkSession, path)
    b = HnswIndex.load(docs.sparkSession, path)
    a.append(new, nshards=1)  # disk now at nshards=3
    rows_after_a = HnswIndex.load(docs.sparkSession, path).index_df.count()
    with pytest.raises(ConcurrentWriterError, match="nshards=3"):
        b.append(new, nshards=1)
    # nothing from b committed
    reloaded = HnswIndex.load(docs.sparkSession, path)
    assert reloaded.nshards == 3
    assert reloaded.index_df.count() == rows_after_a
    # a fresh handle appends fine
    HnswIndex.load(docs.sparkSession, path).append(new, nshards=1)
    assert HnswIndex.load(docs.sparkSession, path).nshards == 4


def test_hnsw_append_torn_append_orphan_detected(docs, tmp_path):
    """A crash between a prior append's parquet write and its meta
    rewrite leaves an orphan _shard dir meta doesn't record; the next
    append must refuse to interleave into it."""
    import os
    import shutil

    from gamma_spark.io_util import ConcurrentWriterError

    old = docs.filter(F.col("_docid") < 400)
    new = docs.filter(F.col("_docid") >= 400)
    path = str(tmp_path / "torn")
    idx = HnswIndex.build(old, nshards=2, m=16, metric="L2", path=path)
    # simulate the torn append: a _shard=2 dir exists, meta still says 2
    src = os.path.join(path, "graph", "_shard=1")
    shutil.copytree(src, os.path.join(path, "graph", "_shard=2"))
    with pytest.raises(ConcurrentWriterError, match="orphan|crashed"):
        idx.append(new, nshards=1)


# ---------------------------------------------------------------------------
# bulk router: exact GEMM scan for small/medium shards (VERDICT r6 #4)
# ---------------------------------------------------------------------------

def test_np_hnsw_scan_matches_bruteforce():
    """The scan kernel is EXACT: positions equal the brute-force top-k,
    valid mask and band are admission-only, k > n pads with -1/inf."""
    rng = np.random.default_rng(17)
    mat = rng.normal(size=(300, 12))
    q = rng.normal(size=(25, 12))
    g = NpHnsw(m=8, metric="L2")
    g.vecs = g._prep(mat)
    g.sq = (g.vecs * g.vecs).sum(axis=1)
    pos, dist = g.scan(q, k=7)
    d = g.sq[None, :] - 2.0 * (q @ mat.T)
    truth = np.argsort(d, axis=1, kind="stable")[:, :7]
    assert (pos == truth).all()
    # valid mask
    valid = np.arange(300) % 3 == 0
    pos_v, _ = g.scan(q, k=7, valid=valid)
    dv = d.copy()
    dv[:, ~valid] = np.inf
    assert (pos_v == np.argsort(dv, axis=1, kind="stable")[:, :7]).all()
    # k > n pads
    pos_p, dist_p = g.scan(q[:2], k=400)
    assert (pos_p[:, 300:] == -1).all() and np.isinf(dist_p[:, 300:]).all()
    # band maps to admission: everything outside [lo, hi] dropped
    lo = float(np.quantile(d, 0.1))
    pos_b, dist_b = g.scan(q, k=7, dist_lo=lo)
    got = dist_b[np.isfinite(dist_b)]
    assert (got >= lo - 1e-12).all()


def test_route_to_scan_cost_model():
    """Small shards (over-sharded corpora, tiny test fixtures) route to
    the scan; at and above the measured break-even (~30k rows at d=64,
    ef=64, m=16) the graph's cache-resident frontiers win. Constants
    are MEASURED under full worker concurrency (hnsw.py header)."""
    from gamma_spark.operators.hnsw import _route_to_scan

    assert _route_to_scan(1_000, 64, ef=64, m=16)       # test fixtures
    assert _route_to_scan(15_625, 64, ef=64, m=16)      # 500k / 32 shards
    assert not _route_to_scan(62_500, 64, ef=64, m=16)  # 500k / 8 shards
    assert not _route_to_scan(10_000_000, 768)          # production shard
    # higher ef raises the graph's per-query cost -> scan wins longer
    assert _route_to_scan(30_000, 64, ef=512, m=16)


def test_hnsw_scan_mode_matches_exact_join(hnsw, docs, queries):
    """Forced scan mode == the exact kNN join, row for row (per-shard
    exact top-k union = global exact top-k) — and auto mode routes these
    small test shards to the same result."""
    exact = {
        (r.qid, r.rank): r._docid
        for r in knn.knn_join(docs, queries, k=10, metric="L2").collect()
    }
    scan = {
        (r.qid, r.rank): r._docid
        for r in hnsw.search(None, queries, k=10, mode="scan").collect()
    }
    assert scan == exact
    auto = {
        (r.qid, r.rank): r._docid
        for r in hnsw.search(None, queries, k=10, mode="auto").collect()
    }
    assert auto == exact  # router fired: these shards are tiny


def test_hnsw_scan_mode_respects_filter_and_band(hnsw, docs, queries):
    pred = F.col("label") == 1
    exact = {
        (r.qid, r.rank): r._docid
        for r in knn.knn_join(
            docs, queries, k=10, metric="L2", predicate=pred
        ).collect()
    }
    scan = {
        (r.qid, r.rank): r._docid
        for r in hnsw.search(
            None, queries, k=10, predicate=pred, mode="scan"
        ).collect()
    }
    assert scan == exact
    banded = hnsw.search(
        None, queries, k=10, min_score=1.0, max_score=15.0, mode="scan"
    ).collect()
    assert banded and all(1.0 <= r.score <= 15.0 for r in banded)


def test_hnsw_mode_validation(hnsw, queries):
    with pytest.raises(ValueError, match="mode"):
        hnsw.search(None, queries, k=5, mode="warp")


def test_hnsw_auto_resolves_driver_side_for_path_backed(docs, queries, tmp_path):
    """Parquet-backed indexes resolve the auto route on the driver and
    PRUNE the adjacency columns from the scan plan — results must still
    equal the exact join (these shards are far below break-even)."""
    path = str(tmp_path / "routed")
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2", path=path)
    exact = {
        (r.qid, r.rank): r._docid
        for r in knn.knn_join(docs, queries, k=5, metric="L2").collect()
    }
    auto = {
        (r.qid, r.rank): r._docid
        for r in idx.search(None, queries, k=5, mode="auto").collect()
    }
    assert auto == exact


def test_np_hnsw_scan_tie_repair_duplicate_vectors():
    """ADVICE r7: exact duplicate vectors produce distance ties at the
    k boundary; the scan must keep the SMALLEST positions (= smallest
    docids) like knn_scan and the exact oracle, not argpartition's
    arbitrary tied members."""
    rng = np.random.default_rng(5)
    base = rng.normal(size=(10, 8))
    # 12 copies of each of 10 distinct vectors -> every top-k boundary
    # is a tie between duplicates
    mat = np.repeat(base, 12, axis=0)
    q = base + rng.normal(scale=1e-3, size=base.shape)
    g = NpHnsw(m=8, metric="L2")
    g.vecs = g._prep(mat)
    g.sq = (g.vecs * g.vecs).sum(axis=1)
    for k in (5, 12, 17):
        pos, dist = g.scan(q, k=k)
        d = g.sq[None, :] - 2.0 * (q @ mat.T)
        truth_pos = np.lexsort(
            (np.broadcast_to(np.arange(120), d.shape), d), axis=1
        )[:, :k]
        assert (pos == truth_pos).all(), f"k={k}: tied members differ"
        # and within the result, ties ordered by position
        for r in range(len(q)):
            pairs = list(zip(dist[r], pos[r]))
            assert pairs == sorted(pairs)


def test_hnsw_auto_route_on_empty_index(spark, docs, queries, tmp_path):
    """ADVICE r7: driver-side auto routing on a path-backed EMPTY index
    (all rows deleted) must not crash on first() returning None; it
    returns zero hits."""
    path = str(tmp_path / "emptyidx")
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2", path=path)
    # delete everything: the live count is 0 and first() is None
    idx.index_df = idx.index_df.withColumn("_deleted", F.lit(True))
    out = idx.search(None, queries, k=5, mode="auto")
    assert out.count() == 0


@pytest.mark.parametrize("persist", [False, True])
def test_hnsw_search_with_empty_shards(spark, docs, queries, tmp_path, persist):
    """3 docs hashed into the default 8 shards leave most shards empty.
    Sending queries to an empty shard crashed a Python worker inside
    PySpark's cogroup Arrow -> pandas step; every query must get
    min(k, n) rows, also after a dump/load."""
    few = docs.orderBy("_docid").limit(3)
    path = str(tmp_path / "few") if persist else None
    idx = HnswIndex.build(few, path=path)
    if persist:
        idx = HnswIndex.load(spark, path)
    assert len(idx._filled_shards) < idx.nshards
    rows = idx.search(None, queries, k=3, metric="L2").collect()
    per_query = {}
    for r in rows:
        per_query[r.qid] = per_query.get(r.qid, 0) + 1
    qids = {r.qid for r in queries.collect()}
    assert per_query == {q: 3 for q in qids}


def test_router_calibration_and_overrides(tmp_path, docs, queries, monkeypatch):
    """VERDICT r7 #2: the route must flip when the (calibrated or
    env-overridden) constants cross break-even, calibration must be
    persisted in the index meta and restored by load()."""
    import json as _json

    from gamma_spark.operators.hnsw import (
        ENV_GRAPH_SPQ,
        ENV_SCAN_MACS,
        HnswIndex,
        _route_to_scan,
        calibrate_router,
    )

    monkeypatch.delenv(ENV_SCAN_MACS, raising=False)
    monkeypatch.delenv(ENV_GRAPH_SPQ, raising=False)
    # explicit constants crossing break-even flip the route at a fixed
    # shard shape: a slow scan host routes to graph, a fast one to scan
    shape = dict(n_shard=50_000, dim=64, ef=64, m=16)
    assert not _route_to_scan(**shape, scan_macs=1e8, graph_spq=3.5e-3)
    assert _route_to_scan(**shape, scan_macs=1e10, graph_spq=3.5e-3)
    # ...and so does the graph-overhead constant alone
    assert not _route_to_scan(**shape, scan_macs=6e8, graph_spq=1e-4)
    assert _route_to_scan(**shape, scan_macs=6e8, graph_spq=1e-1)
    # env overrides WIN over calibrated values
    monkeypatch.setenv(ENV_SCAN_MACS, "1e10")
    assert _route_to_scan(**shape, scan_macs=1e8, graph_spq=3.5e-3)
    monkeypatch.setenv(ENV_SCAN_MACS, "not-a-float")
    with pytest.raises(ValueError, match=ENV_SCAN_MACS):
        _route_to_scan(**shape)
    monkeypatch.delenv(ENV_SCAN_MACS)

    # the probe itself returns sane positives quickly
    cal = calibrate_router()
    assert cal["scan_macs_per_sec"] > 0 and cal["graph_sec_per_query"] > 0

    # build persists calibration; load restores it
    path = str(tmp_path / "calidx")
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2", path=path)
    assert idx.router["scan_macs_per_sec"] > 0
    meta = _json.load(open(f"{path}/meta.json"))
    assert meta["router"] == idx.router
    loaded = HnswIndex.load(docs.sparkSession, path)
    assert loaded.router == idx.router


def test_routed_scan_plan_prunes_adjacency_columns(docs, queries, tmp_path):
    """VERDICT r7 #5: the routed GEMM scan over a Parquet-backed index
    must PRUNE the adjacency columns from the parquet scan — shipping
    and Arrow-deserializing _nbrs to a kernel that never reads it is
    pure waste. Pinned as a ReadSchema assertion."""
    path = str(tmp_path / "pruneidx")
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2", path=path)
    df = idx.search(None, queries, k=5, mode="auto")  # resolves to scan
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    schemas = [
        ln for ln in plan.splitlines() if ln.strip().startswith("ReadSchema:")
    ]
    assert schemas, "expected at least one parquet scan in the plan"
    offenders = [ln for ln in schemas if "_nbrs" in ln or "_level" in ln]
    assert not offenders, (
        "routed scan plan reads adjacency columns from parquet: "
        f"{offenders}"
    )
    # the graph path, by contrast, legitimately reads them
    dfg = idx.search(None, queries, k=5, mode="graph")
    plang = dfg._sc._jvm.PythonSQLUtils.explainString(
        dfg._jdf.queryExecution(), "formatted"
    )
    assert "_nbrs" in plang


def _select_heuristic_reference(g, cands, m):
    """The pre-r8 per-candidate form of getNeighborsByHeuristic2,
    kept verbatim as the parity oracle for the vectorized rewrite."""
    if len(cands) <= m:
        return np.array([c for _, c in cands], dtype=np.int64)
    kept = []
    for d, c in cands:
        if len(kept) >= m:
            break
        if not kept:
            kept.append(c)
            continue
        kmat = g.vecs[np.asarray(kept, dtype=np.int64)]
        cv = g.vecs[c]
        if g.metric == "L2":
            dk = ((kmat - cv) ** 2).sum(axis=1)
        else:
            dk = -(kmat @ cv)
        if (dk > d).all():
            kept.append(c)
    return np.asarray(kept, dtype=np.int64)


@pytest.mark.parametrize("metric", ["L2", "IP", "COSINE"])
def test_select_heuristic_matches_reference(metric):
    """r8: the vectorized neighbor-selection heuristic must make
    IDENTICAL decisions to the per-candidate original, including on
    internal-form (possibly negative) query distances.

    L2 additionally uses corpus-row queries over duplicate-heavy data
    (exact kept-vs-query FP ties) — its distance expressions are
    bitwise-stable across both forms. The dot metrics use off-corpus
    queries: AT an exact tie the dot-product keep test was already
    decided by last-ulp BLAS kernel noise in the per-candidate form
    itself (gemv over a 1-row vs a 36-row matrix picks different
    kernels), so bitwise tie parity is not a property either form has;
    away from ties (measure-1 of real inputs) decisions must agree."""
    rng = np.random.default_rng(13)
    base = rng.normal(size=(400, 16))
    mat = np.vstack([base, base[:100]])  # planted exact duplicates
    g = NpHnsw(m=8, metric=metric)
    g.vecs = g._prep(mat)
    if metric == "L2":
        g.sq = (g.vecs * g.vecs).sum(axis=1)
    for trial in range(200):
        c = int(rng.integers(2, 40))
        ids = rng.choice(len(mat), size=c, replace=False).astype(np.int64)
        if metric == "L2":
            q = g.vecs[int(rng.integers(0, len(mat)))]
        else:
            q = g._prep(rng.normal(size=(1, 16)))[0]
        d = g._dists(q, ids)  # internal form, like the insert path
        order = np.argsort(d, kind="stable")
        d, ids = d[order], ids[order]
        m = int(rng.integers(1, 12))
        ref = _select_heuristic_reference(
            g, [(float(x), int(i)) for x, i in zip(d, ids)], m
        )
        got = g._select_heuristic(d, ids, m)
        assert (got == ref).all(), (trial, metric, got, ref)


@pytest.mark.parametrize("metric", ["L2", "IP"])
def test_np_hnsw_build_identical_after_vectorization(metric):
    """The r8 _select_heuristic/_search_layer rewrites must leave the
    BUILT GRAPH identical (same adjacency, same entry), not merely
    similar-recall. Oracle = a build driven by the reference heuristic,
    monkey-patched in. L2 includes planted duplicates (its tie
    expressions are bitwise-stable); IP uses distinct vectors — at an
    exact duplicate-vs-inserted-query tie the dot keep test was BLAS
    kernel-noise in the old form too (see the parity test)."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=(500, 12))
    if metric == "L2":
        mat = np.vstack([base, base[:80]])  # duplicates stress ties
    else:
        mat = base
    fast = NpHnsw(m=8, ef_construction=60, metric=metric).build(mat, seed=3)

    slow = NpHnsw(m=8, ef_construction=60, metric=metric)
    orig = NpHnsw._select_heuristic
    try:
        NpHnsw._select_heuristic = lambda g, dq, ids, m: (
            _select_heuristic_reference(
                g, [(float(x), int(i)) for x, i in zip(dq, ids)], m
            )
        )
        slow.build(mat, seed=3)
    finally:
        NpHnsw._select_heuristic = orig

    assert fast.entry == slow.entry and fast.max_level == slow.max_level
    assert (fast.levels == slow.levels).all()
    for i in range(len(mat)):
        assert len(fast.adj[i]) == len(slow.adj[i])
        for lvl in range(len(fast.adj[i])):
            assert (fast.adj[i][lvl] == slow.adj[i][lvl]).all(), (i, lvl)


def test_in_memory_auto_uses_host_calibration(docs, queries, monkeypatch):
    """r8: in-memory indexes (no persisted meta) resolve auto-routing
    constants from a once-per-process host calibration, not the frozen
    defaults — and env still wins over it."""
    from gamma_spark.operators import hnsw as H

    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2")
    assert idx.router == {}
    monkeypatch.delenv(H.ENV_SCAN_MACS, raising=False)
    monkeypatch.delenv(H.ENV_GRAPH_SPQ, raising=False)
    H._HOST_CALIBRATION.clear()
    out = idx.search(None, queries, k=5, mode="auto")
    out.count()
    # r9 (ADVICE r8): the memo is keyed on the index's OWN operating
    # point (metric, dim, m) — resolved from the build-time source
    # relation, never the default 64-dim probe shape blindly
    assert idx.dim is not None and idx.dim > 0
    key = ("L2", idx.dim, 16)
    assert key in H._HOST_CALIBRATION  # memoized by the auto search
    cal = H._HOST_CALIBRATION[key]
    assert cal["scan_macs_per_sec"] > 0 and cal["graph_sec_per_query"] > 0
    # memo reused, not re-measured
    sentinel = {"scan_macs_per_sec": 1.0, "graph_sec_per_query": 9.9}
    H._HOST_CALIBRATION[key] = sentinel
    assert H._host_calibration("L2", idx.dim, 16) is sentinel
    H._HOST_CALIBRATION.clear()


def test_saturated_constants_win_over_solo(tmp_path, docs, queries, monkeypatch):
    """VERDICT r8 #4: when the index meta carries BOTH the solo and the
    saturated (concurrent-probe) router constants, auto routing must
    resolve on the saturated pair — it measures the scan/traversal
    ratio under the same memory-bandwidth contention the 32-way
    cogroup kernel sees. Env overrides still win over both."""
    from gamma_spark.operators import hnsw as H

    monkeypatch.delenv(H.ENV_SCAN_MACS, raising=False)
    monkeypatch.delenv(H.ENV_GRAPH_SPQ, raising=False)
    path = str(tmp_path / "satidx")
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2", path=path)
    idx.router = {
        "scan_macs_per_sec": 111.0,
        "graph_sec_per_query": 0.9,
        "saturated_scan_macs_per_sec": 222.0,
        "saturated_graph_sec_per_query": 0.8,
    }
    captured = {}

    def fake_route(n_shard, dim, ef=64, m=32, scan_macs=None, graph_spq=None):
        captured["scan_macs"] = scan_macs
        captured["graph_spq"] = graph_spq
        return True

    monkeypatch.setattr(H, "_route_to_scan", fake_route)
    idx.search(None, queries, k=5, mode="auto")
    assert captured == {"scan_macs": 222.0, "graph_spq": 0.8}
    # env beats saturated
    monkeypatch.setenv(H.ENV_SCAN_MACS, "333.0")
    idx.search(None, queries, k=5, mode="auto")
    assert captured["scan_macs"] == 333.0 and captured["graph_spq"] == 0.8


def test_saturated_calibration_persisted_and_loaded(tmp_path, docs, monkeypatch):
    """build(saturate=N) runs the N-process concurrent probe and
    persists the saturated pair next to the solo pair; load restores
    both plus the recorded dim. The probe itself returns sane
    positives and never raises (it falls back to solo on failure)."""
    import json as _json

    from gamma_spark.operators.hnsw import calibrate_router_saturated

    monkeypatch.delenv("SPARK_GRAFT_HNSW_CALIB_PROCS", raising=False)
    sat = calibrate_router_saturated(dim=32, m=16, procs=2)
    assert sat["scan_macs_per_sec"] > 0 and sat["graph_sec_per_query"] > 0
    # procs<=1 degenerates to the solo probe
    solo = calibrate_router_saturated(dim=32, m=16, procs=1)
    assert set(solo) == {"scan_macs_per_sec", "graph_sec_per_query"}

    path = str(tmp_path / "satbuild")
    idx = HnswIndex.build(
        docs, nshards=2, m=16, metric="L2", path=path, saturate=2
    )
    assert idx.router["scan_macs_per_sec"] > 0
    assert idx.router["saturated_scan_macs_per_sec"] > 0
    assert idx.router["saturated_graph_sec_per_query"] > 0
    assert idx.router["saturated_procs"] == 2
    assert idx.dim and idx.dim > 0
    meta = _json.load(open(f"{path}/meta.json"))
    assert meta["router"] == idx.router and meta["dim"] == idx.dim
    loaded = HnswIndex.load(docs.sparkSession, path)
    assert loaded.router == idx.router and loaded.dim == idx.dim


def test_legacy_meta_router_backfill(tmp_path, docs, queries, monkeypatch):
    """ADVICE r8: a persisted index whose meta predates router
    calibration (router=None, no dim) triggers ONE probe at the
    index's own dim/m on the first auto query, and the result is
    backfilled into meta.json — once per index, not once per process.
    Untouched meta keys (nshards) survive the backfill rewrite."""
    import json as _json

    from gamma_spark.operators import hnsw as H

    monkeypatch.delenv(H.ENV_SCAN_MACS, raising=False)
    monkeypatch.delenv(H.ENV_GRAPH_SPQ, raising=False)
    path = str(tmp_path / "legacyidx")
    HnswIndex.build(docs, nshards=2, m=16, metric="L2", path=path)
    mpath = f"{path}/meta.json"
    meta = _json.load(open(mpath))
    meta["router"] = None
    meta.pop("dim", None)
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)

    loaded = HnswIndex.load(docs.sparkSession, path)
    assert loaded.router == {} and loaded.dim is None
    loaded.search(None, queries, k=5, mode="auto")
    assert loaded.router["scan_macs_per_sec"] > 0
    assert loaded.dim and loaded.dim > 0
    meta2 = _json.load(open(mpath))
    assert meta2["router"] == loaded.router
    assert meta2["dim"] == loaded.dim
    assert meta2["nshards"] == 2  # read-fresh rewrite keeps other keys

    # second query: constants now persisted, no re-probe (pin by
    # making a re-probe blow up)
    monkeypatch.setattr(
        H, "calibrate_router",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("re-probed")),
    )
    reloaded = HnswIndex.load(docs.sparkSession, path)
    reloaded.search(None, queries, k=5, mode="auto")


def test_hnsw_probe_underfill_pads_without_mutating_probe_state():
    """r9 race fix: padding under-filled graph-probe rows must go
    through the brute helper directly — NOT by temporarily nulling
    ``_hnsw_probe``, which raced concurrent searches on the same index
    (a sibling thread would silently take the brute O(Q·C) path or see
    the field restored mid-flight)."""
    from gamma_spark.operators.ivf import IvfFlatIndex

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(128, 16))
    idx = IvfFlatIndex(cents, index_df=None)
    q = rng.normal(size=(12, 16))
    brute = idx.probe_clusters(q, nprobe=6)
    idx.enable_hnsw_probe(m=16, ef_construction=80, ef_search=64)
    real_g, ef = idx._hnsw_probe

    class Underfill:
        """Delegates to the real graph, then forces two rows under-filled."""

        def search(self, qmat, k, ef):
            pos, dist = real_g.search(qmat, k=k, ef=ef)
            pos = pos.copy()
            pos[0, 1:] = -1
            pos[5, :] = -1
            return pos, dist

    fake = (Underfill(), ef)
    idx._hnsw_probe = fake
    out = idx.probe_clusters(q, nprobe=6)
    # the probe handle is untouched (identity, not equality)
    assert idx._hnsw_probe is fake
    # under-filled rows were replaced by the exact brute answer
    assert (out[0] == brute[0]).all()
    assert (out[5] == brute[5]).all()
    # no -1 anywhere after padding
    assert (out >= 0).all()


def test_route_break_even_inverts_cost_model():
    """route_break_even is the closed-form inverse of _route_to_scan:
    the route must be 'scan' just below the break-even and 'graph'
    just above it, for a grid of calibrated constants."""
    from gamma_spark.operators.hnsw import _route_to_scan, route_break_even

    for macs in (6e8, 1.4e9, 6.5e8):
        for spq in (2e-4, 1.1e-3, 5e-3):
            for dim in (64, 128, 768):
                be = route_break_even(
                    dim, ef=64, m=16, scan_macs=macs, graph_spq=spq
                )
                assert _route_to_scan(
                    max(1, be - 2), dim, ef=64, m=16,
                    scan_macs=macs, graph_spq=spq,
                )
                assert not _route_to_scan(
                    be + 2, dim, ef=64, m=16,
                    scan_macs=macs, graph_spq=spq,
                )


def test_calibrated_constants_rejected_when_degenerate(monkeypatch):
    """ADVICE r9: a persisted router constant of 0.0/NaN must raise, not
    silently fall through to the frozen defaults; None still tiers to
    the frozen defaults; env overrides still win."""
    import numpy as np

    from gamma_spark.operators import hnsw as H

    monkeypatch.delenv(H.ENV_SCAN_MACS, raising=False)
    monkeypatch.delenv(H.ENV_GRAPH_SPQ, raising=False)
    # None -> frozen defaults, no raise
    assert isinstance(H._route_to_scan(1000, 64), bool)
    assert H.route_break_even(64) > 0
    for bad in (0.0, -1.0, float("nan")):
        with pytest.raises(ValueError, match="must be > 0"):
            H._route_to_scan(1000, 64, scan_macs=bad)
        with pytest.raises(ValueError, match="must be > 0"):
            H.route_break_even(64, graph_spq=bad)
    # env override wins even over a degenerate calibrated value
    monkeypatch.setenv(H.ENV_SCAN_MACS, "1e9")
    monkeypatch.setenv(H.ENV_GRAPH_SPQ, "1e-3")
    assert isinstance(H._route_to_scan(1000, 64, scan_macs=0.0, graph_spq=0.0), bool)
    assert np.isfinite(H.route_break_even(64, scan_macs=0.0, graph_spq=0.0))


def test_degenerate_meta_constants_raise_at_query_time(tmp_path, docs, queries, monkeypatch):
    """The knn_join_distributed resolution chain validates meta-sourced
    constants: a persisted saturated 0.0 raises instead of silently
    routing on the solo/frozen pair."""
    from gamma_spark.operators import hnsw as H

    monkeypatch.delenv(H.ENV_SCAN_MACS, raising=False)
    monkeypatch.delenv(H.ENV_GRAPH_SPQ, raising=False)
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2")
    idx.router = {"saturated_scan_macs_per_sec": 0.0,
                  "scan_macs_per_sec": 1e9,
                  "graph_sec_per_query": 1e-3}
    with pytest.raises(ValueError, match="must be > 0"):
        idx.search(None, queries, k=5, mode="auto").count()


def test_path_backed_build_defaults_to_saturated_probe(tmp_path, docs, monkeypatch):
    """VERDICT r9 #3: path-backed builds run the saturated concurrent
    probe BY DEFAULT at min(32, cpu_count) procs (the r9 measurement
    showed the solo ratio assumption failing 2.1x under concurrency);
    saturate=1 / ENV_CALIB_PROCS=1 restores solo-only."""
    import os as _os

    from gamma_spark.operators import hnsw as H

    monkeypatch.delenv(H.ENV_CALIB_PROCS, raising=False)
    calls = {}

    def fake_solo(dim=64, m=16, metric="L2", **kw):
        return {"scan_macs_per_sec": 1e9, "graph_sec_per_query": 1e-3}

    def fake_sat(dim=64, m=16, metric="L2", procs=None, **kw):
        calls["procs"] = procs
        return {"scan_macs_per_sec": 5e8, "graph_sec_per_query": 1e-3}

    monkeypatch.setattr(H, "calibrate_router", fake_solo)
    monkeypatch.setattr(H, "calibrate_router_saturated", fake_sat)
    H._BUILD_CALIBRATION.clear()
    idx = HnswIndex.build(docs, nshards=2, m=16, metric="L2",
                          path=str(tmp_path / "defsat"))
    assert calls["procs"] == min(_os.cpu_count() or 1, 32)
    assert idx.router["saturated_procs"] == calls["procs"]
    assert idx.router["saturated_scan_macs_per_sec"] == 5e8
    # memoized per operating point: a second build re-uses the probe
    calls.clear()
    HnswIndex.build(docs, nshards=2, m=16, metric="L2",
                    path=str(tmp_path / "defsat2"))
    assert calls == {}
    # solo-only escape hatches
    H._BUILD_CALIBRATION.clear()
    idx2 = HnswIndex.build(docs, nshards=2, m=16, metric="L2",
                           path=str(tmp_path / "solo"), saturate=1)
    assert calls == {} and "saturated_procs" not in idx2.router
    monkeypatch.setenv(H.ENV_CALIB_PROCS, "1")
    H._BUILD_CALIBRATION.clear()
    idx3 = HnswIndex.build(docs, nshards=2, m=16, metric="L2",
                           path=str(tmp_path / "solo2"))
    assert calls == {} and "saturated_procs" not in idx3.router
    H._BUILD_CALIBRATION.clear()


def test_calib_procs_env_unparsable_raises(monkeypatch):
    """r11 review: an unparsable SPARK_GRAFT_HNSW_CALIB_PROCS (a typo'd
    opt-out like 'O' for 0) must not read as 'unset' — that silently
    selects the host-wide saturated fork probe the variable exists to
    suppress (the exact A/B contamination ADVICE r10 flagged)."""
    from gamma_spark.operators import hnsw as H

    monkeypatch.setenv(H.ENV_CALIB_PROCS, "O")
    with pytest.raises(ValueError, match="CALIB_PROCS"):
        H._calib_procs_env()
    monkeypatch.setenv(H.ENV_CALIB_PROCS, "0")
    assert H._calib_procs_env() == 1  # solo-only opt-out preserved
    monkeypatch.setenv(H.ENV_CALIB_PROCS, "")
    assert H._calib_procs_env() is None
