"""Residual PQ + OPQ specifics: rotation orthogonality, OPQ recall not
worse than plain PQ, IP-metric ADC decomposition."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gamma_spark.operators import knn
from gamma_spark.operators.pq import IvfPqIndex, opq_rotation_np

NCENT = 16


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


def test_opq_rotation_is_orthogonal():
    rng = np.random.default_rng(7)
    data = rng.normal(size=(500, 16)) @ np.diag(np.linspace(0.1, 3, 16))
    r = opq_rotation_np(data)
    assert np.allclose(r @ r.T, np.eye(16), atol=1e-9)
    # deterministic
    assert np.array_equal(r, opq_rotation_np(data))


@pytest.mark.parametrize("metric", ["IP", "L2"])
@pytest.mark.parametrize("opq", [False, True])
def test_exact_degenerate_with_residual_and_opq(docs, queries, metric, opq):
    """Full probes + full recall + rerank == exact brute force, for both
    metrics, with and without OPQ (rerank makes encoding irrelevant to
    the final answer; ADC ordering feeds it every candidate)."""
    n = docs.count()
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42, opq=opq)
    got = pq.search(
        docs, queries, k=5, metric=metric, nprobe=NCENT, recall_num=n, has_rank=True
    )
    want = knn.knn_join(docs, queries, k=5, metric=metric)
    g = {(r.qid, r.rank): r._docid for r in got.collect()}
    w = {(r.qid, r.rank): r._docid for r in want.collect()}
    assert g == w


def test_adc_selfhit_without_rerank(docs, queries):
    """ADC-only (has_rank=False): the query's own doc must surface at
    rank 1 — residual encoding reconstructs it near-perfectly."""
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    res = pq.search(docs, queries, k=5, metric="L2", nprobe=NCENT, has_rank=False)
    top1 = {r.qid: r._docid for r in res.collect() if r.rank == 1}
    hits = sum(1 for q, d in top1.items() if q == d)
    assert hits >= len(top1) - 1  # tolerate one ADC near-tie miss


def test_fastscan_shape_4bit_codes(docs, queries):
    """K4 IVFPQFastScan parity: the observable property of fast-scan is
    4-bit codes (ksub=16 per subspace — `index/impl/gamma_index_ivfpqfs.cc:40`);
    the SIMD register-shuffle scan itself is an execution detail. With
    rerank + full recall the 4-bit index must still match exact search."""
    n = docs.count()
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, nbits=4, seed=42)
    # codebooks respect the 4-bit budget
    cb = pq.codebooks
    assert all(sub.shape[0] <= 16 for sub in cb)
    got = pq.search(
        docs, queries, k=5, metric="L2", nprobe=NCENT, recall_num=n, has_rank=True
    )
    want = knn.knn_join(docs, queries, k=5, metric="L2")
    g = {(r.qid, r.rank): r._docid for r in got.collect()}
    w = {(r.qid, r.rank): r._docid for r in want.collect()}
    assert g == w


def test_adc_lut_bounds_preserve_results(docs, queries, monkeypatch):
    """r9 OOM fix (SIFT1M anchor rehearsal): above the LUT budget the
    pruned codes are cluster-partitioned and the per-task LUT cache is
    evicted wholesale — both are pure layout/memory moves, so forcing
    them at toy scale must reproduce the unbounded-path results
    bit-for-bit (LUTs are pure functions of (query, cluster); the
    running merge is tie-repaired, so partitioning cannot reorder)."""
    import gamma_spark.operators.pq as PQ

    idx = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=3)
    kw = dict(k=5, metric="L2", nprobe=4, recall_num=32)
    want = {
        (r.qid, r.rank): (r._docid, round(r.score, 9))
        for r in idx.search(None, queries, **kw).collect()
    }
    # force BOTH bounds at toy scale: repartition always, cache holds
    # at most one table (every second luts_for call evicts)
    monkeypatch.setattr(PQ.PqScorer, "LUT_PARTITION_BYTES", 0)
    monkeypatch.setattr(PQ.PqScorer, "LUT_CACHE_BYTES", 1)
    got = {
        (r.qid, r.rank): (r._docid, round(r.score, 9))
        for r in idx.search(None, queries, **kw).collect()
    }
    assert got == want


def test_rerank_band_not_applied_to_adc(docs, queries):
    """r9 review fix (gamma parity, `gamma_index_ivfpq.cc:668,689`):
    with has_rank the score band filters EXACT rerank scores only — a
    candidate whose quantized ADC estimate falls outside the band but
    whose exact score is inside must still be returned. At degenerate
    settings (full probes, full recall) the banded PQ search must
    therefore equal the banded exact kernel exactly."""
    n = docs.count()
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    # band tight around the mid scores so quantization error can move
    # estimates across the edges
    lo, hi = 5.0, 30.0
    got = {
        (r.qid, r.rank): r._docid
        for r in pq.search(
            docs, queries, k=10, metric="L2", nprobe=NCENT, recall_num=n,
            has_rank=True, min_score=lo, max_score=hi,
        ).collect()
    }
    want = {
        (r.qid, r.rank): r._docid
        for r in knn.knn_join(
            docs, queries, k=10, metric="L2", min_score=lo, max_score=hi
        ).collect()
    }
    assert got == want


def test_no_rank_l2_sqrt_scale(docs, queries):
    """r9 review fix: without rerank the ADC score IS the presented
    score — l2_sqrt must return sqrt-scale scores and interpret the
    band on that scale (it compared a sqrt band against squared ADC
    distances and returned squared scores)."""
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    plain = {
        (r.qid, r.rank): (r._docid, r.score)
        for r in pq.search(
            docs, queries, k=5, metric="L2", nprobe=NCENT, has_rank=False
        ).collect()
    }
    sqrt = {
        (r.qid, r.rank): (r._docid, r.score)
        for r in pq.search(
            docs, queries, k=5, metric="L2", nprobe=NCENT, has_rank=False,
            l2_sqrt=True,
        ).collect()
    }
    assert plain.keys() == sqrt.keys()
    import math

    for key, (doc, s) in plain.items():
        doc2, s2 = sqrt[key]
        assert doc == doc2
        assert s2 == pytest.approx(math.sqrt(s))
    # band on the sqrt scale admits sqrt-scale scores
    banded = pq.search(
        docs, queries, k=5, metric="L2", nprobe=NCENT, has_rank=False,
        l2_sqrt=True, max_score=6.0,
    ).collect()
    assert all(r.score <= 6.0 for r in banded)
