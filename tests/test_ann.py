"""ANN index family (SURVEY K2/K3/K6): exact degeneracy + recall
methodology mirroring the reference (`benchs/README.md`, SURVEY §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gamma_spark.operators import knn
from gamma_spark.operators.ann import BinaryIvfIndex, FlatIndex, get_model
from gamma_spark.operators.ivf import IvfFlatIndex
from gamma_spark.operators.pq import IvfPqIndex

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


@pytest.fixture(scope="module")
def exact(docs, queries):
    return {
        (r.qid, r.rank): (r._docid, r.score)
        for r in knn.knn_join(docs, queries, k=10, metric="L2").collect()
    }


@pytest.fixture(scope="module")
def ivf(docs):
    return IvfFlatIndex.build(docs, ncentroids=NCENT, seed=42)


def recall_at_k(result_rows, exact_map, k=10):
    exact_sets = {}
    for (qid, _), (docid, _) in exact_map.items():
        exact_sets.setdefault(qid, set()).add(docid)
    got = {}
    for r in result_rows:
        got.setdefault(r.qid, set()).add(r._docid)
    recs = [len(got.get(q, set()) & s) / len(s) for q, s in exact_sets.items()]
    return sum(recs) / len(recs)


def test_ivfflat_exact_when_nprobe_full(docs, queries, ivf, exact):
    """nprobe == ncentroids degenerates to exact brute force (SURVEY §5)."""
    res = ivf.search(None, queries, k=10, metric="L2", nprobe=NCENT)
    got = {(r.qid, r.rank): (r._docid, r.score) for r in res.collect()}
    assert got == exact


def test_ivfflat_recall_with_pruning(docs, queries, ivf, exact):
    res = ivf.search(None, queries, k=10, metric="L2", nprobe=4).collect()
    rec = recall_at_k(res, exact)
    assert rec >= 0.5, f"recall@10 {rec} too low for nprobe=4/{NCENT}"
    # self-hit must survive pruning: the query's own cluster is probed first
    top1 = {r.qid: r._docid for r in res if r.rank == 1}
    assert all(top1[q] == q for q in top1)


def test_ivfflat_prefilter(docs, queries, ivf):
    res = ivf.search(
        None, queries, k=5, metric="L2", nprobe=NCENT, predicate=F.col("label") == 2
    ).collect()
    allowed = {r._docid for r in docs.filter(F.col("label") == 2).collect()}
    assert res and {r._docid for r in res} <= allowed


def test_ivfpq_exact_degenerate(docs, queries, exact):
    """nprobe=ncentroids + recall_num=N + rerank: identical to exact."""
    n = docs.count()
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    res = pq.search(
        docs, queries, k=10, metric="L2", nprobe=NCENT, recall_num=n, has_rank=True
    )
    got = {(r.qid, r.rank): (r._docid, round(r.score, 9)) for r in res.collect()}
    want = {k_: (d, round(s, 9)) for k_, (d, s) in exact.items()}
    assert got == want


def test_ivfpq_recall_adc(docs, queries, exact):
    """ADC + rerank at practical settings reaches usable recall on the
    small table (reference methodology: recall@k vs exact)."""
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    res = pq.search(
        docs, queries, k=10, metric="L2", nprobe=8, recall_num=64, has_rank=True
    ).collect()
    rec = recall_at_k(res, exact)
    assert rec >= 0.6, f"IVFPQ recall@10 {rec}"


def test_ivfpq_no_rank_uses_adc_order(docs, queries):
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    res = pq.search(docs, queries, k=5, metric="L2", nprobe=NCENT, has_rank=False)
    rows = res.collect()
    assert len(rows) == 5 * queries.count()
    assert all(r.rank <= 5 for r in rows)


def test_binaryivf_hamming(docs, queries):
    idx = BinaryIvfIndex.build(docs, ncentroids=NCENT, seed=42)
    res = idx.search(None, queries, k=5, nprobe=NCENT).collect()
    # self-query has hamming distance 0 to itself -> must be rank 1
    # (ties broken by docid; qid==docid here and 0 is the minimum)
    top1 = {r.qid: (r._docid, r.score) for r in res if r.rank == 1}
    for q, (d, s) in top1.items():
        assert s == 0
    assert len(res) == 5 * queries.count()


def test_registry():
    assert get_model("flat") is FlatIndex
    assert get_model("IVFFLAT") is IvfFlatIndex
    # K5/K7 flipped from non-goals to registered models in r4
    from gamma_spark.operators.hnsw import HnswIndex
    from gamma_spark.operators.pq import VearchIndex

    assert get_model("HNSW") is HnswIndex
    assert get_model("VEARCH") is VearchIndex
    with pytest.raises(ValueError):
        get_model("GPU_IVFPQ")


def test_knn_join_distributed_exact_parity(queries, ivf, exact):
    """Full-probe distributed kNN join (queries never collected) must
    equal the exact kernel — ids AND bit-exact scores under rescore."""
    got = ivf.knn_join_distributed(queries, k=10, metric="L2", nprobe=NCENT, rescore=True)
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    assert g == exact


def test_knn_join_distributed_prefilter_and_recall(docs, queries, ivf, exact):
    from pyspark.sql import functions as F

    # pre-filter composes (O1): results only from label==1 docs
    res = ivf.knn_join_distributed(
        queries, k=5, metric="L2", nprobe=NCENT, predicate=F.col("label") == 1
    )
    labels = {r.label for r in res.join(docs.select("_docid", "label"), "_docid").collect()}
    assert labels == {1}
    # pruned probing keeps usable recall (corpus-wide self-join shape
    # exercised; recall measured on the oracle'd fixture queries)
    q = docs.select(F.col("_docid").alias("qid"), F.col("embedding").alias("qvec"))
    ap = ivf.knn_join_distributed(q, k=10, metric="L2", nprobe=4)
    rec = recall_at_k([r for r in ap.collect() if (r.qid, 1) in exact], exact)
    assert rec >= 0.5, rec


def test_knn_join_distributed_salted_equals_unsalted(queries, ivf, exact):
    """Skew salting (inverted list sharded, queries replicated per
    shard) must not change results: per-shard top-k contains the
    shard's members of the global top-k."""
    got = ivf.knn_join_distributed(
        queries, k=10, metric="L2", nprobe=NCENT, rescore=True, salts=4
    )
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    assert g == exact


def test_pq_join_distributed_exact_and_recall(docs, queries, exact):
    """Distributed ADC join: degenerate config equals exact bit-for-bit;
    practical pruning keeps usable recall."""
    n = docs.count()
    pq = IvfPqIndex.build(docs, ncentroids=NCENT, nsubvector=8, seed=42)
    got = pq.knn_join_distributed(
        queries, k=10, metric="L2", nprobe=NCENT, recall_num=n, has_rank=True
    )
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    assert g == exact
    ap = pq.knn_join_distributed(queries, k=10, metric="L2", nprobe=8, recall_num=64)
    rec = recall_at_k(ap.collect(), exact)
    assert rec >= 0.6, rec


def test_probe_clusters_chunked_matches_unchunked(docs, ivf, monkeypatch):
    """Chunking the (Q x ncentroids) probe matrix (VERDICT r2 #9) must
    not change which clusters are probed."""
    import numpy as np

    rng = np.random.default_rng(3)
    qmat = rng.normal(size=(37, ivf.centroids.shape[1]))
    full = ivf.probe_clusters(qmat, nprobe=3)
    from gamma_spark.operators.ivfsearch import IvfBase

    monkeypatch.setattr(IvfBase, "PROBE_CHUNK_CELLS", ivf.centroids.shape[0] * 5)
    chunked = ivf.probe_clusters(qmat, nprobe=3)
    assert (full == chunked).all()
    # full-probe (== ncentroids) path unchanged too
    monkeypatch.setattr(IvfBase, "PROBE_CHUNK_CELLS", ivf.centroids.shape[0] * 2)
    assert (
        ivf.probe_clusters(qmat, nprobe=len(ivf.centroids))
        == np.argsort(
            ((qmat * qmat).sum(1)[:, None]
             - 2.0 * qmat @ ivf.centroids.T
             + (ivf.centroids * ivf.centroids).sum(1)[None, :]),
            axis=1, kind="stable",
        )
    ).all()


def test_tune_nprobe_finds_minimal_full_recall_rung(spark, embeddings):
    """Autotune contract: the returned rung clears the target on the
    sample, no smaller ladder rung does, and the ladder clamps at
    ncentroids (where IVFFLAT degenerates to exact, so recall 1.0 is
    always reachable)."""
    from gamma_spark.operators.ann import tune_nprobe
    from gamma_spark.operators.ivf import IvfFlatIndex

    docs = embeddings.withColumnRenamed("vec_id", "_docid")
    idx = IvfFlatIndex.build(docs, ncentroids=8, seed=42)
    queries = docs.limit(16).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    nprobe, recall = tune_nprobe(
        idx, docs, queries, k=5, metric="L2", target_recall=1.0,
        ladder=(1, 2, 4, 8, 16), max_queries=16,
    )
    assert recall == 1.0
    assert 1 <= nprobe <= 8  # clamped at ncentroids
    if nprobe > 1:
        # minimality: the next rung down must miss the target
        _, r_prev = tune_nprobe(
            idx, docs, queries, k=5, metric="L2", target_recall=1.0,
            ladder=(nprobe // 2,), max_queries=16,
        )
        assert r_prev < 1.0


def test_tune_recall_num_restores_pq_recall(spark, embeddings):
    """recall_num ladder: at full probes, a large-enough shortlist plus
    exact rerank must reach recall 1.0, and the tuner returns the
    smallest ladder rung that does on the sample."""
    from gamma_spark.operators.ann import tune_recall_num
    from gamma_spark.operators.pq import IvfPqIndex

    docs = embeddings.withColumnRenamed("vec_id", "_docid")
    n = docs.count()
    pq = IvfPqIndex.build(docs, ncentroids=8, nsubvector=8, seed=42)
    queries = docs.limit(16).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    rn, recall = tune_recall_num(
        pq, docs, queries, k=5, metric="L2", nprobe=8,
        target_recall=1.0, ladder=(8, n), max_queries=16,
    )
    assert recall == 1.0
    assert rn in (8, n)


def test_scan_strategy_rejects_non_float_metric(docs, queries, ivf):
    """r9 guard: an explicit strategy='scan' with a metric the BLAS
    kernel can't score (HAMMING scores packed signatures, not float
    probes) must fail fast on the driver, not crash or mis-score in
    the executor; 'auto' keeps routing non-float metrics to 'join'."""
    with pytest.raises(ValueError, match="strategy='scan'"):
        ivf.search(docs, queries, k=5, metric="HAMMING", strategy="scan")


def test_binaryivf_score_band(docs, queries):
    """r9 review fix: BinaryIvfIndex.search swallowed min/max_score in
    **kw — a Hamming score band (F8) was silently ignored."""
    idx = BinaryIvfIndex.build(docs, ncentroids=NCENT, seed=42)
    lo, hi = 1.0, 20.0
    res = idx.search(
        None, queries, k=10, nprobe=NCENT, min_score=lo, max_score=hi
    ).collect()
    assert res, "band should admit some hits"
    assert all(lo <= r.score <= hi for r in res)
    # band excludes the distance-0 self hit every unbanded search has
    assert all(r.score != 0 for r in res)


def test_tune_nprobe_custom_query_id(spark, embeddings):
    """r9 review fix: tune_nprobe's query_id parameter is forwarded to
    both the exact kernel and the per-rung searches."""
    from gamma_spark.operators.ann import tune_nprobe
    from gamma_spark.operators.ivf import IvfFlatIndex

    docs = embeddings.withColumnRenamed("vec_id", "_docid")
    idx = IvfFlatIndex.build(docs, ncentroids=8, seed=1)
    rows = docs.orderBy("_docid").limit(6).collect()
    queries = spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "uid long, qvec array<float>",
    )
    nprobe, recall = tune_nprobe(
        idx, docs, queries, k=5, metric="L2", target_recall=1.0,
        ladder=(2, 8), max_queries=6, query_id="uid",
    )
    assert nprobe in (2, 8) and recall == 1.0


def test_make_exec_probe_clamps_nprobe():
    """ADVICE r9: the shared executor probe kernel owns the
    nprobe <= ncentroids invariant — an over-asking caller gets a
    full probe, not a pandas length mismatch deep in the executor."""
    import numpy as np
    import pandas as pd

    from gamma_spark.operators.ivfsearch import make_exec_probe

    cents = np.arange(8, dtype=np.float64).reshape(4, 2)
    probe = make_exec_probe(cents, nprobe=99, salts=2)
    pdf = pd.DataFrame({
        "qid": [0, 1, 2],
        "_qvec": [np.zeros(2), np.ones(2), np.full(2, 3.0)],
    })
    out = pd.concat(list(probe(iter([pdf]))), ignore_index=True)
    # full probe: every query fans to all 4 clusters x 2 salts
    assert len(out) == 3 * 4 * 2
    per_q = out.groupby("qid")["cluster_id"].apply(lambda s: sorted(set(s)))
    assert all(list(v) == [0, 1, 2, 3] for v in per_q)
    assert sorted(set(out["_salt"])) == [0, 1]
