"""IVFSQ8 scalar-quantized tier (operators/sq.py): codec bounds,
recall vs the exact kernel, persistence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gamma_spark.operators import knn
from gamma_spark.operators.sq import IvfSq8Index, Sq8Scorer

NCENT = 8


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


def test_sq8_roundtrip_error_bounded(spark, docs):
    """Dequantized vectors deviate from the originals by at most half a
    quantization step per dimension."""
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    decoded = Sq8Scorer(idx, "L2").decode_rel(idx.codes_df)
    dec = {r._docid: np.array(r.embedding) for r in decoded.collect()}
    orig = {r._docid: np.array(r.embedding) for r in docs.collect()}
    step = (idx.maxs - idx.mins) / 255.0
    for d, v in orig.items():
        assert np.all(np.abs(dec[d] - v) <= step / 2 + 1e-6)


def test_sq8_full_probe_recall_near_exact(spark, docs, queries):
    """At nprobe == ncentroids the only error is quantization: recall@10
    vs the exact float kernel must be high (8 bits/dim is ~1e-2 step on
    unit-scale data)."""
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    got = idx.search(None, queries, k=10, metric="L2", nprobe=NCENT)
    want = knn.knn_join(docs, queries, k=10, metric="L2")
    g = {(r.qid, r._docid) for r in got.collect()}
    w = {(r.qid, r._docid) for r in want.collect()}
    assert len(g & w) / len(w) >= 0.9


def test_sq8_dump_load_roundtrip(tmp_path, spark, docs, queries):
    path = str(tmp_path / "sq8")
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42, path=path)
    a = {(r.qid, r.rank): r._docid for r in
         idx.search(None, queries, k=5, metric="IP", nprobe=NCENT).collect()}
    idx2 = IvfSq8Index.load(spark, path)
    b = {(r.qid, r.rank): r._docid for r in
         idx2.search(None, queries, k=5, metric="IP", nprobe=NCENT).collect()}
    assert a == b
    # the stored codes really are 1 byte/dim
    row = spark.read.parquet(f"{path}/codes").limit(1).collect()[0]
    assert len(row["_sq8"]) == len(idx.mins)


def test_sq8_pruned_search_with_predicate(spark, docs, queries):
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    got = idx.search(
        None, queries, k=5, metric="L2", nprobe=2,
        predicate=F.col("label") == 1,
    )
    labels = {r._docid for r in docs.filter(F.col("label") == 1).collect()}
    for r in got.collect():
        assert r._docid in labels


def test_sq8_rerank_exact_degenerate(spark, docs, queries):
    """Full probes + recall_num = N + exact rerank must equal the exact
    float kernel bit-for-bit (R6 for the compressed tier — candidates
    come from dequantized scores, the rerank recomputes the truth)."""
    n = docs.count()
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    got = idx.search(
        docs, queries, k=10, metric="L2", nprobe=NCENT,
        recall_num=n, has_rank=True,
    )
    want = knn.knn_join(docs, queries, k=10, metric="L2")
    g = {(r.qid, r.rank): (r._docid, round(r.score, 9)) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, round(r.score, 9)) for r in want.collect()}
    assert g == w


def test_sq8_scan_rerank_exact_degenerate(spark, docs, queries):
    """The request scan strategy (the Sq8Scorer kernel, not the small-
    batch Catalyst join) with full probes + recall_num = N + exact
    rerank equals the exact float kernel bit-for-bit."""
    n = docs.count()
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    got = idx.search(
        docs, queries, k=10, metric="L2", nprobe=NCENT,
        recall_num=n, has_rank=True, strategy="scan",
    )
    want = knn.knn_join(docs, queries, k=10, metric="L2")
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert g == w


def test_sq8_via_table_build_index(spark, docs, queries):
    """The CreateTable retrieval_type surface must reach the new model."""
    from gamma_spark.table import GammaTable

    table = GammaTable(spark, docs.withColumnRenamed("_docid", "doc_id"), id_col="doc_id")
    idx = table.build_index("IVFSQ8", ncentroids=NCENT, seed=42)
    got = idx.search(None, queries, k=5, metric="L2", nprobe=NCENT)
    assert got.count() == queries.count() * 5


def test_sq8_distributed_join_exact_degenerate(spark, docs):
    """Corpus x corpus join on the compressed tier: full probes +
    recall_num = N + raw rescore equals the exact all-pairs kernel
    bit-for-bit (every embedding queries the corpus)."""
    n = docs.count()
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    q = docs.select(F.col("_docid").alias("qid"), F.col("embedding").alias("qvec"))
    got = idx.knn_join_distributed(
        q, k=5, metric="L2", nprobe=NCENT, rescore_docs=docs, recall_num=n
    )
    want = knn.knn_join(docs, q, k=5, metric="L2")
    g = {(r.qid, r.rank): (r._docid, round(r.score, 9)) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, round(r.score, 9)) for r in want.collect()}
    assert g == w


def test_sq8_codes_scan_partition_pruned(tmp_path, spark, docs, queries):
    """Low-nprobe search must push the probed-cluster filter into the
    parquet scan of the CODES table (PartitionFilters on cluster_id)
    BELOW the decode kernel — the decode only sees probed bytes."""
    path = str(tmp_path / "sq8p")
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42, path=path)
    plan = (
        idx.search(None, queries, k=5, metric="L2", nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cluster_id" in pf and pf.strip(), f"no pruning: {pf!r}"


def test_sq8_code_native_paths_match_decode_first(spark, docs):
    """The scan and cogroup kernels consume raw ``_sq8`` codes and
    dequantize at scoring (Sq8Scorer) — results must be bit-identical
    to the decode-first reference (an IvfFlatIndex built over the
    explicitly decoded relation), on both the >SCAN_STRATEGY_MIN_Q
    request path and the distributed join."""
    from gamma_spark.operators.ivf import IvfFlatIndex

    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    ref = IvfFlatIndex(
        idx.centroids, Sq8Scorer(idx, "L2").decode_rel(idx.codes_df)
    )

    # request path: 32 queries > SCAN_STRATEGY_MIN_Q forces the scan
    # kernel (the code-native branch)
    rows = docs.orderBy("_docid").limit(32).collect()
    big_q = spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )
    for metric in ("L2", "IP"):
        got = {
            (r.qid, r.rank): (r._docid, r.score)
            for r in idx.search(
                None, big_q, k=5, metric=metric, nprobe=NCENT
            ).collect()
        }
        want = {
            (r.qid, r.rank): (r._docid, r.score)
            for r in ref.search(
                None, big_q, k=5, metric=metric, nprobe=NCENT,
                doc_vec=idx.doc_vec,
            ).collect()
        }
        assert got == want, f"scan path diverged for {metric}"

    # distributed join: codes cross the cogroup shuffle, kernel decodes
    q = docs.select(F.col("_docid").alias("qid"), F.col("embedding").alias("qvec"))
    got = {
        (r.qid, r.rank): (r._docid, r.score)
        for r in idx.knn_join_distributed(
            q, k=5, metric="L2", nprobe=NCENT
        ).collect()
    }
    want = {
        (r.qid, r.rank): (r._docid, r.score)
        for r in ref.knn_join_distributed(
            q, k=5, metric="L2", nprobe=NCENT, doc_vec=idx.doc_vec
        ).collect()
    }
    assert got == want
    # and the shuffled doc side really is the 1-byte codes: the decode
    # MapInPandas is gone from the plan (only the probe + cogroup
    # kernels remain as Python nodes)
    plan = (
        idx.knn_join_distributed(q, k=5, metric="L2", nprobe=NCENT)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_sq8" in plan


def test_sq8_fused_bounds_match_agg_pass(spark, docs):
    """r11: when the centroid-training sample provably covers the whole
    relation, build derives the SQ bounds from it instead of a second
    full aggregation pass — the bounds must be bit-identical to the agg
    path, and a sample smaller than the relation must keep the agg
    path."""
    idx = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42)
    dim = len(idx.mins)
    aggs = [
        F.min(F.element_at(F.col("embedding"), i + 1)).alias(f"mn{i}")
        for i in range(dim)
    ] + [
        F.max(F.element_at(F.col("embedding"), i + 1)).alias(f"mx{i}")
        for i in range(dim)
    ]
    row = docs.agg(*aggs).collect()[0]
    mins = np.array([row[f"mn{i}"] for i in range(dim)], dtype=np.float64)
    maxs = np.array([row[f"mx{i}"] for i in range(dim)], dtype=np.float64)
    assert np.array_equal(idx.mins, mins)
    assert np.array_equal(idx.maxs, maxs)
    # forced-incomplete sample (sample_size < N): the agg path runs and
    # still produces the full-table bounds
    small = IvfSq8Index.build(docs, ncentroids=NCENT, seed=42, sample_size=16)
    assert np.array_equal(small.mins, mins)
    assert np.array_equal(small.maxs, maxs)
