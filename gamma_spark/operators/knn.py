"""Exact (FLAT) filtered k-nearest-neighbor — the engine's ground truth.

Reference parity: gamma's FLAT model (`index/impl/gamma_index_flat.cc:
118-313`) is a brute-force heap scan over raw vectors with the filter
bitmap and score band checked per candidate *inside* the scan
(`gamma_index_flat.cc:188-225`). Two invariants carry over:

1. **Pre-filter, never post-filter** (SURVEY O1): predicates are applied
   to the docs relation *before* top-k selection — top-k of the filtered
   set, not filter of the top-k.
2. **Score band** (F8, `common/gamma_common_data.h:95-97`): hits outside
   [min_score, max_score] are dropped before the heap.

Two physical strategies, same logical result:

- :func:`knn_join` — pure Catalyst: broadcast the (small) queries
  relation, cross-join, score with JVM expressions, window top-k.
  Whole-stage codegen end to end; bit-reproducible vs the DuckDB
  oracle. Shuffles |docs| x |queries| rows into the top-k window, so
  it is the *correctness* path.
- :func:`knn_scan` — the *scale* path: one ``mapInPandas`` pass over
  the docs relation with the queries broadcast as a numpy matrix;
  each input partition computes a BLAS matmul per Arrow batch and
  keeps a running per-query top-k heap, emitting only
  ``k * n_queries`` rows per partition. The follow-up global top-k
  then sees ``k * n_queries * n_partitions`` rows — independent of
  |docs|. This is how a 1000-executor scan of 100 TB stays
  shuffle-light.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gamma_spark.functions import vector as V
from gamma_spark.functions.vector import stack_vectors
from gamma_spark.operators.topk import merge_running_topk, topk

RESULT_COLS = ("qid", "_docid", "score", "rank")

#: above this query count the scan kernel beats the expression join
#: (measured: 2048 queries x 200k docs, join 131 s vs scan 4 s; even at
#: 64 queries x 1M docs join loses 26 s vs ~6 s). The join path's value
#: is bit-reproducibility vs the SQL oracle, needed only for small
#: correctness batches. Shared by the planner's brute path and the IVF
#: request path's 'auto' strategy.
SCAN_STRATEGY_MIN_Q = 16


def _apply_prefilter(docs: DataFrame, predicate: Column | None) -> DataFrame:
    if predicate is not None:
        docs = docs.filter(predicate)
    if "_deleted" in docs.columns:  # F7: deleted-doc mask inside every scan
        docs = docs.filter(~F.col("_deleted"))
    return docs


def knn_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "IP",
    doc_vec: str = "embedding",
    doc_id: str = "_docid",
    query_vec: str = "qvec",
    query_id: str = "qid",
    predicate: Column | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    l2_sqrt: bool = False,
) -> DataFrame:
    """Exact filtered kNN via broadcast cross join + window top-k.

    Returns (qid, _docid, score, rank) with rank 1..k per qid, ordered by
    metric direction (IP desc / L2 asc, `vector/vector_manager.cc:15-21`).
    """
    asc = V.metric_ascending(metric)
    filtered = _apply_prefilter(docs, predicate)
    scored = (
        filtered.crossJoin(F.broadcast(queries.select(query_id, query_vec)))
        .select(
            F.col(query_id).alias("qid"),
            F.col(doc_id).alias("_docid"),
            V.score(metric, doc_vec, query_vec, l2_sqrt=l2_sqrt).alias("score"),
        )
    )
    scored = _score_band(scored, min_score, max_score)
    return topk(scored, ["qid"], "score", k, ascending=asc, tiebreak_cols=["_docid"])


def _score_band(scored: DataFrame, min_score, max_score) -> DataFrame:
    if min_score is not None:
        scored = scored.filter(F.col("score") >= min_score)
    if max_score is not None:
        scored = scored.filter(F.col("score") <= max_score)
    return scored


def knn_scan(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "IP",
    doc_vec: str = "embedding",
    doc_id: str = "_docid",
    query_vec: str = "qvec",
    query_id: str = "qid",
    predicate: Column | None = None,
    min_score: float | None = None,
    max_score: float | None = None,
    l2_sqrt: bool = False,
) -> DataFrame:
    """Exact filtered kNN via a single vectorized scan with partition-local
    heaps (the 100 TB path — see module docstring).

    The queries relation must be driver-collectable (it is the broadcast
    side by definition: gamma caps req_num per Request the same way).
    """
    asc = V.metric_ascending(metric)
    qrows = queries.select(query_id, query_vec).collect()
    if not qrows:
        # mirror knn_join: an empty query relation yields an empty
        # result (the ndim check below would otherwise misreport it as
        # ragged vectors)
        empty = docs.sparkSession.createDataFrame(
            [], "qid long, _docid long, score double"
        )
        return topk(empty, ["qid"], "score", k, ascending=asc,
                    tiebreak_cols=["_docid"])
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)  # (Q, d)
    if qmat.ndim != 2:
        raise ValueError("query vectors must be fixed-dimension arrays")
    metric_u = metric.upper()
    if metric_u == "COSINE":
        # loop-invariant: hoisted out of the per-Arrow-batch kernel
        # (as FlatScorer.queries does, ivfsearch.py) — same values, same
        # arithmetic
        qmat_n = qmat / np.maximum(
            np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30
        )
    else:
        qmat_n = qmat

    from gamma_spark.session import ensure_parallelism

    filtered = ensure_parallelism(
        _apply_prefilter(docs, predicate).select(
            F.col(doc_id).alias("_docid"), F.col(doc_vec).alias("_vec")
        )
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition running top-k per query (gamma's per-chunk heaps)
        best_scores = np.full((len(qids), k), np.inf if asc else -np.inf)
        best_ids = np.full((len(qids), k), -1, dtype=np.int64)
        n_seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            n_seen += len(pdf)
            dmat = stack_vectors(
                pdf["_vec"].to_numpy(), "knn scan kernel (docs)"
            ).astype(np.float64)  # (B, d)
            ids = pdf["_docid"].to_numpy(dtype=np.int64)
            if metric_u == "IP":
                s = dmat @ qmat.T  # (B, Q)
            elif metric_u == "COSINE":
                dn = dmat / np.maximum(np.linalg.norm(dmat, axis=1, keepdims=True), 1e-30)
                s = dn @ qmat_n.T
            elif metric_u == "L2":
                # in-place accumulation: the naive 3-allocation form
                # serializes on mmap/page-zeroing under full worker
                # concurrency (the hnsw.scan lesson, SCALING.md r7);
                # (-2g + dsq) + qsq is bit-identical to (dsq - 2g) + qsq
                s = dmat @ qmat.T
                s *= -2.0
                s += (dmat * dmat).sum(axis=1)[:, None]
                s += (qmat * qmat).sum(axis=1)[None, :]
                np.maximum(s, 0.0, out=s)
                if l2_sqrt:
                    np.sqrt(s, out=s)
            else:
                raise ValueError(f"knn_scan: unsupported metric {metric_u}")
            if min_score is not None:
                s = np.where(s >= min_score, s, np.inf if asc else -np.inf)
            if max_score is not None:
                s = np.where(s <= max_score, s, np.inf if asc else -np.inf)
            # merge batch into the running top-k — ONE shared kernel
            # (operators/topk.merge_running_topk) holds the dual-pivot
            # tie detection + smallest-docid lexsort repair for the
            # knn/ivf/pq scan merges (r9 consolidation)
            best_scores, best_ids = merge_running_topk(
                best_scores,
                best_ids,
                s.T,
                np.broadcast_to(ids, (len(qids), len(ids))),
                k,
                asc,
            )
        if n_seen == 0:
            return
        valid = (best_ids.ravel() >= 0) & np.isfinite(best_scores.ravel())
        out = pd.DataFrame(
            {
                "qid": np.repeat(qids, k)[valid],
                "_docid": best_ids.ravel()[valid],
                "score": best_scores.ravel()[valid],
            }
        )
        yield out

    partials = filtered.mapInPandas(
        scan, schema="qid long, _docid long, score double"
    )
    return topk(partials, ["qid"], "score", k, ascending=asc, tiebreak_cols=["_docid"])
