"""One IVF search skeleton with pluggable per-cluster scorers
(SURVEY K2-K6, R6).

gamma serves IVFFLAT, IVFPQ, IVFPQFastScan and BinaryIVF through one
faiss IVF loop: probe the coarse quantizer, scan the preassigned
inverted lists with a per-codec scanner, keep ``recall_num`` candidates
and optionally rerank them exactly (`index/impl/gamma_index_ivfpq.cc:
514-567,642-697,701`; the scanner is `gamma_index_ivfpq.h:542-627`).
:class:`IvfBase` is that loop, with two physical paths:

- **request path** (:meth:`IvfBase._search_request`): the bounded query
  batch is collected once and probed on the driver, the probed
  ``cluster_id`` literals prune the cluster-partitioned index relation
  (Parquet partition pruning), the predicate and ``_deleted`` filters
  apply, and ONE ``mapInPandas`` scan keeps a running per-query top-k
  (:func:`~gamma_spark.operators.topk.merge_running_topk`). Small float
  batches may take the Catalyst ``join`` strategy instead — expression
  scoring plus a window top-k, bit-reproducible vs the SQL oracle.
- **distributed path** (:meth:`IvfBase._join_distributed`): the queries
  relation is never collected. An executor-side probe fans each query
  out to its nprobe clusters x salts, ONE cogroup on
  ``(cluster_id, _salt)`` scores each inverted list against the queries
  that probed it and keeps a tie-aware per-cluster top-k
  (:func:`~gamma_spark.operators.topk.select_topk_columns`).

Both paths end the same way: the top-k (or top-``pool`` candidates),
optionally :func:`exact_rerank` with the score band on exact scores,
then the top-k again.

A *scorer* is the per-codec scanner. Given the queries that probed a
cluster and that cluster's encoded docs, it returns the (queries x docs)
score matrix:

- :class:`FlatScorer` (IVFFLAT): BLAS IP / L2 / COSINE over raw floats;
- ``Sq8Scorer`` (IVFSQ8, :mod:`~gamma_spark.operators.sq`): dequantize,
  then score as FLAT;
- ``PqScorer`` (IVFPQ and VEARCH, :mod:`~gamma_spark.operators.pq`):
  residual ADC table lookups, with a bounded per-task LUT cache;
- :class:`HammingScorer` (BINARYIVF): XOR + popcount over packed bits.

Each scorer keeps its codec's floating-point operation order exactly:
a last-ulp change moves band edges and ties in the oracle rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gamma_spark.functions import vector as V
from gamma_spark.functions.vector import stack_vectors
from gamma_spark.operators.knn import SCAN_STRATEGY_MIN_Q, _apply_prefilter
from gamma_spark.operators.topk import (
    merge_running_topk,
    select_topk_columns,
    topk,
)

FLOAT_METRICS = ("IP", "L2", "COSINE")

#: byte-wise popcount LUT (numpy < 2.0 has no bitwise_count); an int64
#: xor matrix viewed as uint8 popcounts in one gather + sum
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _popcount64_matrix(x: np.ndarray) -> np.ndarray:
    """Popcount of each element of an int64 matrix, as float64."""
    b = np.ascontiguousarray(x).view(np.uint8)
    return (
        _POP8[b].reshape(*x.shape, 8).sum(axis=-1, dtype=np.int64).astype(np.float64)
    )


def _presented_to_kernel_band(
    min_score: float | None, max_score: float | None, squared: bool
) -> tuple[float | None, float | None]:
    """Map an F8 score band from the *presented* score scale to the
    kernel's internal scale. ``squared=True`` when the kernel holds
    pre-sqrt L2 while the band (like the final score) is on the sqrt
    scale — sqrt is monotone on [0, inf) so the band maps to its
    squares; a negative max on the sqrt scale matches nothing."""
    if not squared:
        return min_score, max_score
    if max_score is not None and max_score < 0:
        return float("inf"), float("-inf")  # empty band
    lo = None if min_score is None else max(min_score, 0.0) ** 2
    hi = None if max_score is None else float(max_score) ** 2
    return lo, hi


def make_exec_probe(
    cents: np.ndarray,
    nprobe: int,
    salts: int,
    probe_col: str = "_qvec",
    exec_chunk_cells: int = 8_000_000,
):
    """mapInPandas generator fanning each query row out to its nprobe
    nearest clusters x salts shards — the executor-side coarse probe of
    the distributed path.

    The per-worker probe matrix is bounded: 8M float64 cells = 64 MB —
    smaller than the driver's PROBE_CHUNK_CELLS because all workers
    allocate concurrently; at
    131k centroids an unchunked 10k-row Arrow batch would transiently
    hold ~10 GB per worker. A probe_col other than '_qvec' (the
    BINARYIVF float probe) is dropped from the output before the
    shuffle."""
    # the full-probe branch below emits len(cents) cluster ids per row,
    # so fan must never exceed that — the invariant lives with the
    # kernel, not in each caller (an unclamped nprobe would surface as
    # a pandas length mismatch deep in the executor)
    nprobe = min(int(nprobe), len(cents))
    cnorm = (cents * cents).sum(axis=1)

    def probe(batches):
        buf = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = stack_vectors(
                pdf[probe_col].to_numpy(), "coarse probe (queries)"
            ).astype(np.float64)
            if nprobe < len(cents):
                rows = max(1, exec_chunk_cells // max(1, len(cents)))
                parts = []
                for lo in range(0, len(mat), rows):
                    mb = mat[lo : lo + rows]
                    if buf is None or buf.shape != (len(mb), len(cents)):
                        buf = np.empty((len(mb), len(cents)))
                    np.matmul(mb, cents.T, out=buf)
                    buf *= -2.0
                    buf += cnorm[None, :]
                    parts.append(
                        np.argpartition(buf, nprobe - 1, axis=1)[:, :nprobe]
                    )
                part = np.concatenate(parts, axis=0)
            else:
                part = np.broadcast_to(
                    np.arange(len(cents)), (len(mat), len(cents))
                )
            fan = nprobe * salts
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), fan)].copy()
            out["cluster_id"] = (
                np.repeat(part, salts, axis=1).ravel().astype(np.int32)
            )
            out["_salt"] = np.tile(
                np.arange(salts, dtype=np.int32), len(pdf) * nprobe
            )
            if probe_col != "_qvec":
                out = out.drop(columns=[probe_col])
            yield out

    return probe


def centroid_hierarchy(
    cents: np.ndarray, nsuper: int | None = None, seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """Two-level coarse quantizer: ``nsuper`` (default sqrt(ncentroids))
    super-centroids and each centroid's super id (see
    :meth:`IvfBase._hier_probe`)."""
    from gamma_spark.operators.ivf import kmeans_lloyd_np

    nsuper = nsuper or max(1, int(np.sqrt(len(cents))))
    sup = kmeans_lloyd_np(cents.astype(np.float64), nsuper, seed)
    d = -2.0 * (cents @ sup.T) + (sup * sup).sum(axis=1)[None, :]
    return sup, d.argmin(axis=1).astype(np.int32)


# -- scorers -----------------------------------------------------------------


class Scorer:
    """Per-cluster scoring protocol. ``col`` is the encoded doc column
    shipped to the kernels; ``join_col`` the float/signature column the
    Catalyst join strategy scores (None: scan only). Scorers are pickled
    into the kernels, so they hold numpy state only — never a
    DataFrame."""

    metric: str
    col: str
    join_col: str | None = None
    sqrt = False  # L2 presented on the sqrt scale by the kernel
    noise_scale = None  # float-noise scale for the guard band, if any

    def queries(self, values) -> np.ndarray:
        """Kernel form of a batch of query vectors."""
        raise NotImplementedError

    def docs(self, values, c: int):
        """Kernel form of one cluster's encoded docs."""
        raise NotImplementedError

    def score(self, q: np.ndarray, d, c: int) -> np.ndarray:
        """(len(q), n_docs) scores of cluster ``c``'s docs ``d``."""
        raise NotImplementedError

    def request_kernel(self, q: np.ndarray):
        """Per-task scoring closure of the request scan:
        ``(c, qsel, d) -> scores`` for the queries ``q[qsel]`` that
        probed cluster ``c``."""
        return lambda c, qsel, d: self.score(q[qsel], d, c)

    def decode_rel(self, rel: DataFrame) -> DataFrame:
        """The relation the join strategy scores ``join_col`` on."""
        return rel

    def layout(self, rel: DataFrame, pmask: np.ndarray) -> DataFrame:
        """Driver-side re-layout of the pruned relation before the
        request scan (``pmask``: queries x clusters probe mask)."""
        return rel


class FlatScorer(Scorer):
    """IVFFLAT: BLAS over the raw float column ``col``. The L2 form is
    ``(q·q) − 2·q@dᵀ + d·d`` clamped at 0 — deliberately NOT
    ``knn_scan``'s ``(−2g + d·d) + q·q``: the two differ in the last
    ulp."""

    def __init__(self, metric: str, col: str, sqrt: bool = False):
        self.metric = metric.upper()
        self.col = self.join_col = col
        self.sqrt = sqrt

    def queries(self, values) -> np.ndarray:
        q = stack_vectors(values, "IVF scan (queries)").astype(np.float64)
        if self.metric == "COSINE":
            q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
        return q

    def decode(self, values) -> np.ndarray:
        return stack_vectors(values, "IVF scan (docs)").astype(np.float64)

    def docs(self, values, c: int):
        mat = self.decode(values)
        if self.metric == "COSINE":
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-30
            )
        return mat, (mat * mat).sum(axis=1)

    def score(self, q, d, c):
        mat, dnorm = d
        if self.metric != "L2":
            return q @ mat.T
        s = (q * q).sum(axis=1)[:, None] - 2.0 * (q @ mat.T) + dnorm[None, :]
        np.maximum(s, 0.0, out=s)
        if self.sqrt:
            np.sqrt(s, out=s)
        return s

    def noise_scale(self, q, d) -> float:
        """Score magnitude scale; 1e-9 of it sits orders above float64
        matmul noise (~1e-13 rel) and orders below any real spread."""
        qn = float((q * q).sum(axis=1).max())
        dn = float(d[1].max())
        if self.metric == "L2":
            return qn + dn
        return float(np.sqrt(max(qn, 1e-30) * max(dn, 1e-30)))


class HammingScorer(Scorer):
    """BINARYIVF: XOR + byte-LUT popcount over packed int64 sign bits."""

    metric = "HAMMING"

    def __init__(self, col: str):
        self.col = self.join_col = col

    def queries(self, values) -> np.ndarray:
        return np.asarray(values, dtype=np.int64)

    def docs(self, values, c: int):
        return np.asarray(values, dtype=np.int64)

    def score(self, q, d, c):
        return _popcount64_matrix(q[:, None] ^ d[None, :])


class _CentroidScorer(FlatScorer):
    """Coarse-probe distances to a relation of centroids: −2·q·c + |c|².
    The per-query |q|² term is dropped — rankings stay comparable ACROSS
    supers, since the expression doesn't depend on super membership."""

    def __init__(self):
        super().__init__("L2", "_cvec")

    def score(self, q, d, c):
        mat, cnorm = d
        return -2.0 * (q @ mat.T) + cnorm[None, :]


def scorer_for(metric: str, col: str, sqrt: bool = False) -> Scorer:
    """The raw-column scorer for a metric (IVFFLAT and BINARYIVF)."""
    if metric.upper() == "HAMMING":
        return HammingScorer(col)
    return FlatScorer(metric, col, sqrt)


# -- shared tail ---------------------------------------------------------------


def exact_rerank(
    cand: DataFrame,
    docs: DataFrame,
    doc_vec: str,
    queries: DataFrame,
    metric: str,
    k: int,
    l2_sqrt: bool = False,
    min_score: float | None = None,
    max_score: float | None = None,
) -> DataFrame:
    """Two-phase rerank (R6, gamma's ``compute_dis``): exact in-order
    Catalyst scores — bit-identical to the SQL oracle — for the
    candidate ``(qid, _docid)`` pairs, joined to the raw vectors in
    ``docs`` and to ``queries`` (``qid``, ``_qvec``). The F8 band
    filters the EXACT scores before the final top-k (gamma bands IVFPQ
    in the rerank, `gamma_index_ivfpq.cc:668,689`). Pairs are unique
    already: every doc lives in exactly one cluster, so no dedup."""
    col = V.score(metric, "_dvec", "_qvec", l2_sqrt=l2_sqrt)
    if metric.upper() == "HAMMING":
        col = col.cast("double")  # match the kernel dtype
    rer = (
        cand.select("qid", "_docid")
        .join(docs.select("_docid", F.col(doc_vec).alias("_dvec")), on="_docid", how="inner")
        .join(queries, on="qid", how="inner")
        .select("qid", "_docid", col.alias("score"))
    )
    if min_score is not None:
        rer = rer.filter(F.col("score") >= min_score)
    if max_score is not None:
        rer = rer.filter(F.col("score") <= max_score)
    return topk(
        rer, ["qid"], "score", k, ascending=V.metric_ascending(metric),
        tiebreak_cols=["_docid"],
    )


def _finish(partials, metric, k, pool, rerank, queries, sqrt_out):
    """Top-``pool`` candidates (when set), then either the exact rerank
    (``rerank``: exact_rerank's docs/doc_vec/l2_sqrt/band arguments;
    ``queries``: thunk of the (qid, _qvec) relation) or the kernel
    scores (sqrt-presented when ``sqrt_out``) cut to the top-k."""
    asc = V.metric_ascending(metric)
    if pool is not None:
        partials = topk(
            partials, ["qid"], "score", pool, ascending=asc, rank_col=None,
            tiebreak_cols=["_docid"],
        )
    if rerank is not None:
        return exact_rerank(partials, queries=queries(), metric=metric, k=k, **rerank)
    if sqrt_out:
        # gamma applies sqrt at response packing regardless of rank
        # mode (`idl/fbs/request.fbs:39`); monotone, ranks unchanged
        partials = partials.withColumn("score", F.sqrt(F.col("score")))
    return topk(partials, ["qid"], "score", k, ascending=asc, tiebreak_cols=["_docid"])


class IvfBase:
    """Coarse quantizer plus the two search paths every IVF model
    shares. Subclasses set ``centroids`` and train/encode/choose a
    scorer; :meth:`_allowed` is the predicate/``_deleted`` filter
    policy (filtered in place by default)."""

    #: cap on the (chunk × ncentroids) distance matrix materialized per
    #: probe chunk: 32M float64 cells = 256 MB. At the reference's
    #: production shape (2048 centroids) that is ~16k queries per chunk;
    #: at 65k centroids ~512 queries per chunk. Centroids themselves are
    #: (ncentroids × d) driver-resident — ~32 MB at 65k×64, the ceiling
    #: documented in docs/SCALING.md; past that the hierarchical probe
    #: takes over (:meth:`_hier_probe`).
    PROBE_CHUNK_CELLS = 32_000_000
    #: bound on the (query-chunk x cluster) score matrix inside the
    #: cogroup kernels: 8M float64 cells = 64 MB per task
    COGROUP_CHUNK_CELLS = 8_000_000

    centroids: np.ndarray
    _hnsw_probe = None  # (centroid graph, ef_search) — enable_hnsw_probe()
    _hierarchy = None  # (super-centroids, child -> super) — _hier_probe()

    # -- coarse probe ------------------------------------------------------
    def probe_clusters(self, qmat: np.ndarray, nprobe: int) -> np.ndarray:
        """(Q, nprobe) nearest centroid ids per query — driver-side numpy
        over the query batch (gamma: quantizer->search,
        `gamma_index_ivfpq.cc:561`), chunked over queries so the
        distance matrix never exceeds PROBE_CHUNK_CELLS regardless of
        batch size × ncentroids.

        With an HNSW centroid graph (``enable_hnsw_probe``) and a
        genuinely pruning nprobe, the assignment goes through the graph
        instead (the degenerate nprobe == ncentroids case stays
        brute-force exact — that is the oracle configuration)."""
        cents = self.centroids
        hp = self._hnsw_probe
        if hp is not None and nprobe < len(cents):
            g, ef = hp
            pos, _ = g.search(qmat, k=nprobe, ef=max(ef, nprobe))
            # pad the (rare) under-filled rows with the brute answer —
            # via the brute helper directly, NOT by temporarily nulling
            # self._hnsw_probe: that mutation raced concurrent searches
            # on the same index (thread B would silently take the
            # brute O(Q*C) path, or see the field restored mid-flight)
            if (pos < 0).any():
                bad = np.flatnonzero((pos < 0).any(axis=1))
                pos[bad] = self._probe_brute(qmat[bad], nprobe)
            return pos
        return self._probe_brute(qmat, nprobe)

    def _probe_brute(self, qmat: np.ndarray, nprobe: int) -> np.ndarray:
        """Exact chunked centroid assignment (the non-graph probe)."""
        cents = self.centroids
        nprobe = min(nprobe, len(cents))
        chunk = max(1, self.PROBE_CHUNK_CELLS // max(1, len(cents)))
        cent_sq = (cents * cents).sum(axis=1)[None, :]
        out = np.empty((len(qmat), nprobe), dtype=np.int64)
        buf = None
        for lo in range(0, len(qmat), chunk):
            qc = qmat[lo : lo + chunk]
            # one reusable buffer + in-place accumulation (bit-identical
            # to the three-allocation expression)
            if buf is None or buf.shape != (len(qc), len(cents)):
                buf = np.empty((len(qc), len(cents)))
            np.matmul(qc, cents.T, out=buf)
            buf *= -2.0
            buf += (qc * qc).sum(axis=1)[:, None]
            buf += cent_sq
            d = buf
            if nprobe < len(cents):
                # argpartition bounds the sort to nprobe instead of
                # ncentroids·log(ncentroids) per query
                part = np.argpartition(d, nprobe - 1, axis=1)[:, :nprobe]
                order = np.argsort(
                    np.take_along_axis(d, part, axis=1), axis=1, kind="stable"
                )
                out[lo : lo + len(qc)] = np.take_along_axis(part, order, axis=1)
            else:
                out[lo : lo + len(qc)] = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return out

    def _hier_probe(
        self,
        probe_rel: DataFrame,
        join_rel: DataFrame,
        nprobe: int,
        wsuper: int,
        salts: int,
    ) -> DataFrame:
        """Relation-based multi-probe over the two-level quantizer
        (:func:`centroid_hierarchy`, built with defaults on first use).
        The probe is itself an IVF join: the centroids are the "docs",
        the super-centroids their "clusters" — probe ``wsuper`` supers
        per query (broadcast O(sqrt C)), score each super's children
        exactly in one cogroup, keep the global top-nprobe per query,
        then reattach the scoring columns from ``join_rel`` by qid.
        ``probe_rel`` is (qid, _pv float vector) — for BINARYIVF the
        probe vector differs from the scored signature, hence the
        split. Returns the same (qid, _qvec, cluster_id, _salt)
        relation the flat probe emits, so everything downstream is
        shared.

        The centroid relation is created from the trained numpy matrix
        here; a fully distributed build (MLlib at >LOCAL_TRAIN_MAX
        samples) would hand it over as a DataFrame directly — the probe
        itself never materializes all centroids in one place."""
        spark = probe_rel.sparkSession
        if self._hierarchy is None:
            self._hierarchy = centroid_hierarchy(self.centroids)
        sup, child_super = self._hierarchy
        cents = self.centroids
        crel = spark.createDataFrame(
            [
                (int(child_super[i]), i, [float(x) for x in cents[i]])
                for i in range(len(cents))
            ],
            "cluster_id int, _docid long, _cvec array<double>",
        )
        supers = IvfBase()
        supers.centroids = sup
        pairs = supers._join_distributed(
            crel, probe_rel, _CentroidScorer(), k=nprobe,
            nprobe=max(1, min(wsuper, len(sup))), query_vec="_pv",
        ).select("qid", F.col("_docid").cast("int").alias("cluster_id"))
        if salts > 1:
            srel = spark.range(salts).select(F.col("id").cast("int").alias("_salt"))
            pairs = pairs.crossJoin(F.broadcast(srel))
        else:
            pairs = pairs.withColumn("_salt", F.lit(0))
        return pairs.join(join_rel, on="qid", how="inner")

    def _allowed(
        self, rel: DataFrame, predicate: Column | None, docs: DataFrame | None
    ) -> DataFrame:
        """Predicate + ``_deleted`` pre-filter (SURVEY O1/F7) on the
        index relation, which carries the doc columns."""
        return _apply_prefilter(rel, predicate)

    # -- request path --------------------------------------------------------
    def _search_request(
        self,
        rel: DataFrame,
        queries: DataFrame,
        scorer: Scorer,
        k: int,
        nprobe: int,
        predicate: Column | None = None,
        docs: DataFrame | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        probe_vec: str | None = None,
        strategy: str = "auto",
        band: tuple = (None, None),
        pool: int | None = None,
        rerank: dict | None = None,
        sqrt_out: bool = False,
    ) -> DataFrame:
        """Request-path search over the cluster-partitioned ``rel``.

        ``strategy``: 'join' = Catalyst expression scoring + window
        top-k (bit-reproducible vs the SQL oracle — the correctness
        path; needs ``scorer.join_col``); 'scan' = the per-cluster
        scorer with partition-local running top-k (the throughput path
        for large query batches); 'auto' picks by query count and
        metric. ``probe_vec`` names the float query column used for
        centroid probing when ``query_vec`` itself isn't in centroid
        space (BINARYIVF scores packed signatures but probes floats).

        ``band`` is masked inside the scan / filtered in the join on the
        kernel's score scale; ``pool``, ``rerank`` and ``sqrt_out`` are
        the shared tail (:func:`_finish`)."""
        float_metric = scorer.metric in FLOAT_METRICS
        if strategy == "scan" and not float_metric:
            # an explicit 'scan' from user retrieval_params must fail
            # cleanly: the request scan scores the float probe matrix,
            # not packed signatures — it would crash (or silently
            # mis-score) deep in the executor
            raise ValueError(
                f"strategy='scan' supports IP/L2/COSINE, not "
                f"{scorer.metric}; use strategy='join' (the 'auto' "
                "default already routes non-float metrics there)"
            )
        if probe_vec is not None and float_metric:
            # the scan kernel scores the probe matrix — for a float
            # metric that silently scores the PROBE column instead of
            # the query vectors. Only the join path separates the two.
            if strategy == "scan":
                raise ValueError(
                    "strategy='scan' cannot combine probe_vec with a "
                    "float metric (the kernel would score the probe "
                    "column); use strategy='join'"
                )
            strategy = "join"
        cols = [query_id, query_vec] + ([probe_vec] if probe_vec else [])
        qrows = queries.select(*cols).collect()
        qmat = np.asarray([r[-1] for r in qrows], dtype=np.float64)
        probes = self.probe_clusters(qmat, nprobe)
        qids = [int(r[0]) for r in qrows]

        # literal isin over the union of probed clusters prunes parquet
        # partitions at scan time (partition pruning / pushed filter);
        # the per-query restriction happens in the pairs join / probe mask
        wanted = sorted({int(c) for row in probes for c in row})
        pruned = rel
        if len(wanted) < len(self.centroids):
            pruned = pruned.filter(F.col("cluster_id").isin(wanted))
        pruned = self._allowed(pruned, predicate, docs)
        spark = rel.sparkSession

        def qrel():
            # the collected batch as a broadcast (qid, _qvec) relation —
            # reuses the probe's rows instead of re-evaluating the queries
            types = [queries.schema[c].dataType.simpleString() for c in cols[:2]]
            schema = f"qid {types[0]}, _qvec {types[1]}"
            return F.broadcast(
                spark.createDataFrame([(r[0], r[1]) for r in qrows], schema=schema)
            )

        use_scan = strategy == "scan" or (
            strategy == "auto" and len(qids) > SCAN_STRATEGY_MIN_Q and float_metric
        )
        if scorer.join_col is not None and not use_scan:
            # (qid, cluster_id) probe pairs — broadcast side of the join
            pairs = spark.createDataFrame(
                [(q, int(c)) for q, row in zip(qids, probes) for c in row],
                "qid long, cluster_id int",
            )
            candidates = scorer.decode_rel(pruned).join(
                F.broadcast(pairs), on="cluster_id", how="inner"
            )
            partials = candidates.join(qrel(), on="qid", how="inner").select(
                "qid",
                "_docid",
                V.score(
                    scorer.metric, scorer.join_col, "_qvec", l2_sqrt=scorer.sqrt
                ).alias("score"),
            )
            kmin, kmax = band
            if kmin is not None:
                partials = partials.filter(F.col("score") >= kmin)
            if kmax is not None:
                partials = partials.filter(F.col("score") <= kmax)
        else:
            partials = self._scan(pruned, qids, qmat, probes, scorer, pool or k, band)
        return _finish(partials, scorer.metric, k, pool, rerank, qrel, sqrt_out)

    def _scan(self, pruned, qids, qmat, probes, scorer, width, band) -> DataFrame:
        """The request scan: each Arrow batch (usually a single inverted
        list, thanks to the cluster-partitioned layout) is scored per
        cluster against only the queries that probed it, feeding
        partition-local running top-``width`` heaps — ``width`` rows per
        (query, partition), independent of corpus size."""
        asc = V.metric_ascending(scorer.metric)
        worst = np.inf if asc else -np.inf
        kmin, kmax = band
        qarr = np.asarray(qids, dtype=np.int64)
        pmask = np.zeros((len(qids), len(self.centroids)), dtype=bool)
        for qi, row in enumerate(probes):
            pmask[qi, row] = True
        # an empty batch scores nothing (no probe-mask rows)
        q = scorer.queries(qmat) if len(qids) else qmat
        col = scorer.col

        def scan(batches):
            best_s = np.full((len(qarr), width), worst)
            best_i = np.full((len(qarr), width), -1, dtype=np.int64)
            score = scorer.request_kernel(q)
            seen = 0
            for pdf in batches:
                if pdf.empty:
                    continue
                seen += len(pdf)
                raw = pdf[col].to_numpy()
                ids = pdf["_docid"].to_numpy(dtype=np.int64)
                clus = pdf["cluster_id"].to_numpy(dtype=np.int64)
                for c in np.unique(clus):
                    qsel = np.flatnonzero(pmask[:, c])
                    if not len(qsel):
                        continue
                    dmask = clus == c
                    s = score(int(c), qsel, scorer.docs(raw[dmask], int(c)))
                    if kmin is not None:
                        s = np.where(s >= kmin, s, worst)
                    if kmax is not None:
                        s = np.where(s <= kmax, s, worst)
                    sub_ids = ids[dmask]
                    best_s[qsel], best_i[qsel] = merge_running_topk(
                        best_s[qsel],
                        best_i[qsel],
                        s,
                        np.broadcast_to(sub_ids, (len(qsel), len(sub_ids))),
                        width,
                        asc,
                    )
            if not seen:
                return
            valid = (best_i.ravel() >= 0) & np.isfinite(best_s.ravel())
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qarr, width)[valid],
                    "_docid": best_i.ravel()[valid],
                    "score": best_s.ravel()[valid],
                }
            )

        rel = scorer.layout(pruned.select("_docid", "cluster_id", col), pmask)
        return rel.mapInPandas(scan, schema="qid long, _docid long, score double")

    # -- distributed path ----------------------------------------------------
    def _join_distributed(
        self,
        rel: DataFrame,
        queries: DataFrame,
        scorer: Scorer,
        k: int,
        nprobe: int,
        predicate: Column | None = None,
        docs: DataFrame | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        probe_vec: str | None = None,
        salts: int = 1,
        band: tuple = (None, None),
        guard: bool = False,
        hierarchical: bool = False,
        super_probe: int = 4,
        pool: int | None = None,
        rerank: dict | None = None,
        sqrt_out: bool = False,
    ) -> DataFrame:
        """kNN join where the *queries side is a DataFrame of any size* —
        never collected to the driver (the corpus x corpus shape: kNN
        graph, semantic-dedup neighbor mining, global similarity join).

        Plan (all distributed):

        1. multi-probe map: :func:`make_exec_probe` explodes each query
           into its ``nprobe`` nearest (cluster_id, _salt) rows against
           the broadcast centroids — or :meth:`_hier_probe` with
           ``hierarchical``;
        2. ONE shuffle of each side on ``(cluster_id, _salt)`` into a
           cogrouped ``applyInPandas``: per cluster, the scorer scores
           the cluster's queries (chunked by COGROUP_CHUNK_CELLS)
           against its docs sorted by ``_docid``, and emits the top
           ``pool or k`` per (query, cluster) with ties to the smaller
           docid — the oracle's (score, _docid) order;
        3. the shared tail (:func:`_finish`).

        ``salts > 1`` splits each inverted list into deterministic doc
        shards (``pmod(xxhash64(_docid), salts)``) with the queries
        replicated per shard: a hot cluster costs salts x query-row
        duplication instead of one giant task, and per-shard top-k
        always contains the shard's members of the global top-k.

        ``band`` is gamma's F8 band *inside the scan before top-k*
        (`gamma_index_flat.cc:200-225`): banded-out docs never occupy
        per-cluster slots. ``guard`` (the band is only a pre-filter for
        an exact rerank): the kernel's BLAS arithmetic differs from the
        rerank expression's in the last ulps, so a doc whose exact
        score sits ON the band edge could be masked out here and never
        become a candidate (hypothesis-found: symmetric L2 pairs put
        the test midpoint exactly on a score). The guard widens the
        mask by a float-noise epsilon and expands the per-cluster
        budget by the docs in the uncertainty window at the
        better-scoring edge, so admitted epsilon-out docs never
        displace certain in-band docs."""
        from gamma_spark.session import ensure_parallelism, partition_for_kernel

        asc = V.metric_ascending(scorer.metric)
        worst = np.inf if asc else -np.inf
        nprobe = min(nprobe, len(self.centroids))
        salts = max(1, int(salts))
        qsel = queries.select(
            F.col(query_id).alias("qid"), F.col(query_vec).alias("_qvec")
        )
        if hierarchical:
            prel = queries.select(
                F.col(query_id).alias("qid"),
                F.col(probe_vec or query_vec).alias("_pv"),
            )
            qprobed = self._hier_probe(prel, qsel, nprobe, super_probe, salts)
        else:
            # BINARYIVF probes with the float vector but scores the
            # packed signature: carry both, the probe drops the float
            psel = qsel
            if probe_vec is not None:
                psel = queries.select(
                    F.col(query_id).alias("qid"),
                    F.col(query_vec).alias("_qvec"),
                    F.col(probe_vec).alias("_pv"),
                )
            # the probe fans each query row out nprobe*salts ways before
            # the cogroup shuffle: a query relation arriving in too few
            # partitions would serialize the fan-out compute and the
            # fanned shuffle write into one task (measured: 3.8 s of a
            # 5.5 s 10k-query graph join). Metadata-only, no-op at scale.
            psel = ensure_parallelism(psel, fanout=float(nprobe * salts))
            vec_type = qsel.schema["_qvec"].dataType.simpleString()
            qprobed = psel.mapInPandas(
                make_exec_probe(
                    self.centroids, nprobe, salts,
                    probe_col="_pv" if probe_vec is not None else "_qvec",
                ),
                schema=f"qid long, _qvec {vec_type}, cluster_id int, _salt int",
            )

        allowed = self._allowed(rel, predicate, docs)
        dsel = allowed.select(
            "cluster_id",
            "_docid",
            F.col(scorer.col).alias("_dvec"),
            (F.pmod(F.xxhash64(F.col("_docid")), F.lit(salts)).cast("int")).alias(
                "_salt"
            ),
        )
        kmin, kmax = band
        banded = kmin is not None or kmax is not None
        guard = guard and banded and scorer.noise_scale is not None
        width = pool or k
        chunk_cells = self.COGROUP_CHUNK_CELLS

        def per_cluster(key, qpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
            if qpdf.empty or dpdf.empty:
                return pd.DataFrame({"qid": [], "_docid": [], "score": []}).astype(
                    {"qid": "int64", "_docid": "int64", "score": "float64"}
                )
            c = int(key[0])
            # doc order by _docid: the selection's column-order tie
            # break then matches the oracle's (score, _docid) order
            order = np.argsort(dpdf["_docid"].to_numpy(), kind="stable")
            ids = dpdf["_docid"].to_numpy(dtype=np.int64)[order]
            d = scorer.docs(dpdf["_dvec"].to_numpy()[order], c)
            qall = scorer.queries(qpdf["_qvec"].to_numpy())
            qids_all = qpdf["qid"].to_numpy(dtype=np.int64)
            kk = min(width, len(ids))
            chunk = max(1, chunk_cells // max(1, len(ids)))
            outs = []
            for lo in range(0, len(qall), chunk):
                qc = qall[lo : lo + chunk]
                s = scorer.score(qc, d, c)
                eps = 0.0
                extra = 0
                if guard:
                    eps = 1e-9 * max(1.0, scorer.noise_scale(qc, d))
                    better_edge = kmin if asc else kmax
                    if better_edge is not None and np.isfinite(better_edge):
                        extra = int(
                            (np.abs(s - better_edge) <= eps).sum(axis=1).max()
                        )
                if kmin is not None:
                    s = np.where(s >= kmin - eps, s, worst)
                if kmax is not None:
                    s = np.where(s <= kmax + eps, s, worst)
                ke = min(kk + extra, len(ids))
                sel = select_topk_columns(s if asc else -s, ke)
                qrep = np.repeat(qids_all[lo : lo + chunk], ke)
                did = ids[sel.ravel()]
                scores = np.take_along_axis(s, sel, axis=1).ravel()
                if banded:
                    # banded-out slots carry the sentinel; drop them so
                    # they never reach the global top-k
                    ok = np.isfinite(scores)
                    qrep, did, scores = qrep[ok], did[ok], scores[ok]
                outs.append(
                    pd.DataFrame({"qid": qrep, "_docid": did, "score": scores})
                )
            return pd.concat(outs, ignore_index=True)

        # pin the kernel fan-out: AQE's byte-based partition coalescing
        # serializes the CPU-heavy kernel onto 1-2 cores when the
        # shuffle is only a few MB (session.partition_for_kernel)
        keys = ["cluster_id", "_salt"]
        ng = len(self.centroids) * salts
        partials = (
            partition_for_kernel(qprobed, keys, ng)
            .groupby(*keys)
            .cogroup(partition_for_kernel(dsel, keys, ng).groupby(*keys))
            .applyInPandas(per_cluster, schema="qid long, _docid long, score double")
        )
        if rerank is not None and rerank["docs"] is None:
            # every candidate passed the filters; the filtered index
            # relation is an equivalent vector source
            rerank = {**rerank, "docs": allowed}
        return _finish(
            partials, scorer.metric, k, pool, rerank, lambda: qsel, sqrt_out
        )
