"""IVFPQ — residual product quantization with two-phase exact rerank
(SURVEY K3, O6).

Reference behavior (`index/impl/gamma_index_ivfpq.cc`): coarse IVF
quantizer (ncentroids) + per-subspace codebooks (nsubvector x 2^nbits)
over the **residual** to the assigned coarse centroid (faiss IVFPQ
semantics), optional **OPQ** rotation before quantization; search scans
``nprobe`` lists computing approximate distances via per-(query, list)
ADC lookup tables, keeps ``recall_num`` candidates, then optionally
fetches raw vectors and reranks exactly (``has_rank``, `compute_dis`
:642-697) before emitting top-k. Defaults: ncentroids 2048, nsubvector
64, nbits 8, nprobe 80 (`gamma_index_ivfpq.h:676-707`).

Spark design:

- **Train**: coarse quantizer + per-subspace codebooks over a bounded
  sample (the reference trains on its ``indexing_size`` buffer the same
  way); OPQ is a deterministic PCA rotation of the residual space.
- **Encode**: one ``mapInPandas`` pass writes ``codes: array<int>``
  (m entries in [0, ksub)) + ``cluster_id``, persisted partitioned by
  ``cluster_id``. At 100 TB the codes table is ~m bytes/row — the whole
  point of PQ is that this scan is tiny next to raw vectors.
- **ADC search**: the shared IVF skeleton (:mod:`.ivfsearch`) with
  :class:`PqScorer`, which receives only the (small) centroid matrix,
  codebooks and rotation; it builds the per-(query, probed-list)
  residual LUTs on the executor — LUT memory never scales with
  |queries| x nprobe on the driver — and the skeleton keeps
  top-``recall_num`` candidates per query.
- **Rerank**: the skeleton's :func:`~.ivfsearch.exact_rerank` joins the
  candidates back to raw vectors for exact distances, then the final
  top-k (AQE broadcasts the k-scale candidate side).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from gamma_spark.functions.vector import stack_vectors

from gamma_spark.operators.ivf import (
    IvfFlatIndex,
    _collect_sample,
    _estimate_rows,
    _train_centroids,
    _write_index,
    assign_clusters,
    kmeans_lloyd_np,
)
from gamma_spark.operators.ivfsearch import (
    IvfBase,
    Scorer,
    _presented_to_kernel_band,
)
from gamma_spark.operators.knn import _apply_prefilter


def anisotropic_kmeans_np(
    data: np.ndarray, k: int, eta: float, seed: int, iters: int = 25
) -> np.ndarray:
    """Score-aware Lloyd iteration with the anisotropic quantization
    loss (the training objective of ScaNN — Guo et al., "Accelerating
    Large-Scale Inference with Anisotropic Vector Quantization", ICML
    2020 — which the reference vendors as its VEARCH model,
    `index/impl/scann/gamma_index_vearch.cc:19`):

        loss(x, c) = h_perp * ||r_perp||^2 + h_par * ||r_par||^2,

    r = x - c split against the direction of x. Quantization error
    *parallel* to the datapoint perturbs inner-product scores directly,
    orthogonal error mostly cancels in expectation — so h_par = eta >= 1
    (h_perp = 1) buys MIPS accuracy at equal code budget.

    Assignment is one vectorized pass (the parallel component against
    centroid j is ||x|| - u·c_j, one matmul). The centroid update is the
    paper's closed form per cluster: (n_c I + (eta-1) Σ u u^T) c =
    eta Σ x. With eta == 1 this degenerates EXACTLY to plain Lloyd
    (property-tested), which is our oracle configuration.

    The paper couples subspaces through the full-space direction and
    coordinate-descends across codebooks; we apply the loss per
    subspace with the subvector's own direction — the standard
    decoupled approximation, keeping codebooks independently
    trainable (and thread-parallel, like the plain path)."""
    if eta == 1.0:
        return kmeans_lloyd_np(data, k, seed, iters=iters)
    rng = np.random.default_rng(seed)
    k = min(k, len(data))
    n, dim = data.shape
    norms = np.linalg.norm(data, axis=1)
    nz = norms > 1e-30
    u = np.zeros_like(data)
    u[nz] = data[nz] / norms[nz, None]
    delta = float(eta) - 1.0
    cents = data[rng.choice(n, size=k, replace=False)].copy()
    prev_assign = None
    eye = np.eye(dim)
    # assignment is memory-bandwidth-bound at training shapes (32k x
    # 256 per subspace): ONE matmul (u @ c^T == (data @ c^T)/||x||, so
    # the parallel component reuses G) and two preallocated (n, k)
    # buffers mutated in place, instead of ~8 fresh temporaries per
    # iteration. The per-row ||x||^2 term is constant under argmin and
    # dropped. (r9 — this phase was the real cost of the SIFT-anchor
    # VEARCH build, not the centroid update.)
    safe_norms = np.where(nz, norms, 1.0)[:, None]
    G = np.empty((n, k))
    T = np.empty((n, k))
    for _ in range(iters):
        np.matmul(data, cents.T, out=G)
        # T := delta * (||x|| - (x^T c)/||x||)^2   [the parallel term]
        np.divide(G, safe_norms, out=T)
        np.subtract(norms[:, None], T, out=T)
        np.multiply(T, T, out=T)
        T *= delta
        if not nz.all():
            T[~nz] = 0.0  # zero vectors have no direction: par = 0
        # T += d2 (minus the argmin-invariant ||x||^2 row constant)
        T -= G
        T -= G
        T += (cents * cents).sum(axis=1)[None, :]
        assign = T.argmin(axis=1)
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign
        # closed-form update, VECTORIZED across clusters (r9): the
        # per-cluster python loop was 25 iters x 256 clusters x 64
        # subspaces of GIL-bound mask scans — 85% of the 1M-anchor
        # VEARCH build (SCALING.md). Per-cluster sums become dim (Sx)
        # + dim(dim+1)/2 (symmetric UU) bincounts plus ONE batched
        # LAPACK solve of (k, dim, dim). Same closed form, same empty-
        # cluster semantics (keep the centroid); only the accumulation
        # order differs from the loop (float drift ~1e-12, parity-
        # tested against the loop reference).
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sx = np.stack(
            [
                np.bincount(assign, weights=data[:, d], minlength=k)
                for d in range(dim)
            ],
            axis=1,
        )
        uu = np.empty((k, dim, dim))
        for a in range(dim):
            for b_ in range(a, dim):
                col = np.bincount(
                    assign, weights=u[:, a] * u[:, b_], minlength=k
                )
                uu[:, a, b_] = col
                uu[:, b_, a] = col
        mats = counts[:, None, None] * eye[None, :, :] + delta * uu
        nonempty = counts > 0
        cents = cents.copy()
        # b carries an explicit trailing vector axis: a 2-D b is a
        # "stack of vectors" under NumPy 1.x gufunc rules but a matrix
        # stack under NumPy >= 2.0 (shape error, or a silently
        # different solve when k == dim) — (k, dim, 1) is unambiguous
        # under both
        cents[nonempty] = np.linalg.solve(
            mats[nonempty], (eta * sx[nonempty])[:, :, None]
        )[:, :, 0]
    return cents


def opq_rotation_np(residuals: np.ndarray) -> np.ndarray:
    """Deterministic OPQ-lite: PCA eigenbasis of the residual
    covariance. Decorrelates subspaces, which is most of full OPQ's
    benefit at a fraction of its cost (no iterative re-training).
    Fully deterministic — eigh + sign fixing, no randomness."""
    cov = np.cov(residuals, rowvar=False)
    _, vecs = np.linalg.eigh(cov)
    # eigh returns ascending order; reverse so high-variance dims lead,
    # then fix signs deterministically
    r = vecs[:, ::-1]
    signs = np.sign(r[np.abs(r).argmax(axis=0), np.arange(r.shape[1])])
    signs[signs == 0] = 1.0
    return r * signs[None, :]


def _encode_codes(
    docs: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    rotation: np.ndarray,
    doc_vec: str,
) -> DataFrame:
    """Assign coarse clusters + residual-PQ-encode (one mapInPandas
    pass, map-only). Shared by build() and the T2 micro-batch append —
    appended vectors are encoded with the *already trained* quantizer
    and codebooks, never retrained (`vector/vector_manager.cc:280-382`)."""
    assigned = assign_clusters(docs, centroids, doc_vec)
    cb, cents, rot = codebooks, centroids, rotation
    m_ = cb.shape[0]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = stack_vectors(
                pdf[doc_vec].to_numpy(), "PQ encode (docs)"
            ).astype(np.float64)
            clus = pdf["cluster_id"].to_numpy(dtype=np.int64)
            res = (mat - cents[clus]) @ rot
            codes = np.empty((len(mat), m_), dtype=np.int32)
            for i in range(m_):
                sub = res[:, i * cb.shape[2] : (i + 1) * cb.shape[2]]
                c = cb[i]
                dist = -2.0 * (sub @ c.T) + (c * c).sum(axis=1)[None, :]
                codes[:, i] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "_docid": pdf["_docid"].to_numpy(dtype=np.int64),
                    "cluster_id": clus,
                    "codes": list(codes),
                }
            )

    return assigned.mapInPandas(
        encode, schema="_docid long, cluster_id int, codes array<int>"
    )


class PqScorer(Scorer):
    """IVFPQ / VEARCH scanner: asymmetric distance computation over
    residual PQ codes. Per (query, cluster) the residual LUT holds, per
    subspace, the query's score against every codeword; a doc's score
    is the base term plus one lookup per subspace (summed in subspace
    order)."""

    #: request-path ADC memory bounds (found by the SIFT1M anchor
    #: rehearsal): the kernel's real memory load is the residual LUTs —
    #: one (m, ksub) float64 table per (query, probed cluster) pair,
    #: ~5.4 GB at 1024 q x nprobe 40, 64x256. Over unpartitioned codes
    #: every task sees nearly every cluster and pages in the full set
    #: (32 workers x 5.4 GB OOM'd the host). Above LUT_PARTITION_BYTES
    #: of total LUT working set the pruned codes are cluster-partitioned
    #: and sorted so each task builds only its own clusters' tables;
    #: LUT_CACHE_BYTES hard-bounds the per-task cache for any layout.
    #: Small request shapes (the reference's topn 10 / req_num 1
    #: defaults, `tests/test.h:594-597`) stay far below both and keep
    #: their shuffle-free plan.
    LUT_PARTITION_BYTES = 256 << 20
    LUT_CACHE_BYTES = 512 << 20

    col = "codes"

    def __init__(self, index: "IvfPqIndex", metric: str):
        self.metric = metric
        self.cents, self.cb, self.rot = index.centroids, index.codebooks, index.rotation
        self.m, self.ksub, self.dsub = index.m, index.ksub, index.dsub
        # resolved on the driver: executor workers import their own
        # module copy, so the class attribute would not carry a
        # per-session override into the kernel
        self.cache_bytes = self.LUT_CACHE_BYTES

    def queries(self, values) -> np.ndarray:
        return stack_vectors(values, "PQ scan (queries)").astype(np.float64)

    def docs(self, values, c: int) -> np.ndarray:
        return np.stack(values).astype(np.int64)  # (B, m) codes

    def _residual(self, q: np.ndarray, c: int):
        if self.metric == "IP":
            # x = c + code@R^T  =>  <q,x> = <q,c> + <q@R, code>
            return q @ self.rot, q @ self.cents[c]
        # ||q-x||^2 = ||(q-c)@R - code||^2 (rotation-invariant)
        return (q - self.cents[c][None, :]) @ self.rot, np.zeros(len(q))

    def _lut(self, qres: np.ndarray, i: int) -> np.ndarray:
        qsub = qres[:, i * self.dsub : (i + 1) * self.dsub]
        cbi = self.cb[i]
        if self.metric == "IP":
            return qsub @ cbi.T
        return (
            (qsub * qsub).sum(axis=1)[:, None]
            - 2.0 * (qsub @ cbi.T)
            + (cbi * cbi).sum(axis=1)[None, :]
        )

    @staticmethod
    def _adc(base: np.ndarray, luts, codes: np.ndarray) -> np.ndarray:
        s = np.broadcast_to(base[:, None], (len(base), len(codes))).copy()
        for i, lut in enumerate(luts):
            s += lut[:, codes[:, i]]
        return s

    def score(self, q, codes, c):
        # LUTs built one subspace at a time: the distributed path's
        # query chunks can be large, so never hold all m tables at once
        qres, base = self._residual(q, c)
        return self._adc(base, (self._lut(qres, i) for i in range(self.m)), codes)

    def request_kernel(self, q):
        """Request-path kernel with a per-task LUT cache keyed by
        cluster (a cluster's probing queries are fixed per request). The
        cache is BOUNDED: when it would exceed ``cache_bytes`` it is
        dropped wholesale (cluster-sorted input makes re-entry of an
        evicted cluster rare; tables are pure functions of (query,
        cluster), so results are unaffected)."""
        cache: dict = {}
        held = 0

        def run(c, qsel, codes):
            nonlocal held
            hit = cache.get(c)
            if hit is None:
                qres, base = self._residual(q[qsel], c)
                luts = [self._lut(qres, i) for i in range(self.m)]
                size = sum(t.nbytes for t in luts)
                if held + size > self.cache_bytes and cache:
                    cache.clear()
                    held = 0
                hit = cache[c] = (base, luts)
                held += size
            return self._adc(hit[0], hit[1], codes)

        return run

    def layout(self, rel, pmask):
        if int(pmask.sum()) * self.m * self.ksub * 8 > self.LUT_PARTITION_BYTES:
            return rel.repartition(F.col("cluster_id")).sortWithinPartitions(
                "cluster_id"
            )
        return rel


class IvfPqIndex(IvfBase):
    """IVF + residual PQ codes (+ optional OPQ) + exact rerank."""

    name = "IVFPQ"

    def __init__(
        self,
        centroids: np.ndarray,  # (ncentroids, d) coarse quantizer
        codebooks: np.ndarray,  # (m, ksub, dsub) residual-space codebooks
        rotation: np.ndarray,  # (d, d) OPQ rotation (identity if disabled)
        codes_df: DataFrame,  # (_docid, cluster_id, codes)
        raw_docs: DataFrame,  # docs relation with raw vectors
        doc_vec: str,
        path: str | None = None,
    ):
        self.centroids = centroids
        self.codebooks = codebooks
        self.rotation = rotation
        self.codes_df = codes_df
        self.raw_docs = raw_docs
        self.doc_vec = doc_vec
        self.path = path
        self.m, self.ksub, self.dsub = codebooks.shape

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        doc_vec: str = "embedding",
        ncentroids: int = 256,
        nsubvector: int = 8,
        nbits: int = 8,
        opq: bool = False,
        anisotropic: bool = False,
        aniso_eta: float | None = None,
        aniso_t: float = 0.2,
        sample_size: int = 100_000,
        seed: int = 42,
        path: str | None = None,
    ) -> "IvfPqIndex":
        """``anisotropic=True`` trains the codebooks with the
        score-aware loss (:func:`anisotropic_kmeans_np`) instead of
        plain Lloyd — the ScaNN/VEARCH objective (SURVEY K7). ``eta``
        defaults to the paper's threshold parameterization
        eta = (d-1)·T²/(1-T²) with T = ``aniso_t``. Everything
        downstream (codes, ADC, rerank) is unchanged: anisotropy only
        moves WHERE the codebook centroids sit."""
        sout: dict = {}
        centroids = _train_centroids(
            docs, doc_vec, ncentroids, sample_size, seed, sample_out=sout
        )
        d = centroids.shape[1]
        if d % nsubvector:
            raise ValueError(f"dimension {d} not divisible by nsubvector {nsubvector}")
        dsub, ksub = d // nsubvector, 2**nbits

        # bounded training sample for codebooks (cap points/centroid,
        # standard quantizer practice). When the coarse-quantizer
        # training already collected a (larger-cap) seeded sample of
        # the same relation, its prefix IS a bounded uniform sample —
        # slicing it saves a second scan+collect job over the corpus
        # per build (guide §1.2; at bench SFs both samples were the
        # identical full table, so training is bit-unchanged). Only
        # the distributed-MLlib training branch (no collected sample)
        # still pays its own collection.
        cap = min(sample_size, 100_000, 128 * ksub)
        if "data" in sout:
            sample = sout["data"][:cap]
        else:
            est = _estimate_rows(docs, doc_vec)
            sample = _collect_sample(docs, doc_vec, cap, est, seed, "codebooks")
        # residuals to the assigned coarse centroid (faiss IVFPQ)
        a = (
            -2.0 * (sample @ centroids.T)
            + (centroids * centroids).sum(axis=1)[None, :]
        ).argmin(axis=1)
        residuals = sample - centroids[a]
        rotation = opq_rotation_np(residuals) if opq else np.eye(d)
        rotated = residuals @ rotation
        # subspaces train independently; numpy BLAS releases the GIL so a
        # thread pool gets real parallelism. seed+i per subspace keeps the
        # result identical to the sequential loop.
        if anisotropic:
            eta = (
                float(aniso_eta)
                if aniso_eta is not None
                else max(1.0, (d - 1) * aniso_t**2 / max(1e-9, 1.0 - aniso_t**2))
            )
            train = lambda i: anisotropic_kmeans_np(  # noqa: E731
                rotated[:, i * dsub : (i + 1) * dsub], ksub, eta, seed + i
            )
        else:
            train = lambda i: kmeans_lloyd_np(  # noqa: E731
                rotated[:, i * dsub : (i + 1) * dsub], ksub, seed + i
            )
        with ThreadPoolExecutor(max_workers=min(nsubvector, os.cpu_count() or 1)) as ex:
            codebooks = np.stack(list(ex.map(train, range(nsubvector))))
            # note: ksub_eff may be < 2^nbits on tiny data

        codes_df = _encode_codes(docs, centroids, codebooks, rotation, doc_vec)
        if path:
            codes_df = _write_index(
                codes_df, path, "codes",
                {"centroids": centroids, "codebooks": codebooks, "rotation": rotation},
                {"model": cls.name, "nsubvector": nsubvector, "doc_vec": doc_vec},
            )
        return cls(centroids, codebooks, rotation, codes_df, docs, doc_vec, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str, raw_docs: DataFrame) -> "IvfPqIndex":
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        rot_path = os.path.join(path, "rotation.npy")
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(
            centroids,
            np.load(os.path.join(path, "codebooks.npy")),
            np.load(rot_path) if os.path.exists(rot_path) else np.eye(centroids.shape[1]),
            spark.read.parquet(os.path.join(path, "codes")),
            raw_docs,
            meta["doc_vec"],
            path,
        )

    def encode_df(self, docs: DataFrame, doc_vec: str | None = None) -> DataFrame:
        """Encode new docs with the trained quantizer + codebooks
        (T2 micro-batch append path — no retrain)."""
        return _encode_codes(
            docs, self.centroids, self.codebooks, self.rotation,
            doc_vec or self.doc_vec,
        )

    def enable_hnsw_probe(self, **kw) -> "IvfPqIndex":
        """The reference's optional HNSW coarse quantizer for IVFPQ
        (SURVEY K3): accelerate the nprobe assignment with a graph over
        the centroid set (:meth:`IvfFlatIndex.enable_hnsw_probe`); the
        degenerate nprobe == ncentroids oracle path stays brute-force
        exact."""
        return IvfFlatIndex.enable_hnsw_probe(self, **kw)

    def _allowed(self, rel, predicate, docs):
        """The codes table carries no doc columns: filter by a left-semi
        join against the raw docs that pass the predicate and the
        ``_deleted`` mask."""
        raw = docs if docs is not None else self.raw_docs
        if predicate is None and "_deleted" not in raw.columns:
            return rel
        allowed = _apply_prefilter(raw, predicate).select("_docid")
        return rel.join(allowed, on="_docid", how="leftsemi")

    def _tail(self, metric_u, has_rank, docs, doc_vec, l2_sqrt, min_score, max_score) -> dict:
        """Shared skeleton arguments of both paths. F8 band (gamma
        parity: IVFPQ bands only in the exact rerank,
        `gamma_index_ivfpq.cc:668,689`): with ``has_rank`` the ADC
        estimates must NOT be banded — a candidate whose quantized
        estimate sits outside the band but whose exact score is inside
        it would be unrecoverable. Without rerank the ADC score IS the
        presented score: the band masks inside the kernel, mapped to
        its squared-L2 scale, and sqrt applies at presentation."""
        if has_rank:
            rerank = dict(
                docs=docs, doc_vec=doc_vec, l2_sqrt=l2_sqrt,
                min_score=min_score, max_score=max_score,
            )
            return dict(rerank=rerank)
        band = _presented_to_kernel_band(
            min_score, max_score, squared=(metric_u == "L2" and l2_sqrt)
        )
        return dict(band=band, sqrt_out=l2_sqrt and metric_u == "L2")

    # -- search -----------------------------------------------------------
    def search(
        self,
        docs: DataFrame,  # protocol arg; raw vectors for rerank (None -> build-time docs)
        queries: DataFrame,
        k: int = 10,
        metric: str = "IP",
        doc_vec: str | None = None,
        nprobe: int = 10,
        recall_num: int | None = None,
        has_rank: bool = True,
        predicate: Column | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        l2_sqrt: bool = False,
        query_id: str = "qid",
        query_vec: str = "qvec",
    ) -> DataFrame:
        """Residual-ADC candidate generation + optional exact rerank on
        the request path.

        ``recall_num`` defaults to max(4k, 64) candidates per query
        (reference keeps recall_num >= k, `gamma_index_ivfpq.cc:762-764`)
        — scale it with expected inverted-list sizes on tightly
        clustered corpora. Without ``has_rank`` the ADC ordering is
        truncated at k directly.
        """
        metric_u = metric.upper()
        if metric_u not in ("IP", "L2"):
            raise ValueError("IVFPQ supports IP and L2")
        raw = docs if docs is not None else self.raw_docs
        return self._search_request(
            self.codes_df, queries, PqScorer(self, metric_u), k, nprobe,
            predicate, raw, query_id=query_id, query_vec=query_vec,
            strategy="scan", pool=recall_num or max(4 * k, 64),
            **self._tail(
                metric_u, has_rank, raw, doc_vec or self.doc_vec, l2_sqrt,
                min_score, max_score,
            ),
        )

    def knn_join_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str = "L2",
        nprobe: int = 10,
        recall_num: int | None = None,
        has_rank: bool = True,
        predicate: Column | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        l2_sqrt: bool = False,
        salts: int = 1,
        min_score: float | None = None,
        max_score: float | None = None,
    ) -> DataFrame:
        """IVFPQ kNN join where the queries side is a DataFrame of any
        size (corpus x corpus: kNN graph / semantic-dedup mining over
        codes) — the skeleton's distributed path with the ADC scorer,
        per-(query, cluster) top-``recall_num``, global
        top-``recall_num``, then the exact rerank against the raw
        vectors and the queries *relation* (plain joins — nothing
        collected). With nprobe == ncentroids and recall_num == N the
        result equals exact brute force bit-for-bit. ``salts`` and the
        band behave as in :meth:`search` and the IVF join."""
        metric_u = metric.upper()
        if metric_u not in ("IP", "L2"):
            raise ValueError("IVFPQ supports IP and L2")
        return self._join_distributed(
            self.codes_df, queries, PqScorer(self, metric_u), k, nprobe,
            predicate, query_id=query_id, query_vec=query_vec, salts=salts,
            pool=recall_num or max(4 * k, 64),
            **self._tail(
                metric_u, has_rank, self.raw_docs, self.doc_vec, l2_sqrt,
                min_score, max_score,
            ),
        )


class VearchIndex(IvfPqIndex):
    """K7 — the capability of the reference's vendored-ScaNN retrieval
    model (`index/impl/scann/gamma_index_vearch.cc:19; Search
    :415-520`): anisotropic (score-aware) vector quantization with
    compact 4-bit codes. Expressed as IVFPQ with the anisotropic
    training objective and nbits=4 defaults — the search machinery
    (executor-side ADC LUTs, recall_num candidates, exact rerank,
    distributed cogroup join) is shared with K3; only the codebook
    placement differs. SIMD LUT16 scanning is an execution detail the
    Arrow-batched numpy kernel stands in for, as with K4."""

    name = "VEARCH"

    @classmethod
    def build(
        cls,
        docs,
        doc_vec: str = "embedding",
        ncentroids: int = 256,
        nsubvector: int = 8,
        nbits: int = 4,
        anisotropic: bool = True,
        **kw,
    ) -> "VearchIndex":
        return super().build(
            docs,
            doc_vec=doc_vec,
            ncentroids=ncentroids,
            nsubvector=nsubvector,
            nbits=nbits,
            anisotropic=anisotropic,
            **kw,
        )
