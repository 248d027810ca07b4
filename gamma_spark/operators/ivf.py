"""IVFFLAT — inverted-file ANN index (SURVEY K2, O5).

Reference behavior (`index/impl/gamma_index_ivfflat.cc:111,392-540`):
train a coarse k-means quantizer on the first ``indexing_size`` vectors,
assign every vector to its nearest centroid's inverted list, and at
search time scan only the ``nprobe`` lists whose centroids are nearest
to the query — exact distances within the probed lists.

Spark design:

- **Train**: MLlib KMeans over a bounded sample (the reference also
  trains on a bounded prefix, `search/gamma_engine.cc:659-664`), seeded
  for determinism. The training helpers here are shared by every IVF
  model (IVFPQ, IVFSQ8, BINARYIVF).
- **Assign**: one vectorized ``mapInPandas`` pass computes
  ``cluster_id = argmin ||v - c||`` against the broadcast centroid
  matrix (numpy matmul per Arrow batch) — no shuffle.
- **Store**: the index table is the docs relation + ``cluster_id``,
  written ``partitionBy("cluster_id")`` so a probe reads only its
  buckets — gamma's nprobe pruning becomes **Parquet partition
  pruning** (SURVEY O5). At 100 TB each bucket is further split by
  Parquet's own file sizing; no bucket ever needs to fit in memory.
- **Search**: the shared IVF skeleton (:mod:`.ivfsearch`) with the FLAT
  scorer — driver-side probe + pruned scan for request batches, the
  cogroup join for query relations of any size.

With ``nprobe == ncentroids`` the plan degenerates to exact brute force
— that degeneracy is our oracle-checkable configuration (SURVEY §5).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from gamma_spark.functions.vector import stack_vectors
from gamma_spark.operators.ivfsearch import (
    FLOAT_METRICS,
    IvfBase,
    _presented_to_kernel_band,
    centroid_hierarchy,
    scorer_for,
)


DEFAULT_NCENTROIDS = 256  # reference test default (`tests/test.h:51-66`)
DEFAULT_NPROBE = 10

def kmeans_lloyd_np(data: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Deterministic Lloyd k-means over an in-memory sample (the
    reference trains its quantizer on a bounded ``indexing_size`` buffer
    the same way — `vector/vector_manager.cc:269-278`).

    Fully vectorized: assignment drops the constant ||x||^2 term and the
    centroid update is per-dimension bincount (the naive per-cluster
    masking loop is O(k*n) scans per iteration and dominated training)."""
    rng = np.random.default_rng(seed)
    k = min(k, len(data))
    n, dim = data.shape
    cents = data[rng.choice(n, size=k, replace=False)].copy()
    prev_assign = None
    for _ in range(iters):
        d = -2.0 * (data @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        if prev_assign is not None and np.array_equal(assign, prev_assign):
            break
        prev_assign = assign
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, dim))
        for j in range(dim):
            sums[:, j] = np.bincount(assign, weights=data[:, j], minlength=k)
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cents


#: below this sample size, driver-local numpy Lloyd beats MLlib's
#: distributed k-means by ~10x in wall clock (fit overhead dominates)
LOCAL_TRAIN_MAX = 200_000


def _estimate_rows(
    df: DataFrame,
    vec_col: str,
    probe: bool = True,
    skip_probe_if_under: int | None = None,
) -> int | None:
    """Metadata-only row estimate: the optimizer's rowCount when CBO has
    one, else projected sizeInBytes / per-row width (8*dim + overhead)
    with the dim probed from a single row. Never scans the relation —
    at 100 TB a plain ``count()`` just to pick a sampling fraction is a
    full pass over the data.

    ``probe=False`` forbids even the single-row dim probe (zero Spark
    jobs, for planner heuristics that must stay lazy — VERDICT r3 #5);
    the width falls back to an assumed 128-dim float64 row.

    ``skip_probe_if_under=T`` (r12, guide §1.2): when even the MINIMUM
    possible row width (dim 1: 8 B payload + 24 B overhead = 32 B)
    bounds the relation at <= T rows, return that safe OVERESTIMATE
    without running the one-task dim-probe job. Callers pass the
    smallest threshold their decisions compare against (sampling
    cutoff, local-vs-distributed training cutoff): both the bound and
    the true count land on the same side of every such threshold, so
    the skipped probe provably cannot change any downstream branch —
    it only deletes a driver job per build on small relations. At
    scale the size bound exceeds T and the probe runs as before."""
    try:
        proj = df.select(vec_col)
        stats = proj._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if size >= (1 << 60):
            # Spark reports defaultSizeInBytes (Long.MaxValue) for leaf
            # nodes with no stats (e.g. local relations) — that is
            # "unknown", not "huge"
            return None
    except Exception:
        return None
    if skip_probe_if_under is not None and size // 32 <= skip_probe_if_under:
        return max(1, size // 32)
    if not probe:
        # assumed on-disk width of a parquet float-vector row (~4*dim at
        # dim 64); a wrong guess only shifts a perf-strategy crossover,
        # never correctness
        return max(1, size // 256)
    head = df.select(vec_col).head(1)
    if not head:
        return 0
    if head[0][0] is None:
        # nullable vector column whose first row is NULL: fall back to
        # the assumed width rather than crash plan building
        return max(1, size // 256)
    dim = len(head[0][0])
    return max(1, size // (8 * dim + 24))


def _train_centroids(
    docs: DataFrame,
    doc_vec: str,
    ncentroids: int,
    sample_size: int,
    seed: int,
    sample_out: dict | None = None,
) -> np.ndarray:
    """K-means over a bounded sample; returns (ncentroids, d).

    The training *sample* is bounded (reference: ``indexing_size`` docs)
    so for samples under LOCAL_TRAIN_MAX rows we collect and run local
    numpy Lloyd; larger samples go through MLlib KMeans so training
    itself stays distributed.

    ``sample_out`` (optional dict) receives the collected sample matrix
    under ``"data"`` when the local-training branch ran — builders that
    need a second bounded sample of the SAME relation (PQ codebook
    training) can slice this one instead of paying another
    scan+collect job over the corpus (guide §1.2). ``"complete"`` is
    True only when the matrix PROVABLY holds every row of the relation
    (no fraction-sampling was applied and the limit did not bind), so
    callers may derive full-table statistics (SQ8 min/max bounds) from
    it bit-identically instead of running another full pass."""
    # decisions below compare total against sample_size (sampling
    # cutoff) and LOCAL_TRAIN_MAX (local-vs-MLlib cutoff): when the
    # 32 B/row bound keeps the relation under BOTH, the dim-probe job
    # is skipped with provably identical branching (see _estimate_rows)
    total = _estimate_rows(
        docs, doc_vec,
        skip_probe_if_under=min(int(sample_size), LOCAL_TRAIN_MAX),
    )
    if total is None:
        total = docs.count()
    sampled = total > sample_size

    if min(total, sample_size) <= LOCAL_TRAIN_MAX:
        data = _collect_sample(docs, doc_vec, sample_size, total, seed, "centroids")
        if sample_out is not None:
            sample_out["data"] = data
            # provably every row: no sampling, limit not binding (an
            # exactly-sample_size result is indistinguishable from a
            # truncated one -> conservatively incomplete)
            sample_out["complete"] = (not sampled) and len(data) < sample_size
        return kmeans_lloyd_np(data, ncentroids, seed)

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = _sample_vectors(docs, doc_vec, sample_size, total, seed)
    feat = sample.select(array_to_vector(F.col("_v")).alias("features"))
    model = KMeans(k=ncentroids, seed=seed, initMode="random", maxIter=15).fit(feat)
    return np.asarray(model.clusterCenters(), dtype=np.float64)


def _sample_vectors(
    docs: DataFrame, doc_vec: str, size: int, total: int | None, seed: int
) -> DataFrame:
    """A seeded sample of at most ``size`` vectors as ``_v
    array<double>``. The limit both enforces the bound and insures
    against a low ``total`` estimate (a no-op when the stream is
    already smaller)."""
    sample = docs.select(F.col(doc_vec).cast("array<double>").alias("_v"))
    if total is not None and total > size:
        sample = sample.sample(fraction=min(1.0, 1.5 * size / total), seed=seed)
    return sample.limit(size)


def _collect_sample(
    docs: DataFrame, doc_vec: str, size: int, total: int | None, seed: int, what: str
) -> np.ndarray:
    """:func:`_sample_vectors` collected as a float64 matrix (Arrow-path
    ``toPandas`` is ~10x faster than row deserialization for array
    columns) for training ``what``."""
    pdf = _sample_vectors(docs, doc_vec, size, total, seed).toPandas()
    if pdf.empty:
        # fraction sampling under an overestimated row count can
        # return nothing; fall back to a plain bounded take
        pdf = _sample_vectors(docs, doc_vec, size, None, seed).toPandas()
    if pdf.empty:
        raise ValueError(f"cannot train {what} on an empty relation")
    return stack_vectors(pdf["_v"].to_numpy(), f"{what} training sample").astype(
        np.float64
    )


def _write_index(
    rel: DataFrame, path: str, table: str, arrays: dict, meta: dict
) -> DataFrame:
    """Persist a cluster-assigned relation partitioned by
    ``cluster_id`` under ``path/table``, the quantizer arrays as
    ``<name>.npy`` and ``meta.json``; returns the re-read relation (a
    bare scan, no Python stage)."""
    from gamma_spark.io_util import atomic_write_json

    # co-locate each inverted list before the partitioned write:
    # without this, every one of T tasks writes into every one of C
    # cluster dirs -> T*C tiny files; with it, file count ~ C (Parquet
    # still splits oversized lists by maxRecordsPerFile)
    rel.repartition("cluster_id").write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(os.path.join(path, table))
    for name, arr in arrays.items():
        np.save(os.path.join(path, f"{name}.npy"), arr)
    atomic_write_json(os.path.join(path, "meta.json"), meta)
    return rel.sparkSession.read.parquet(os.path.join(path, table))


def assign_clusters(
    docs: DataFrame, centroids: np.ndarray, doc_vec: str = "embedding"
) -> DataFrame:
    """Vectorized nearest-centroid assignment (map-only, no shuffle)."""
    cents = centroids.astype(np.float64)
    cnorm = (cents * cents).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = stack_vectors(
                pdf[doc_vec].to_numpy(), "cluster assignment (docs)"
            ).astype(np.float64)
            # argmin over ||v-c||^2 = v.v - 2 v.c + c.c; v.v constant per row
            d = -2.0 * (mat @ cents.T) + cnorm[None, :]
            pdf = pdf.copy()
            pdf["cluster_id"] = d.argmin(axis=1).astype(np.int32)
            yield pdf

    from pyspark.sql.types import IntegerType, StructField, StructType

    # copy the fields: df.schema returns the DataFrame's cached StructType
    # and StructType.add mutates in place
    schema = StructType(list(docs.schema.fields) + [StructField("cluster_id", IntegerType())])
    return docs.mapInPandas(assign, schema=schema)


class IvfFlatIndex(IvfBase):
    """RetrievalModel analogue (`index/retrieval_model.h:218-310`):
    build() trains + materializes the index table; search() and
    knn_join_distributed() run the shared IVF skeleton with the FLAT
    scorer (HAMMING: the popcount scorer)."""

    name = "IVFFLAT"

    def __init__(self, centroids: np.ndarray, index_df: DataFrame, path: str | None = None):
        self.centroids = centroids
        self.index_df = index_df
        self.path = path
        self._src_docs: DataFrame | None = None  # set by build() (in-memory)

    # -- build -----------------------------------------------------------
    @classmethod
    def build(
        cls,
        docs: DataFrame,
        doc_vec: str = "embedding",
        ncentroids: int = DEFAULT_NCENTROIDS,
        sample_size: int = 100_000,
        seed: int = 42,
        path: str | None = None,
    ) -> "IvfFlatIndex":
        centroids = _train_centroids(docs, doc_vec, ncentroids, sample_size, seed)
        assigned = assign_clusters(docs, centroids, doc_vec)
        src_docs = docs
        if path:
            assigned = _write_index(
                assigned, path, "index", {"centroids": centroids},
                {"model": cls.name, "ncentroids": len(centroids), "doc_vec": doc_vec},
            )
            # a path-backed index re-reads its own parquet — the written
            # index IS the cheap vector source, so don't pin the
            # build-time source plan alive
            src_docs = None
        idx = cls(centroids, assigned, path)
        # rescore-vector source for in-memory builds: index_df carries a
        # MapInPandas (cluster assignment) the rescore join must NOT
        # re-run just to fetch (_docid, vector) — a second full Python
        # pass over the corpus (guide §4: pass only the columns the
        # function needs; here, bypass the function entirely)
        idx._src_docs = src_docs
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfFlatIndex":
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(centroids, spark.read.parquet(os.path.join(path, "index")), path)

    # -- coarse quantizer --------------------------------------------------
    def enable_hnsw_probe(
        self, m: int = 16, ef_construction: int = 100, ef_search: int = 64,
        seed: int = 42,
    ) -> "IvfFlatIndex":
        """Accelerate the coarse quantizer with an HNSW graph over the
        centroid set — the reference's optional HNSW coarse quantizer
        for IVFPQ (SURVEY K3; `index/impl/gamma_index_ivfpq.cc` routes
        the coarse assignment through hnswlib when configured). Worth it
        when ncentroids is large enough that the brute-force probe's
        O(Q·C) matmul dominates: the graph probe is O(Q·ef·log C). The
        graph lives over centroids only (tiny — it broadcasts with the
        closure), never over the corpus."""
        from gamma_spark.operators.hnsw import NpHnsw

        g = NpHnsw(m=m, ef_construction=ef_construction, metric="L2")
        g.build(self.centroids.astype(np.float64), seed=seed)
        self._hnsw_probe = (g, int(ef_search))
        return self

    def build_hierarchy(self, nsuper: int | None = None, seed: int = 42) -> "IvfFlatIndex":
        """Cluster the centroids themselves into ``nsuper`` (default
        sqrt(ncentroids)) super-centroids. With a hierarchy, the
        distributed join's probe broadcasts only the (nsuper x d) super
        matrix and streams the full centroid set as a *relation* — the
        executor/driver footprint drops from O(ncentroids) to
        O(sqrt(ncentroids)), raising the practical ceiling from ~65k
        centroids (docs/SCALING.md) to ~4B. The same two-level idea as
        faiss' IMI / SPANN partitioning, expressed as one extra cogroup."""
        self._hierarchy = centroid_hierarchy(self.centroids, nsuper, seed)
        return self

    # -- search ----------------------------------------------------------
    def search(
        self,
        docs: DataFrame,  # unused: index_df already carries the docs; kept for protocol
        queries: DataFrame,
        k: int = 10,
        metric: str = "IP",
        doc_vec: str = "embedding",
        nprobe: int = DEFAULT_NPROBE,
        predicate: Column | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        l2_sqrt: bool = False,
        strategy: str = "auto",
        query_id: str = "qid",
        query_vec: str = "qvec",
        probe_vec: str | None = None,
    ) -> DataFrame:
        """The request path (:meth:`IvfBase._search_request`).
        ``strategy``: 'join' = Catalyst expression scoring + window
        top-k (bit-reproducible vs the SQL oracle — the correctness
        path); 'scan' = per-cluster BLAS kernel with partition-local
        heaps (the throughput path for large query batches); 'auto'
        picks by query count. ``probe_vec`` names the float query
        column used for centroid probing when ``query_vec`` itself
        isn't in centroid space (BINARYIVF)."""
        return self._search_request(
            self.index_df, queries, scorer_for(metric, doc_vec, l2_sqrt),
            k, nprobe, predicate, query_id=query_id, query_vec=query_vec,
            probe_vec=probe_vec, strategy=strategy, band=(min_score, max_score),
        )

    def knn_join_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str = "L2",
        nprobe: int = DEFAULT_NPROBE,
        predicate: Column | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        doc_vec: str = "embedding",
        l2_sqrt: bool = False,
        rescore: bool = False,
        salts: int = 1,
        min_score: float | None = None,
        max_score: float | None = None,
        hierarchical: bool = False,
        super_probe: int = 4,
        probe_vec: str | None = None,
    ) -> DataFrame:
        """The distributed path (:meth:`IvfBase._join_distributed`):
        the queries relation may be any size and is never collected —
        ``search()`` mirrors the reference's bounded request batch
        (`idl/fbs/request.fbs:28`), this is the corpus x corpus shape.

        ``rescore=True`` recomputes the final scores with the in-order
        Catalyst expression (:func:`exact_rerank`, bit-identical to the
        SQL oracle) — the global top-k of the probed set is always
        contained in the union of per-cluster top-ks, so with
        ``nprobe == ncentroids`` the result equals exact brute force
        bit-for-bit, and the score band is re-decided on exact scores.

        ``hierarchical=True`` routes the probe through the two-level
        quantizer (:meth:`build_hierarchy`): no O(ncentroids) structure
        on the driver or in any task closure. ``super_probe`` = supers
        visited per query; with ``super_probe >= nsuper`` the probe set
        equals the flat probe exactly (property-tested)."""
        metric_u = metric.upper()
        if metric_u not in FLOAT_METRICS + ("HAMMING",):
            raise ValueError(f"knn_join_distributed: unsupported metric {metric_u}")
        # the kernel holds squared L2 when the rescore presents the sqrt
        kernel_sqrt = l2_sqrt and not rescore
        band = _presented_to_kernel_band(
            min_score, max_score,
            squared=(metric_u == "L2" and l2_sqrt and not kernel_sqrt),
        )
        rerank = None
        if rescore:
            rerank = dict(
                docs=self._src_docs, doc_vec=doc_vec, l2_sqrt=l2_sqrt,
                min_score=min_score, max_score=max_score,
            )
        return self._join_distributed(
            self.index_df, queries, scorer_for(metric_u, doc_vec, kernel_sqrt),
            k, nprobe, predicate, query_id=query_id, query_vec=query_vec,
            probe_vec=probe_vec, salts=salts, band=band, guard=rescore,
            hierarchical=hierarchical, super_probe=super_probe, rerank=rerank,
        )
