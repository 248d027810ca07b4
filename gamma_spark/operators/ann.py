"""Retrieval-model registry (SURVEY §2.8).

The reference's only extension point is ``REGISTER_MODEL(name, class)``
reflection (`index/reflector.h`; e.g. `index/impl/gamma_index_flat.cc:28`,
`gamma_index_ivfpq.cc:50`). Here: a plain dict of model classes sharing
the {build, search} protocol; ``get_model`` mirrors the factory lookup.

Models:
- FLAT      exact brute force (K1) — always available, no build step;
            also the fallback for untrained indexes
            (`search/gamma_engine.cc:329-340`)
- IVFFLAT   coarse k-means + nprobe-pruned exact scan (K2)
- IVFPQ     IVF + product quantization + exact rerank (K3)
- HNSW      sharded small-world graphs, fan-out search (K5)
- BINARYIVF IVF over packed sign bits, Hamming scoring (K6)
- VEARCH    anisotropic (ScaNN-objective) 4-bit PQ + rerank (K7)

GPU (K8) remains the one documented non-goal: device placement is an
execution detail Spark delegates to the cluster (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gamma_spark.functions import vector as V
from gamma_spark.operators import knn
from gamma_spark.operators.ivf import IvfFlatIndex
from gamma_spark.operators.pq import IvfPqIndex


class FlatIndex:
    """K1 — stateless; search() is the exact scan kernel (the planner's
    brute path picks the join kernel for small oracle batches)."""

    name = "FLAT"

    @classmethod
    def build(cls, docs: DataFrame, **kw) -> "FlatIndex":
        return cls()

    def search(self, docs: DataFrame, queries: DataFrame, **kw) -> DataFrame:
        kw.pop("nprobe", None)
        return knn.knn_scan(docs, queries, **kw)


def _binarized(queries: DataFrame, query_id: str, query_vec: str) -> DataFrame:
    """(qid, packed sign bits ``qsig``, float ``_probe_vec``): BINARYIVF
    scores the signature and probes the float quantizer."""
    return queries.select(
        F.col(query_id).alias("qid"),
        V.sign_bits(query_vec).alias("qsig"),
        F.col(query_vec).alias("_probe_vec"),
    )


class BinaryIvfIndex:
    """K6 — binary vectors (packed sign bits in a BIGINT), Hamming
    distance, IVF bucketing by the float-space coarse quantizer.

    The reference trains binary IVF with faiss k-means over binary
    codes (`index/impl/gamma_index_binary_ivf.cc:57`); we bucket by the
    float-vector quantizer (same recall intent: nearby vectors share
    buckets) and run the IVFFLAT index's skeleton with the HAMMING
    metric: probed by the float vectors, scored by XOR+popcount (in
    codegen on the request path, the popcount scorer in the cogroup).
    """

    name = "BINARYIVF"

    def __init__(self, ivf: IvfFlatIndex, sig_col: str):
        self.ivf = ivf
        self.sig_col = sig_col

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        doc_vec: str = "embedding",
        ncentroids: int = 256,
        sample_size: int = 100_000,
        seed: int = 42,
        path: str | None = None,
    ) -> "BinaryIvfIndex":
        sig = f"{doc_vec}_sig"
        with_sig = docs.withColumn(sig, V.sign_bits(doc_vec))
        ivf = IvfFlatIndex.build(
            with_sig, doc_vec=doc_vec, ncentroids=ncentroids,
            sample_size=sample_size, seed=seed, path=path,
        )
        return cls(ivf, sig)

    def search(
        self,
        docs: DataFrame,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 10,
        predicate: Column | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        **kw,
    ) -> DataFrame:
        """Queries carry float vectors; they are binarized here with the
        same sign_bits packing used at build."""
        return self.ivf.search(
            None,
            _binarized(queries, query_id, query_vec),
            k=k,
            metric="HAMMING",
            doc_vec=self.sig_col,
            nprobe=nprobe,
            predicate=predicate,
            query_id="qid",
            query_vec="qsig",
            probe_vec="_probe_vec",
            # forward the rest (min_score/max_score F8 bands, l2_sqrt,
            # strategy) — swallowing **kw silently ignored score bands
            # on BINARYIVF while every other model honored them
            **kw,
        )

    def knn_join_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 10,
        predicate: Column | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        salts: int = 1,
        min_score: float | None = None,
        max_score: float | None = None,
        rescore: bool = False,
        hierarchical: bool = False,
        super_probe: int = 4,
        **kw,
    ) -> DataFrame:
        """Corpus-scale Hamming kNN join: float queries are binarized
        with the build-time sign packing, probed by their float vectors
        (``probe_vec``), and scored inside the cogroup kernel by the
        popcount scorer. Queries never collected;
        salting/banding/hierarchy compose."""
        return self.ivf.knn_join_distributed(
            _binarized(queries, query_id, query_vec),
            k=k,
            metric="HAMMING",
            nprobe=nprobe,
            predicate=predicate,
            query_id="qid",
            query_vec="qsig",
            probe_vec="_probe_vec",
            doc_vec=self.sig_col,
            salts=salts,
            min_score=min_score,
            max_score=max_score,
            rescore=rescore,
            hierarchical=hierarchical,
            super_probe=super_probe,
            **kw,
        )


def recall_check(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    threshold: float,
    query_id: str = "qid",
    doc_id: str = "_docid",
) -> DataFrame:
    """Recall@k of an approximate result against the exact kernel, as a
    one-row relation ``(k, threshold, recall_ok)`` — the reference's own
    acceptance methodology (`benchs/README.md` recall tables; self-recall
    asserts `tests/test.h:690`) made driver-checkable: a DuckDB twin is
    just ``SELECT k, threshold, true AS recall_ok``, so the hash matches
    iff measured recall clears the threshold.

    Fully distributed: hit counting is an inner join on (qid, docid)
    between two k·Q-row relations, and both counts are single-row
    aggregates cross-joined (1×1) — nothing scales with corpus size."""
    keys = [query_id, doc_id]
    hits = approx.select(*keys).join(exact.select(*keys), on=keys, how="inner")
    agg = hits.agg(F.count(F.lit(1)).alias("_hits")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("_n"))
    )
    return agg.select(
        F.lit(k).alias("k"),
        F.lit(float(threshold)).alias("threshold"),
        ((F.col("_hits") / F.col("_n")) >= F.lit(float(threshold))).alias("recall_ok"),
    )


def _tune_ladder(
    docs: DataFrame,
    queries: DataFrame,
    search_at,
    rungs,
    k: int,
    metric: str,
    target_recall: float,
    max_queries: int,
    query_id: str,
    doc_id: str,
) -> tuple[int, float]:
    """Shared ladder walk: stage an exact baseline over a bounded query
    sample, run ``search_at(qs, rung)`` per rung, return the first rung
    whose recall@k clears the target (else the last rung).

    ``query_id`` names the id column of the INPUT queries relation
    (forwarded to the exact kernel); the recall join always uses the
    kernels' fixed OUTPUT columns (qid, _docid) — RESULT_COLS is the
    same for every model, so ``doc_id`` only matters if a custom
    ``search_at`` renames its output.

    Cost is bounded: the exact baseline is one scan-kernel pass over
    ≤``max_queries`` queries (staged and reused for every rung), each
    rung is one pruned search over the same sample, and the only
    driver-side values are per-rung hit counts. The whole walk runs in
    its own stage_scope so the two staged relations release on return
    (a periodically-retuning service must not accumulate pinned RDDs —
    the r8 soak failure class)."""
    from gamma_spark.session import stage, stage_scope

    keys = ["qid", doc_id]
    with stage_scope():
        qs = stage(queries.limit(max_queries))
        exact = stage(
            knn.knn_scan(
                docs, qs, k=k, metric=metric, query_id=query_id
            ).select(*keys)
        )
        n_pairs = exact.count()
        value, recall = rungs[-1], 0.0
        for rung in rungs:
            hits = (
                search_at(qs, rung)
                .select(*keys)
                .join(exact, on=keys, how="inner")
                .count()
            )
            value, recall = rung, hits / max(n_pairs, 1)
            if recall >= target_recall:
                break
    return value, recall


def tune_nprobe(
    index,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "L2",
    target_recall: float = 0.95,
    ladder: tuple[int, ...] = (1, 2, 4, 8, 16, 32, 64, 128),
    max_queries: int = 256,
    query_id: str = "qid",
    doc_id: str = "_docid",
    **search_kw,
) -> tuple[int, float]:
    """Smallest nprobe on ``ladder`` whose recall@k against the exact
    kernel clears ``target_recall``, measured on a bounded query sample
    — the reference's published nprobe sweeps
    (`benchs/README.md:30-40`; production defaults
    `index/impl/gamma_index_ivfpq.h:676-707`) turned into a build-time
    call, like faiss's autotune. Returns ``(nprobe, measured_recall)``;
    if no rung clears the target, the largest rung and its recall."""
    ncent = getattr(index, "ncentroids", None)
    if ncent is None and getattr(index, "centroids", None) is not None:
        ncent = len(index.centroids)
    rungs = sorted({min(r, ncent) if ncent else r for r in ladder})
    return _tune_ladder(
        docs,
        queries,
        lambda qs, rung: index.search(
            docs, qs, k=k, metric=metric, nprobe=rung,
            query_id=query_id, **search_kw
        ),
        rungs,
        k, metric, target_recall, max_queries, query_id, doc_id,
    )


def tune_recall_num(
    index,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "L2",
    nprobe: int = 10,
    target_recall: float = 0.95,
    ladder: tuple[int, ...] = (64, 256, 1000, 4000, 16000),
    max_queries: int = 256,
    query_id: str = "qid",
    doc_id: str = "_docid",
    **search_kw,
) -> tuple[int, float]:
    """The PQ twin of :func:`tune_nprobe`: recall_num is the recall
    lever for ADC+rerank (the calibration sweep showed nprobe saturates
    while the ADC shortlist caps recall — docs/SCALING.md). Walks the
    recall_num ladder at a fixed nprobe and returns the smallest value
    clearing the target on the sample."""
    return _tune_ladder(
        docs,
        queries,
        lambda qs, rung: index.search(
            docs, qs, k=k, metric=metric, nprobe=nprobe,
            recall_num=rung, has_rank=True, query_id=query_id, **search_kw
        ),
        list(ladder),
        k, metric, target_recall, max_queries, query_id, doc_id,
    )


from gamma_spark.operators.hnsw import HnswIndex  # noqa: E402 (cycle-free)
from gamma_spark.operators.pq import VearchIndex  # noqa: E402
from gamma_spark.operators.sq import IvfSq8Index  # noqa: E402

MODELS = {
    "FLAT": FlatIndex,
    "IVFFLAT": IvfFlatIndex,
    "IVFPQ": IvfPqIndex,
    "BINARYIVF": BinaryIvfIndex,
    "HNSW": HnswIndex,
    # the reference registers its vendored ScaNN as VEARCH
    # (`index/impl/scann/gamma_index_vearch.cc:19`)
    "VEARCH": VearchIndex,
    "SCANN": VearchIndex,
    # beyond-reference compressed tier: the ZFP lossy-vector-store
    # analogue (SURVEY O12) as a first-class model
    "IVFSQ8": IvfSq8Index,
}


def get_model(name: str):
    try:
        return MODELS[name.upper()]
    except KeyError:
        raise ValueError(f"unknown retrieval model {name!r}; one of {sorted(MODELS)}") from None
