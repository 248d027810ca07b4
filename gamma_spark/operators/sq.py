"""IVFSQ8 — IVF over 8-bit scalar-quantized vectors.

The idiomatic answer to the reference's lossy vector compression tier
(ZFP-compressed raw vector store, `storage/compress/compressor_zfp.h:38-58`,
SURVEY O12): store each float32 dimension as one uint8 against trained
per-dimension [min, max] bounds — 4x fewer vector bytes scanned at
search time, with recall governed by quantization resolution instead of
a shortlist (contrast IVFPQ, where the code is sub-vector-level and
recall_num is the lever). The same tier faiss ships as
IndexScalarQuantizer(QT_8bit) + IVF.

Design: build trains the shared coarse quantizer and writes a
cluster-partitioned CODES table (the doc columns plus ``_sq8``, d uint8
bytes per row); search is the shared IVF skeleton (:mod:`.ivfsearch`)
with :class:`Sq8Scorer`, which dequantizes the probed codes inside the
scan and cogroup kernels and then scores exactly like FLAT. Pruning,
predicates, bands, l2_sqrt and the exact rerank are the skeleton's.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from gamma_spark.functions.vector import stack_vectors

from gamma_spark.operators.ivf import (
    DEFAULT_NCENTROIDS,
    DEFAULT_NPROBE,
    _train_centroids,
    _write_index,
    assign_clusters,
)
from gamma_spark.operators.ivfsearch import FLOAT_METRICS, FlatScorer, IvfBase


class Sq8Scorer(FlatScorer):
    """IVFSQ8 scanner: dequantize the ``_sq8`` bytes to the
    reconstruction value mn + c/255*(mx-mn), rounded through float32
    (what a decoded float column holds), then score as FLAT — so the
    code-native kernels are bit-identical to decode-then-score."""

    def __init__(self, index: "IvfSq8Index", metric: str, sqrt: bool = False):
        super().__init__(metric, "_sq8", sqrt)
        self.join_col = index.doc_vec
        self.mins = index.mins
        self.span = np.maximum(index.maxs - index.mins, 1e-30)

    def decode(self, values) -> np.ndarray:
        C = np.stack(
            [np.frombuffer(b, dtype=np.uint8, count=len(self.mins)) for b in values]
        ).astype(np.float64)
        return (self.mins + C / 255.0 * self.span).astype(np.float32).astype(
            np.float64
        )

    def decode_rel(self, codes: DataFrame) -> DataFrame:
        """Replace ``_sq8`` with the decoded float vector column
        ``join_col`` (Arrow-batched, map-only) — for the Catalyst join
        strategy, which scores a real column."""
        from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

        fields = [f for f in codes.schema.fields if f.name != "_sq8"]
        keep = [f.name for f in fields]
        out_col = self.join_col

        def dec(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                out = pdf[keep].copy()
                out[out_col] = list(self.decode(pdf["_sq8"]).astype(np.float32))
                yield out

        schema = StructType(fields + [StructField(out_col, ArrayType(FloatType()))])
        return codes.mapInPandas(dec, schema=schema)


class IvfSq8Index(IvfBase):
    """RetrievalModel analogue for the scalar-quantized tier."""

    name = "IVFSQ8"

    def __init__(
        self,
        centroids: np.ndarray,
        codes_df: DataFrame,
        mins: np.ndarray,
        maxs: np.ndarray,
        doc_vec: str = "embedding",
        path: str | None = None,
    ):
        self.centroids = centroids
        self.codes_df = codes_df
        self.mins = np.asarray(mins, dtype=np.float64)
        self.maxs = np.asarray(maxs, dtype=np.float64)
        self.doc_vec = doc_vec
        self.path = path

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
    ) -> "IvfSq8Index":
        sout: dict = {}
        centroids = _train_centroids(
            docs, doc_vec, ncentroids, sample_size, seed, sample_out=sout
        )
        dim = centroids.shape[1]
        # per-dimension bounds over the FULL relation, the SQ train
        # step (faiss trains the same bounds from its sample). When the
        # centroid-training collection provably holds every row (small
        # relation, no sampling applied), min/max over that matrix is
        # the identical full-table statistic — skip the second
        # aggregation pass (guide §1.2); otherwise run the ONE
        # 2·d map-side-combinable min/max agg pass as before.
        # NaN guard: Spark's min/max order NaN as the GREATEST value
        # while numpy propagates it — only fuse when no NaN is present
        # so the two paths are bit-identical on every input.
        if sout.get("complete") and not np.isnan(sout["data"]).any():
            mins = sout["data"].min(axis=0)
            maxs = sout["data"].max(axis=0)
        else:
            aggs = [
                F.min(F.element_at(F.col(doc_vec), i + 1)).alias(f"mn{i}")
                for i in range(dim)
            ] + [
                F.max(F.element_at(F.col(doc_vec), i + 1)).alias(f"mx{i}")
                for i in range(dim)
            ]
            row = docs.agg(*aggs).collect()[0]
            mins = np.array([row[f"mn{i}"] for i in range(dim)], dtype=np.float64)
            maxs = np.array([row[f"mx{i}"] for i in range(dim)], dtype=np.float64)

        assigned = assign_clusters(docs, centroids, doc_vec)
        codes = cls._encode(assigned, doc_vec, mins, maxs)
        if path:
            codes = _write_index(
                codes, path, "codes",
                {"centroids": centroids, "bounds": np.stack([mins, maxs])},
                {"model": cls.name, "ncentroids": len(centroids), "doc_vec": doc_vec},
            )
        return cls(centroids, codes, mins, maxs, doc_vec, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfSq8Index":
        centroids = np.load(os.path.join(path, "centroids.npy"))
        bounds = np.load(os.path.join(path, "bounds.npy"))
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        return cls(
            centroids,
            spark.read.parquet(os.path.join(path, "codes")),
            bounds[0], bounds[1], meta["doc_vec"], path,
        )

    # -- codec -----------------------------------------------------------

    @staticmethod
    def _encode(assigned: DataFrame, doc_vec: str, mins, maxs) -> DataFrame:
        """Replace the float vector column with d uint8 bytes/row."""
        from pyspark.sql.types import BinaryType, StructField, StructType

        mins64 = np.asarray(mins, dtype=np.float64)
        span = np.maximum(np.asarray(maxs, dtype=np.float64) - mins64, 1e-30)

        fields = [f for f in assigned.schema.fields if f.name != doc_vec]
        out_schema = StructType(fields + [StructField("_sq8", BinaryType())])
        keep = [f.name for f in fields]

        def enc(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                M = stack_vectors(
                    pdf[doc_vec].to_numpy(), "SQ8 encode (docs)"
                ).astype(np.float64)
                q = np.clip(
                    np.rint((M - mins64) / span * 255.0), 0, 255
                ).astype(np.uint8)
                out = pdf[keep].copy()
                out["_sq8"] = [r.tobytes() for r in q]
                yield out

        return assigned.mapInPandas(enc, schema=out_schema)

    # -- search ----------------------------------------------------------

    def search(
        self,
        docs: DataFrame | None,  # raw vectors for the optional rerank
        queries: DataFrame,
        k: int = 10,
        metric: str = "IP",
        doc_vec: str | None = None,
        nprobe: int = DEFAULT_NPROBE,
        recall_num: int | None = None,
        has_rank: bool = False,
        predicate: Column | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        l2_sqrt: bool = False,
        query_id: str = "qid",
        query_vec: str = "qvec",
        **kw,
    ) -> DataFrame:
        """The skeleton's request path with :class:`Sq8Scorer`: on the
        scan strategy (large batches) the probed CODES bytes go straight
        into the kernel, which dequantizes at scoring (one Python pass
        over 1-byte/dim rows — guide §4); the small-batch Catalyst join
        strategy decodes the probed lists first (it scores with an
        expression, bit-reproducible vs the oracle). ``kw``: the
        IVFFLAT ``strategy``/``probe_vec`` knobs.

        ``has_rank`` (R6, needs ``docs``): keep ``recall_num``
        dequantized-score candidates, rescore them exactly against the
        raw vectors and re-select top-k — with full probes and
        recall_num = N this degenerates to exact brute force
        bit-for-bit, the oracle configuration; at practical settings it
        erases the quantization recall loss for the price of a k-scale
        join. Score bands then apply to the exact reranked scores,
        matching gamma (`index/impl/gamma_index_ivfpq.cc:668,689`)."""
        rank = has_rank and docs is not None
        tail: dict = dict(band=(min_score, max_score))
        if rank:
            tail = dict(
                pool=max(recall_num or max(4 * k, 64), k),
                rerank=dict(
                    docs=docs, doc_vec=doc_vec or self.doc_vec, l2_sqrt=l2_sqrt,
                    min_score=min_score, max_score=max_score,
                ),
            )
        return self._search_request(
            self.codes_df, queries, Sq8Scorer(self, metric, l2_sqrt and not rank),
            k, nprobe, predicate, query_id=query_id, query_vec=query_vec,
            **tail, **kw,
        )

    # -- corpus-scale join (queries relation of any size) ----------------

    def knn_join_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str = "L2",
        nprobe: int = DEFAULT_NPROBE,
        rescore_docs: DataFrame | None = None,
        recall_num: int | None = None,
        l2_sqrt: bool = False,
        **kw,
    ) -> DataFrame:
        """Corpus x corpus kNN join for the compressed tier: the
        skeleton's distributed path, code-native — the doc side
        shuffles the 1-byte/dim ``_sq8`` codes and the per-cluster
        kernel dequantizes at scoring, so the exchange carries a
        quarter of the float bytes and the decode costs no extra Python
        pass (guide §2.3/§4). ``kw``: the IVFFLAT join's predicate,
        query columns, salts, score band and hierarchical-probe knobs.
        Scores are dequantized-exact by default; pass ``rescore_docs``
        (the raw vector relation) to keep ``recall_num`` candidates per
        query and rescore them on the true floats — with full probes and
        recall_num = N that degenerates to exact brute force
        bit-for-bit (the IVFPQ join's contract)."""
        metric_u = metric.upper()
        if metric_u not in FLOAT_METRICS or kw.pop("rescore", False):
            # the codes are dequantized floats: no HAMMING; an exact
            # rescore goes through rescore_docs
            raise ValueError(
                "IVFSQ8 knn_join_distributed scores IP/L2/COSINE on the "
                "codes; use rescore_docs for an exact rescore"
            )
        band = (kw.pop("min_score", None), kw.pop("max_score", None))
        tail: dict = {}
        if rescore_docs is not None:
            tail = dict(
                pool=max(recall_num or max(4 * k, 64), k),
                rerank=dict(docs=rescore_docs, doc_vec=self.doc_vec, l2_sqrt=l2_sqrt),
            )
        return self._join_distributed(
            self.codes_df, queries, Sq8Scorer(self, metric_u, l2_sqrt), k,
            nprobe, band=band, **tail, **kw,
        )
