"""The Search planner — gamma's one query operator as a DataFrame plan
(SURVEY §3.1).

A gamma ``Request`` (`idl/fbs/request.fbs:27-40`) = {N query vectors
over one or more vector fields, topn, range/term filters, ranking
flags}. The lifecycle it drives (`search/gamma_engine.cc:299-457`):

    filters -> bitmap          => docs.filter(pred)   [pre-filter, O1]
    empty bitmap -> early out  => AQE empty-relation propagation
    per-field ANN search       => index.search(...) per VectorQuery
    vid->docid collapse (R1)   => groupBy(qid,_docid).agg(best score)
    multi-vector fusion (R2-4) => inner join on (qid,_docid) + Σ boost·s
    top-k (R5)                 => window row_number <= k
    projection (P1)            => join hits back to docs, select fields

``search()`` builds exactly that plan. The ``index`` argument is any
object implementing the retrieval-model protocol (SURVEY §2.8) — the
registry in :mod:`gamma_spark.operators.ann` supplies FLAT / IVFFLAT /
IVFPQ / BINARYIVF, mirroring gamma's REGISTER_MODEL reflection factory
(`index/impl/gamma_index_flat.cc:28`).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gamma_spark import filters as GF
from gamma_spark.operators import knn
from gamma_spark.operators.fusion import fuse
from gamma_spark.operators.knn import SCAN_STRATEGY_MIN_Q

#: the metadata-only size estimate cannot see filter selectivity (no
#: CBO), so it can overestimate a small filtered batch by the parent
#: table's size. Only trust it when it is confidently huge — then the
#: scan kernel is the right choice regardless of the true count and no
#: job runs at plan time; in the ambiguous band a limit-bounded count
#: (a few rows) decides, keeping oracle-sized batches on the
#: bit-reproducible join kernel.
SCAN_ESTIMATE_CONFIDENT = 4096


@dataclass
class VectorQuery:
    """One per-field query spec (`idl/fbs/request.fbs:17-25`).

    ``retrieval_params`` mirrors the per-request JSON knobs the
    reference parses per model (`index/impl/gamma_index_ivfpq.cc:
    222-270`): e.g. {"nprobe": 8, "recall_num": 100, "has_rank": True,
    "brute_force_search": 1}. ``brute_force_search`` (or a missing/
    untrained index) forces the exact FLAT path — gamma's fallback
    guard (`search/gamma_engine.cc:329-340`, SURVEY O7)."""

    field: str  # docs vector column
    queries: DataFrame  # (qid, qvec)
    metric: str = "IP"
    boost: float = 1.0
    min_score: float | None = None
    max_score: float | None = None
    retrieval_params: dict = dc_field(default_factory=dict)


@dataclass
class TextQuery:
    """One lexical (BM25) query leg — beyond-reference capability
    (gamma's TermFilter is a hard predicate, never a scorer; SURVEY
    §2.3). ``query_terms`` is a (qid, term) relation, broadcast-sized
    by construction. ``champions`` enables impact-ordered per-term
    pruning for stop-word-heavy workloads (the lexical analogue of an
    IVF nprobe)."""

    query_terms: DataFrame  # (qid, term)
    text_field: str = "text"
    k1: float = 1.2
    b: float = 0.75
    champions: int | None = None
    #: df floor below which terms keep complete lists under champion
    #: pruning (None = the corpus-relative default; see bm25_search)
    champion_df_floor: int | None = None


@dataclass
class SearchRequest:
    """Request analogue: filters AND'd, one or more vector queries."""

    vector_queries: list[VectorQuery] = dc_field(default_factory=list)
    #: lexical legs; combined with the vector legs by reciprocal-rank
    #: fusion (union semantics across *systems*, unlike R2's
    #: intersection across *vector fields*)
    text_queries: list = dc_field(default_factory=list)
    #: per-system candidate-pool size before RRF (defaults to topn)
    fusion_pool: int | None = None
    filters: list = dc_field(default_factory=list)
    topn: int = 10
    fields: list[str] | None = None  # projection (P1)
    l2_sqrt: bool = False
    multi_vector_rank: bool = True
    #: R8 parity — SearchResult.total is the number of docs surviving
    #: the filters, NOT min(topn, ...) (`search/gamma_engine.cc:448-449`);
    #: attached as a constant ``total`` column on every result row.
    with_total: bool = False
    #: R8 parity — gamma packs each hit's stored fields as an opaque
    #: per-doc blob (`c_api/api_data/gamma_response.cc:215-260`); our
    #: analogue is a deterministic JSON string column ``_source`` over
    #: the named fields.
    source_fields: list[str] | None = None


def _project_fields(result: DataFrame, docs: DataFrame, request) -> DataFrame:
    """P1/R8 projection tail shared by the vector/hybrid and
    filter-only paths: named fields joined back from docs, plus the
    ``_source`` JSON blob over ``source_fields``."""
    if request.fields or request.source_fields:
        # any engine-side column already on the result (_docid the join
        # key, but also total/score/rank/qid depending on path) must
        # not be re-projected from docs — it would leave two
        # identically named columns (ADVICE r10: the r10 fix excluded
        # only '_docid', so fields=['total'] still hit
        # AMBIGUOUS_REFERENCE on the filter-only path)
        present = set(result.columns)
        # a requested name that is BOTH an engine column and a stored
        # doc column is genuinely ambiguous in a flat-column result —
        # silently substituting the engine value (the first r11 shape
        # of this fix) returns wrong data; raise with the remediation
        # instead. `_docid` is exempt: the engine value IS the doc
        # value. Engine-only names (e.g. fields=["total"] on a table
        # with no `total` column) pass through to the engine column —
        # the only thing that name can mean.
        ambiguous = sorted(
            c
            for c in (request.fields or [])
            if c in present and c != "_docid" and c in docs.columns
        )
        if ambiguous:
            raise ValueError(
                f"requested fields {ambiguous} are stored doc columns that "
                f"collide with engine result columns; rename the doc column "
                f"or fetch it through source_fields (the _source JSON blob)"
            )
        cols = [F.col(c) for c in (request.fields or []) if c not in present]
        if request.source_fields:
            cols.append(
                F.to_json(F.struct(*request.source_fields)).alias("_source")
            )
        proj = docs.select("_docid", *cols)
        result = result.join(proj, on="_docid", how="inner")
    return result


def search(
    docs: DataFrame,
    request: SearchRequest,
    index=None,
    extra_predicate: Column | None = None,
) -> DataFrame:
    """Execute a SearchRequest against a docs relation.

    ``index=None`` (or an untrained index) uses the exact FLAT path —
    gamma's brute_force_search fallback (`gamma_engine.cc:329-340`).
    Returns (qid, _docid, score, rank, *projected fields).
    """
    # F7: every reader masks the tombstone column (table.py contract).
    # GammaTable.search already feeds the masked live view; this guard
    # covers direct planner calls on raw relations — without it the
    # BM25 leg and the `total` count would see docs the vector kernels
    # (which mask defensively, knn.py) exclude: one request returning
    # internally inconsistent results.
    if "_deleted" in docs.columns:
        docs = docs.filter(~F.col("_deleted"))

    pred = GF.combine(request.filters, docs)
    if extra_predicate is not None:
        pred = extra_predicate if pred is None else (pred & extra_predicate)

    if not request.vector_queries and not request.text_queries:
        # F9 — but through the same request surface as every other
        # path: extra_predicate applies (it is part of `pred`, not of
        # request.filters) and the field projection applies. `total`
        # stays unconditional on this path: it IS part of the F9
        # contract (`search/gamma_engine.cc:448-449`).
        result = GF.filter_only_query(
            docs, request.filters, request.topn, extra_predicate=extra_predicate
        )
        if request.fields or request.source_fields:
            # filter_only_query returns FULL doc rows (+ total); joining
            # the projection onto them would duplicate every requested
            # column name (AMBIGUOUS_REFERENCE downstream) — narrow to
            # the engine columns first, then project like every other
            # path. Without a projection the full-row result IS the F9
            # contract (gamma returns whole docs, `gamma_engine.cc:
            # 405-457`), so it passes through untouched.
            result = result.select("_docid", "total")
            result = _project_fields(result, docs, request)
        return result

    # hybrid requests retrieve a per-system pool, then RRF down to topn
    pool = (
        request.fusion_pool or request.topn
        if request.text_queries
        else request.topn
    )

    per_field = []
    for vq in request.vector_queries:
        params = dict(vq.retrieval_params)
        brute = bool(params.pop("brute_force_search", False))
        distributed = bool(params.pop("distributed", False))
        if distributed and index is not None and not brute:
            # corpus-scale path: the queries relation is never collected
            # (ivf.knn_join_distributed / pq counterpart); the F8 band
            # is threaded into the scan kernels (pre-top-k, SURVEY O1)
            hits = index.knn_join_distributed(
                vq.queries,
                k=pool,
                metric=vq.metric,
                predicate=pred,
                min_score=vq.min_score,
                max_score=vq.max_score,
                l2_sqrt=request.l2_sqrt,
                **params,
            )
        elif index is not None and not brute:
            hits = index.search(
                docs,
                vq.queries,
                k=pool,
                metric=vq.metric,
                doc_vec=vq.field,
                predicate=pred,
                min_score=vq.min_score,
                max_score=vq.max_score,
                l2_sqrt=request.l2_sqrt,
                **params,
            )
        else:
            # brute path strategy (SURVEY O7/O8): the join kernel is the
            # bit-reproducible small-batch path; at larger batches the
            # scan kernel wins (k·Q rows/partition instead of |docs|·Q
            # through the window). The chooser reads the optimizer's
            # row/size stats — zero Spark jobs during plan building
            # (VERDICT r3 #5); only a stat-less relation falls back to a
            # limit-bounded count.
            from gamma_spark.operators.ivf import _estimate_rows

            nq = _estimate_rows(vq.queries, "qvec", probe=False)
            if nq is None or nq <= SCAN_ESTIMATE_CONFIDENT:
                nq = vq.queries.limit(SCAN_STRATEGY_MIN_Q + 1).count()
            # the scan kernel has no HAMMING branch — non-float metrics
            # always take the join kernel regardless of batch size (the
            # same routing rule as the IVF request path's 'auto')
            kernel = (
                knn.knn_scan
                if nq > SCAN_STRATEGY_MIN_Q
                and vq.metric.upper() in ("IP", "L2", "COSINE")
                else knn.knn_join
            )
            hits = kernel(
                docs,
                vq.queries,
                k=pool,
                metric=vq.metric,
                doc_vec=vq.field,
                predicate=pred,
                min_score=vq.min_score,
                max_score=vq.max_score,
                l2_sqrt=request.l2_sqrt,
            )
        per_field.append(hits)

    if not per_field:
        result = None
    elif len(per_field) == 1:
        result = per_field[0]
    else:
        # the fused score is Σ boost_i·score_i, so its ordering direction
        # is only defined when every leg's metric orders the same way —
        # gamma's multi_vector_rank comparator likewise assumes one
        # request-wide direction (`vector/vector_manager.cc:15-21`).
        # Rejecting mixed directions here also keeps the RRF rank
        # backfill below honest (it ranks the fused pool by the first
        # leg's direction).
        from gamma_spark.functions.vector import metric_ascending as _asc

        dirs = {_asc(vq.metric) for vq in request.vector_queries}
        if len(dirs) > 1:
            raise ValueError(
                "multi-vector fusion requires every VectorQuery metric "
                "to share an ordering direction (IP/COSINE descend, "
                "L2 ascends); got "
                f"{[vq.metric for vq in request.vector_queries]}"
            )
        result = fuse(
            per_field,
            boosts=[vq.boost for vq in request.vector_queries],
            metric=request.vector_queries[0].metric,
            k=pool,
            rank=request.multi_vector_rank,
        )

    if request.text_queries:
        # lexical legs score the SAME filtered relation (F6 ∧ BM25 —
        # pre-filter semantics, like the vector kernels), then the
        # fused vector ranking and each lexical ranking meet as
        # independent systems under RRF
        from gamma_spark.operators.retrieval import bm25_search, rrf_fuse

        filtered = docs.filter(pred) if pred is not None else docs
        systems = []
        if result is not None:
            if "rank" not in result.columns:
                # multi_vector_rank=False (gamma's docid-order mode)
                # yields no rank column, but RRF is defined over ranked
                # lists — rank the fused pool by score here (metric
                # direction, smallest-docid ties) purely as RRF input
                from gamma_spark.functions.vector import metric_ascending
                from gamma_spark.operators.topk import topk as _topk

                result = _topk(
                    result, ["qid"], "score", pool,
                    ascending=metric_ascending(
                        request.vector_queries[0].metric
                    ),
                    tiebreak_cols=["_docid"],
                )
            systems.append(result)
        for tq in request.text_queries:
            systems.append(
                bm25_search(
                    filtered,
                    tq.query_terms,
                    k=pool,
                    id_col="_docid",
                    text_col=tq.text_field,
                    k1=tq.k1,
                    b=tq.b,
                    champions=tq.champions,
                    champion_df_floor=tq.champion_df_floor,
                )
            )
        if len(systems) > 1:
            result = rrf_fuse(systems, k=request.topn)
        else:
            # lexical-only request: the pool IS the result set
            result = systems[0].filter(F.col("rank") <= request.topn)

    result = _project_fields(result, docs, request)
    if request.with_total:
        # one column-pruned, predicate-pushed aggregate over the
        # filtered scan, broadcast onto every row (filters.py:146 trick)
        matches = docs.filter(pred) if pred is not None else docs
        total = matches.select(F.count(F.lit(1)).alias("total"))
        result = result.crossJoin(F.broadcast(total))
    return result
