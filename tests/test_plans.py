"""Physical-plan audits: the scale properties we rely on must be
visible in the optimized plan, not just assumed (SURVEY §4).

These parse `.explain("formatted")` output for structural markers:
- predicate pushdown into the parquet scan (gamma F1's replacement)
- broadcast of the query/dimension side (never shuffle the big side)
- map-side WindowGroupLimit before the exchange for window top-k
- partition-prune-able isin filter on the IVF index scan
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from gamma_spark.operators import knn


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(embeddings):
    return embeddings.withColumnRenamed("vec_id", "_docid")


@pytest.fixture(scope="module")
def queries(spark, docs):
    rows = docs.orderBy("_docid").limit(4).collect()
    return spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )


def test_knn_pushes_filter_and_broadcasts(docs, queries):
    plan = plan_of(
        knn.knn_join(docs, queries, k=5, metric="IP", predicate=F.col("label") == 1)
    )
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,1)]" in plan
    assert "BroadcastExchange" in plan
    # map-side partial top-k before the shuffle (Spark 3.5+ WindowGroupLimit)
    assert "WindowGroupLimit" in plan
    exchange_pos = plan.index("Exchange")
    assert plan.index("WindowGroupLimit") < exchange_pos or plan.count("WindowGroupLimit") >= 2


def test_filter_only_projection_pruning(documents):
    from gamma_spark import filters as GF

    docs = documents.withColumn("_docid", F.col("doc_id"))
    fs = [GF.TermFilter("lang", ("en",), GF.TERM_OR)]
    plan = plan_of(GF.filter_only_query(docs, fs, topn=5).select("doc_id", "total"))
    # the total-count branch must column-prune: no text column read
    assert "PushedFilters" in plan
    assert "In(lang" in plan or "EqualTo(lang,en)" in plan


def test_ivf_prunes_clusters(spark, docs, queries):
    from gamma_spark.operators.ivf import IvfFlatIndex

    idx = IvfFlatIndex.build(docs, ncentroids=8, seed=42)
    res = idx.search(None, queries, k=5, metric="L2", nprobe=2, strategy="join")
    plan = plan_of(res)
    # the probed-cluster isin restriction must reach the scan/filter
    assert "cluster_id" in plan
    assert plan.count("BroadcastExchange") >= 1


def test_planner_brute_path_uses_scan_kernel_for_large_batches(spark, docs):
    """search() without an index must auto-switch to the mapInPandas
    scan kernel past SCAN_STRATEGY_MIN_Q queries (VERDICT r2 #7) while
    small oracle-sized batches keep the bit-reproducible join kernel."""
    from gamma_spark.plans.search import SearchRequest, VectorQuery, search

    rows = docs.orderBy("_docid").limit(32).collect()
    big = spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )
    small = big.limit(4)
    plan_big = plan_of(
        search(docs, SearchRequest(vector_queries=[VectorQuery("embedding", big, "L2")], topn=5))
    )
    assert "MapInPandas" in plan_big, plan_big
    plan_small = plan_of(
        search(docs, SearchRequest(vector_queries=[VectorQuery("embedding", small, "L2")], topn=5))
    )
    assert "MapInPandas" not in plan_small


def test_knn_join_distributed_plan_shape(spark, docs):
    """The corpus-scale kNN join must be: probe as MapInPandas (no
    driver collect of queries), ONE cogroup on cluster_id, and a
    map-side WindowGroupLimit before the final top-k exchange."""
    from gamma_spark.operators.ivf import IvfFlatIndex

    idx = IvfFlatIndex.build(docs, ncentroids=8, seed=42)
    q = docs.select(F.col("_docid").alias("qid"), F.col("embedding").alias("qvec"))
    plan = plan_of(idx.knn_join_distributed(q, k=5, metric="L2", nprobe=2))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "MapInPandas" in plan  # executor-side probe
    assert "WindowGroupLimit" in plan


def test_planner_routes_distributed_param(spark, docs):
    """retrieval_params={'distributed': True} dispatches the index to
    knn_join_distributed (cogroup plan, no query collect); an F8 score
    band threads into the scan kernel (pre-top-k) and, at full probes
    with rescore, equals the exact banded kernel (VERDICT r3 #2)."""
    from gamma_spark.operators import knn
    from gamma_spark.operators.ivf import IvfFlatIndex
    from gamma_spark.plans.search import SearchRequest, VectorQuery, search

    idx = IvfFlatIndex.build(docs, ncentroids=8, seed=42)
    q = docs.select(F.col("_docid").alias("qid"), F.col("embedding").alias("qvec"))
    req = SearchRequest(
        vector_queries=[
            VectorQuery("embedding", q, "L2", retrieval_params={"distributed": True, "nprobe": 2})
        ],
        topn=5,
    )
    plan = plan_of(search(docs, req, index=idx))
    assert "FlatMapCoGroupsInPandas" in plan
    # band chosen from the exact score distribution so it prunes ~half
    # of the would-be hits (a trivially-empty band proves nothing)
    probe_scores = sorted(
        r.score for r in knn.knn_join(docs, q.limit(6), k=5, metric="L2").collect()
    )
    # midpoints between adjacent scores: no doc sits ON the boundary, so
    # kernel (BLAS) vs oracle (in-order) ulp differences can't flip
    # membership
    m = len(probe_scores) // 2
    lo = (probe_scores[1] + probe_scores[2]) / 2
    hi = (probe_scores[m] + probe_scores[m + 1]) / 2
    banded = SearchRequest(
        vector_queries=[
            VectorQuery(
                "embedding", q.limit(6), "L2", min_score=lo, max_score=hi,
                retrieval_params={
                    "distributed": True,
                    "nprobe": len(idx.centroids),
                    "rescore": True,
                },
            )
        ],
        topn=5,
    )
    got = search(docs, banded, index=idx)
    want = knn.knn_join(docs, q.limit(6), k=5, metric="L2", min_score=lo, max_score=hi)
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert len(g) > 0 and g == w


def test_broadcast_join_for_dims(spark, sf_dir):
    import __spark_entry__ as E

    plan = plan_of(E.q_top_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_staged_dedup_self_join_reuses_cache(documents):
    """The banded simhash self-join must read the staged signature
    relation (InMemoryTableScan on BOTH sides) instead of recomputing
    the token-explode aggregation per side, and must carry no distinct
    over the pair relation (exactly-once emission via the
    first-agreeing-block filter)."""
    from gamma_spark.operators import dedup as D

    df = D.simhash_neardup_pairs(documents, "doc_id", "text", max_distance=3)
    plan = plan_of(df)
    assert plan.count("InMemoryTableScan") >= 2
    # one HashAggregate chain for the signature build (inside the cached
    # plan), none for a pair-level distinct
    post_join = plan.split("Join")[-1]
    assert "HashAggregate" not in post_join


def test_sampling_gate_is_scan_stage_filter(documents):
    """The hash gate must be a plain Filter over the scan — no
    Exchange, no Python eval, no window — so a 1% sample costs one
    narrow map stage."""
    from gamma_spark.operators import sampling as S

    plan = plan_of(S.deterministic_sample(documents, "doc_id", 0.1))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF — pure expression
    assert "Filter" in plan


def test_pack_contiguous_no_global_window(documents):
    """The big relation must only see a BUCKET-partitioned window; the
    only unpartitioned window runs over the tiny per-bucket totals
    (its input is an aggregated relation, visible as an upstream
    HashAggregate), never over the corpus."""
    from gamma_spark.functions.text import bpe_token_count
    from gamma_spark.operators import packing as P

    toks = documents.select("doc_id", bpe_token_count("text").alias("n_tokens"))
    plan = plan_of(P.pack_contiguous(toks, "doc_id", "n_tokens", 256))
    # the corpus-side window is partitioned by the bucket column
    assert "_pk_bucket" in plan
    # the bucket-offset side reaches its (single-partition) window only
    # after a full aggregation collapsed it to #buckets rows
    assert "HashAggregate" in plan
    # and the offsets come back via broadcast, not a shuffled join
    assert "BroadcastExchange" in plan


def test_search_request_hybrid_text_vector(spark, docs, queries, documents):
    """Hybrid request: one vector leg + one BM25 leg over the shared
    doc_id/vec_id key space, fused by RRF; filters pre-filter BOTH
    systems (F6 AND BM25 AND kNN)."""
    from gamma_spark.plans.search import (
        SearchRequest, TextQuery, VectorQuery, search,
    )

    hdocs = docs.join(
        documents.select(F.col("doc_id").alias("_docid"), "text"), "_docid"
    )
    qt = documents.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("qid"),
        F.explode(F.slice(F.split("text", " "), 1, 3)).alias("term"),
    ).distinct()
    req = SearchRequest(
        vector_queries=[
            VectorQuery(field="embedding", queries=queries, metric="L2")
        ],
        text_queries=[TextQuery(query_terms=qt)],
        topn=5,
        fusion_pool=20,
    )
    out = search(hdocs, req)
    rows = out.collect()
    assert {r.qid for r in rows} <= {0, 1, 2, 3}
    assert all(1 <= r.rank <= 5 for r in rows)
    # the vector leg's own best hit (qid == _docid, distance 0) should
    # survive fusion for every query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, set()).add(r._docid)
    for q, got in by_q.items():
        assert q in got

    # filtered hybrid: a predicate must constrain both systems
    req2 = SearchRequest(
        vector_queries=[
            VectorQuery(field="embedding", queries=queries, metric="L2")
        ],
        text_queries=[TextQuery(query_terms=qt)],
        topn=5,
    )
    out2 = search(hdocs, req2, extra_predicate=F.col("_docid") >= 100)
    assert all(r._docid >= 100 for r in out2.collect())


def test_search_request_text_only(spark, documents):
    """Lexical-only request goes through the planner (no vector leg)."""
    from gamma_spark.plans.search import SearchRequest, TextQuery, search

    hdocs = documents.select(F.col("doc_id").alias("_docid"), "text")
    qt = documents.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("qid"),
        F.explode(F.slice(F.split("text", " "), 1, 3)).alias("term"),
    ).distinct()
    out = search(hdocs, SearchRequest(text_queries=[TextQuery(query_terms=qt)], topn=3))
    rows = out.collect()
    assert 0 < len(rows) <= 3
    assert all(r.rank <= 3 for r in rows)


def test_stage_level_env_knob(spark, documents, monkeypatch):
    """SPARK_GRAFT_STAGE_LEVEL redirects staged intermediates to the
    named StorageLevel (the pipeline rehearsal sets DISK_ONLY so 4M+
    single-JVM chains never compete with execution memory); default
    stays MEMORY_AND_DISK."""
    from pyspark.storagelevel import StorageLevel

    from gamma_spark.session import stage

    monkeypatch.delenv("SPARK_GRAFT_STAGE_LEVEL", raising=False)
    df = stage(documents.select("doc_id"))
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    df.unpersist()
    monkeypatch.setenv("SPARK_GRAFT_STAGE_LEVEL", "DISK_ONLY")
    df2 = stage(documents.select("doc_id", "lang"))
    assert df2.storageLevel == StorageLevel.DISK_ONLY
    df2.unpersist()
    monkeypatch.setenv("SPARK_GRAFT_STAGE_LEVEL", "NOT_A_LEVEL")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SPARK_GRAFT_STAGE_LEVEL"):
        stage(documents.select("doc_id"))


def test_stage_scope_releases_persists(spark, documents):
    """r8 soak regression: staged intermediates created inside a
    stage_scope (including ones nested in operators like
    minhash_verified_pairs) are unpersisted at scope exit, so a
    streaming handler calling staged operators per micro-batch keeps
    the persistent-RDD count FLAT instead of pinning +3-4 per batch
    until the heap OOMs."""
    from gamma_spark.operators.dedup import minhash_verified_pairs
    from gamma_spark.session import stage, stage_scope

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    base = int(jsc.getPersistentRDDs().size())
    small = documents.select("doc_id", "text").orderBy("doc_id").limit(60)
    with stage_scope():
        pairs = minhash_verified_pairs(small, "doc_id", "text", threshold=0.5)
        pairs.count()  # materialize while the stages are alive
        assert int(jsc.getPersistentRDDs().size()) > base
    assert int(jsc.getPersistentRDDs().size()) == base

    # nesting: the inner scope releases only its own persists
    with stage_scope():
        outer = stage(small.select("doc_id"))
        outer.count()
        mid = int(jsc.getPersistentRDDs().size())
        with stage_scope():
            inner = stage(small.select("text"))
            inner.count()
            assert int(jsc.getPersistentRDDs().size()) > mid
        assert int(jsc.getPersistentRDDs().size()) == mid
    assert int(jsc.getPersistentRDDs().size()) == base


def test_canary_legs_are_frozen():
    """The bench canary's cross-round normalization is only valid while
    the r7 probe workloads stay byte-identical — editing them silently
    breaks every future shared_prev_total_norm. Pin their source hashes
    (if a change is ever truly intended, mint a NEW leg like r8's
    canary2 instead of editing these)."""
    import hashlib
    import inspect

    import bench

    frozen = {
        "_canary_jvm": "03c1b7956fcf61a7",
        "_canary_arrow": "3e5a42de5a4ef2f2",
    }
    for name, want in frozen.items():
        src = inspect.getsource(getattr(bench, name)).encode()
        got = hashlib.sha256(src).hexdigest()[:16]
        assert got == want, (
            f"{name} changed (hash {got} != frozen {want}) — the r7 "
            "canary legs must never be edited; add a new leg instead"
        )


# ---------------------------------------------------------------------------
# r9 review fixes: request-surface consistency of the planner
# ---------------------------------------------------------------------------

def test_filter_only_honors_extra_predicate_and_fields(spark, docs):
    """F9 through search(): extra_predicate must constrain the rows AND
    the total, and the field projection must apply (the old early
    return dropped both)."""
    from gamma_spark.plans.search import SearchRequest, search

    req = SearchRequest(filters=[], topn=5, fields=["label"])
    out = search(docs, req, extra_predicate=F.col("label") == 1).collect()
    assert out, "predicate admits rows"
    assert all(r.label == 1 for r in out)
    n_label1 = docs.filter(F.col("label") == 1).count()
    assert all(r.total == n_label1 for r in out)


def test_filter_only_masks_deleted(spark, docs):
    """F7 on the filter-only path: tombstoned docs neither surface nor
    count toward total when the raw relation carries _deleted."""
    from gamma_spark.filters import filter_only_query

    raw = docs.withColumn("_deleted", F.col("_docid") < 3)
    out = filter_only_query(raw, [], topn=4)
    rows = out.collect()
    live = docs.count() - 3
    assert [r._docid for r in rows] == [3, 4, 5, 6]
    assert all(r.total == live for r in rows)


def test_hybrid_with_docid_order_fusion(spark, docs):
    """multi_vector_rank=False (gamma's docid-order mode) used to crash
    hybrid requests: fuse() emits no rank column and rrf_fuse requires
    one. The planner now ranks the fused pool as RRF input."""
    from gamma_spark.plans.search import (
        SearchRequest,
        TextQuery,
        VectorQuery,
        search,
    )

    two_vec = docs.withColumn("embedding2", F.col("embedding")).withColumn(
        "text",
        F.when(F.col("_docid") % 2 == 0, F.lit("alpha doc common"))
        .otherwise(F.lit("beta doc common")),
    )
    rows = two_vec.orderBy("_docid").limit(2).collect()
    queries = spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )
    terms = spark.createDataFrame(
        [(int(rows[0]._docid), "alpha"), (int(rows[1]._docid), "beta")],
        "qid long, term string",
    )
    req = SearchRequest(
        vector_queries=[
            VectorQuery(field="embedding", queries=queries, metric="L2"),
            VectorQuery(field="embedding2", queries=queries, metric="L2"),
        ],
        text_queries=[TextQuery(query_terms=terms, text_field="text")],
        topn=5,
        multi_vector_rank=False,
    )
    out = search(two_vec, req).collect()
    assert out, "hybrid docid-order request returns fused rows"
    assert {c for c in ("qid", "_docid", "score", "rank")} <= set(out[0].asDict())


def test_brute_hamming_large_batch_routes_to_join(spark, docs):
    """r9 review fix: the brute chooser picked the kernel purely by
    query count — a HAMMING request with >16 queries crashed in
    knn_scan (no HAMMING branch). Non-float metrics always take the
    join kernel."""
    from gamma_spark.functions import vector as V
    from gamma_spark.plans.search import SearchRequest, VectorQuery, search

    sigs = docs.select(
        "_docid", V.sign_bits("embedding").alias("sig")
    ).withColumn("sig", F.col("sig"))
    rows = docs.orderBy("_docid").limit(20).collect()
    queries = spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )
    qsig = queries.select(
        "qid", V.sign_bits("qvec").alias("qvec")
    )
    req = SearchRequest(
        vector_queries=[VectorQuery(field="sig", queries=qsig, metric="HAMMING")],
        topn=3,
    )
    out = search(sigs, req).collect()
    assert len(out) == 3 * 20
    # self-signature distance is 0 -> every query's rank-1 score is 0
    assert all(r.score == 0 for r in out if r.rank == 1)


def test_scan_rejects_probe_vec_float_metric(spark, docs, queries):
    """r9 review fix: probe_vec + float metric would silently score the
    PROBE column on the scan path; 'auto' now routes to join, explicit
    'scan' raises."""
    from gamma_spark.operators.ivf import IvfFlatIndex

    idx = IvfFlatIndex.build(
        docs.withColumn("pv", F.col("embedding")), ncentroids=8, seed=1
    )
    q = queries.withColumn("pvq", F.col("qvec"))
    with pytest.raises(ValueError, match="probe_vec"):
        idx.search(None, q, k=3, metric="L2", strategy="scan", probe_vec="pvq")
    # auto silently takes the join path and scores the QUERY vectors
    out = idx.search(None, q, k=3, metric="L2", nprobe=8, probe_vec="pvq").collect()
    top1 = {r.qid: r._docid for r in out if r.rank == 1}
    assert all(q_ == d for q_, d in top1.items())


def test_term_postings_tokenizes_below_the_generate(documents):
    """r11 §14: with size(toks) and explode(toks) in one select,
    Catalyst pulls ``size(split(text))`` into the Project ABOVE the
    Generate — re-splitting the document once per exploded token row,
    O(len²) per doc (measured 3.9x on the sf0.1 postings build). The
    staged shape must keep every split() below the Generate: the node
    directly above it may not re-tokenize."""
    from gamma_spark.operators.retrieval import term_postings

    plan = plan_of(term_postings(documents))
    tree = plan.split("\n\n")[0].split("\n")
    import re

    nodes = {}
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) (\w+)", block.strip())
        if m:
            nodes[int(m.group(1))] = block
    gen_seen = 0
    for i, ln in enumerate(tree):
        mg = re.search(r"Generate \((\d+)\)", ln)
        if not mg:
            continue
        gen_seen += 1
        # ADVICE r11: sweep EVERY node strictly above the Generate, not
        # just tree[i-1] — a Filter/Project inserted between would have
        # hidden a reintroduced re-tokenization; and guard the (never
        # expected) Generate-as-root shape instead of wrapping to
        # tree[-1].
        assert i > 0, "Generate is the tree root — staged projection lost"
        for anc in tree[:i]:
            mp = re.search(r"(\w+) \((\d+)\)", anc)
            if mp is None:
                continue
            above = nodes.get(int(mp.group(2)), "")
            assert "split(" not in above, (
                "term_postings re-tokenizes above the Generate "
                f"(node {mp.group(2)}):\n{above}"
            )
    assert gen_seen == 1  # exactly one explode in the postings build


#: Spark jobs one serve-shaped request (IVFPQ + exact rerank + range
#: filter + field projection) runs under the test's job group. An added
#: driver round trip fails here instead of hiding in benchmark noise.
SERVE_REQUEST_JOBS = 8


def test_serve_shaped_request_job_budget(spark, docs):
    from gamma_spark.filters import RangeFilter
    from gamma_spark.operators.pq import IvfPqIndex
    from gamma_spark.plans.search import SearchRequest, VectorQuery, search

    idx = IvfPqIndex.build(docs, ncentroids=8, nsubvector=8, seed=42)
    rows = docs.orderBy("_docid").limit(20).collect()
    queries = spark.createDataFrame(
        [(int(r._docid), [float(x) for x in r.embedding]) for r in rows],
        "qid long, qvec array<float>",
    )
    request = SearchRequest(
        vector_queries=[VectorQuery(
            "embedding", queries, "L2",
            retrieval_params={"nprobe": 4, "has_rank": True})],
        filters=[RangeFilter("label", 0, 1)],
        topn=5, fields=["label"],
    )
    sc = spark.sparkContext
    group = "test-serve-shaped-request-job-budget"
    sc.setJobGroup(group, "serve-shaped request")
    try:
        hits = search(docs, request, index=idx).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert hits and all(0 <= r.label <= 1 for r in hits)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == SERVE_REQUEST_JOBS
