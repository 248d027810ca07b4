"""Property-based checks (hypothesis): filter semantics vs DuckDB on
random predicates, fusion/topk invariants, hash determinism.

Spark jobs are too slow per-example for full hypothesis loops, so each
property draws a small batch of examples and checks them in one Spark
action where possible."""

import duckdb
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from gamma_spark import filters as GF
from gamma_spark.functions import text as T


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return c


@settings(max_examples=12, deadline=None)
@given(
    lo=st.integers(min_value=0, max_value=600),
    span=st.integers(min_value=0, max_value=400),
    inc_lo=st.booleans(),
    inc_hi=st.booleans(),
)
def test_range_filter_matches_duckdb(documents_cached, con, lo, span, inc_lo, inc_hi):
    hi = lo + span
    f = GF.RangeFilter("n_chars", lo, hi, include_lower=inc_lo, include_upper=inc_hi)
    got = documents_cached.filter(f.to_column()).count()
    ops = (">=" if inc_lo else ">", "<=" if inc_hi else "<")
    want = con.execute(
        f"SELECT count(*) FROM documents WHERE n_chars {ops[0]} {lo} AND n_chars {ops[1]} {hi}"
    ).fetchone()[0]
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    langs=st.lists(st.sampled_from(["en", "de", "fr", "es", "zh"]), min_size=1, max_size=3, unique=True),
    negate=st.booleans(),
)
def test_term_filter_matches_duckdb(documents_cached, con, langs, negate):
    mode = GF.TERM_NOT_IN if negate else GF.TERM_OR
    f = GF.TermFilter("lang", tuple(langs), mode)
    got = documents_cached.filter(f.to_column(documents_cached)).count()
    lits = ", ".join(f"'{la}'" for la in langs)
    op = "NOT IN" if negate else "IN"
    want = con.execute(
        f"SELECT count(*) FROM documents WHERE lang {op} ({lits})"
    ).fetchone()[0]
    assert got == want


@pytest.fixture(scope="module")
def documents_cached(documents):
    df = documents.cache()
    df.count()
    return df


@settings(max_examples=20, deadline=None)
@given(s=st.text(max_size=40))
def test_hash60_pure_python_parity(s):
    """hash60 semantics are reproducible from plain md5 — the contract
    the oracle SQL twin depends on."""
    import hashlib

    want = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    got = duckdb.sql(
        "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", params=[s]
    ).fetchone()[0]
    assert got == want


def test_minhash_constants_sane():
    """Parametric family stays within BIGINT bounds under ANSI mode:
    max a * (P-1) + b must not overflow 2^63."""
    from gamma_spark.operators.dedup import MINHASH_A, MINHASH_B, N_HASHES, P

    assert len(MINHASH_A) == len(MINHASH_B) == N_HASHES
    for a, b in zip(MINHASH_A, MINHASH_B):
        assert 0 < a and 0 <= b
        assert a * (P - 1) + b < 2**63


@settings(max_examples=15, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Hash-min label propagation fixpoint == union-find ground truth on
    arbitrary random graphs (not just dup quasi-cliques)."""
    from gamma_spark.operators import groups as G

    pairs = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["group_id"] for r in G.connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    n=st.integers(30, 120),
    dim=st.integers(2, 16),
    k=st.integers(1, 8),
    ncent=st.integers(1, 6),
    salts=st.integers(1, 3),
    metric=st.sampled_from(["IP", "L2", "COSINE"]),
    seed=st.integers(0, 10_000),
)
def test_distributed_knn_join_matches_exact(spark, n, dim, k, ncent, salts, metric, seed):
    """Full-probe distributed kNN join (+rescore, any salting) must
    equal the exact broadcast-join kernel on arbitrary random corpora —
    ids, scores, and rank order."""
    import numpy as np

    from gamma_spark.operators import knn
    from gamma_spark.operators.ivf import IvfFlatIndex
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim)).astype(np.float32)
    docs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "_docid long, embedding array<float>",
    )
    idx = IvfFlatIndex.build(docs, ncentroids=ncent, seed=seed)
    q = docs.limit(7).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = idx.knn_join_distributed(
        q, k=k, metric=metric, nprobe=len(idx.centroids), rescore=True, salts=salts
    )
    want = knn.knn_join(docs, q, k=k, metric=metric)
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert g == w


@settings(max_examples=5, deadline=None)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 40), st.integers(0, 999)),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_bucketed_store_replays_like_a_dict(spark, tmp_path_factory, batches):
    """AddOrUpdateDocs semantics (last-wins per batch position, upserts
    across batches) against the O(batch) bucketed store must equal a
    plain dict replay — for arbitrary key/value batch sequences."""
    from pyspark.sql import functions as F

    from gamma_spark.table import BucketedDocStore, GammaTable

    root = str(tmp_path_factory.mktemp("bstore"))
    base = [(i, -1) for i in range(0, 20)]
    table = GammaTable(
        spark,
        spark.createDataFrame(base, "_id long, v long"),
        id_col="_id",
    )
    store = BucketedDocStore.create(table, root, nbuckets=4)

    state = dict(base)
    for batch in batches:
        df = spark.createDataFrame(
            [(k, v, pos) for pos, (k, v) in enumerate(batch)],
            "_id long, v long, pos long",
        ).repartition(3)
        store = store.upsert(df, order_col="pos")
        for k, v in batch:  # in-order replay = last write wins
            state[k] = v

    got = {r._id: r.v for r in store.table().df.select("_id", "v").collect()}
    assert got == state


@settings(max_examples=4, deadline=None)
@given(
    n=st.integers(40, 100),
    k=st.integers(1, 6),
    salts=st.integers(2, 4),
    seed=st.integers(0, 10_000),
)
def test_pq_distributed_join_salting_invariant(spark, n, k, salts, seed):
    """IVFPQ distributed ADC join: salted output must equal unsalted on
    a skew-planted codes table (90% of docs land in one cluster — the
    hot-inverted-list shape salting exists for; VERDICT r3 #3)."""
    import numpy as np

    from gamma_spark.operators.pq import IvfPqIndex
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    dim = 8
    # plant skew: 90% of vectors huddle around one point
    hot = rng.normal(size=dim)
    mat = np.where(
        (rng.random(n) < 0.9)[:, None],
        hot[None, :] + 0.01 * rng.normal(size=(n, dim)),
        rng.normal(size=(n, dim)),
    ).astype(np.float32)
    docs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "_docid long, embedding array<float>",
    )
    pq = IvfPqIndex.build(docs, ncentroids=4, nsubvector=2, seed=seed)
    q = docs.limit(6).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    kw = dict(k=k, metric="L2", nprobe=4, recall_num=n, has_rank=True)
    got = pq.knn_join_distributed(q, salts=salts, **kw)
    want = pq.knn_join_distributed(q, salts=1, **kw)
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert g == w


@settings(max_examples=4, deadline=None)
@given(
    n=st.integers(30, 80),
    k=st.integers(1, 6),
    metric=st.sampled_from(["IP", "L2"]),
    seed=st.integers(0, 10_000),
)
@example(n=49, k=3, metric="L2", seed=1146)
def test_distributed_knn_join_band_matches_exact(spark, n, k, metric, seed):
    """F8 band on the distributed kNN path (VERDICT r3 #2): full-probe
    + rescore + band must equal the exact banded kernel.

    The pinned example is a found regression: queries are corpus docs,
    so L2 distances come in symmetric pairs (d(1,2) == d(2,1)) and the
    'midpoint' band bound lands EXACTLY on a doc score — the kernel's
    squared-space pre-filter then dropped the boundary doc by last-ulp
    rounding before the exact rescore filter could keep it (fixed by
    the epsilon-widened guard band in knn_join_distributed)."""
    import numpy as np

    from gamma_spark.operators import knn
    from gamma_spark.operators.ivf import IvfFlatIndex
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, 8)).astype(np.float32)
    docs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "_docid long, embedding array<float>",
    )
    idx = IvfFlatIndex.build(docs, ncentroids=3, seed=seed)
    q = docs.limit(5).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    scores = sorted(
        r.score for r in knn.knn_join(docs, q, k=max(k, 4), metric=metric).collect()
    )
    m = len(scores) // 2
    lo = (scores[0] + scores[1]) / 2
    hi = (scores[m] + scores[m + 1]) / 2
    got = idx.knn_join_distributed(
        q, k=k, metric=metric, nprobe=len(idx.centroids), rescore=True,
        min_score=lo, max_score=hi, salts=2,
    )
    want = knn.knn_join(docs, q, k=k, metric=metric, min_score=lo, max_score=hi)
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert g == w


@settings(max_examples=4, deadline=None)
@given(
    n=st.integers(40, 120),
    k=st.integers(1, 6),
    ncent=st.integers(4, 12),
    nprobe_frac=st.floats(0.3, 1.0),
    salts=st.integers(1, 2),
    seed=st.integers(0, 10_000),
)
def test_hierarchical_probe_matches_flat_probe(spark, n, k, ncent, nprobe_frac, salts, seed):
    """Two-level probe with super_probe == nsuper must equal the flat
    broadcast probe exactly — same probed clusters, same final results —
    for ANY nprobe (the hierarchy only changes WHERE probe distances
    are computed, not which ones win)."""
    import numpy as np

    from gamma_spark.operators.ivf import IvfFlatIndex
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, 8)).astype(np.float32)
    docs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "_docid long, embedding array<float>",
    )
    idx = IvfFlatIndex.build(docs, ncentroids=ncent, seed=seed)
    idx.build_hierarchy(nsuper=3, seed=seed)
    nprobe = max(1, int(len(idx.centroids) * nprobe_frac))
    q = docs.limit(6).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    kw = dict(k=k, metric="L2", nprobe=nprobe, rescore=True, salts=salts)
    got = idx.knn_join_distributed(q, hierarchical=True, super_probe=3, **kw)
    want = idx.knn_join_distributed(q, **kw)
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert g == w


@settings(max_examples=4, deadline=None)
@given(
    n=st.integers(40, 100),
    k=st.integers(1, 6),
    salts=st.integers(1, 3),
    hier=st.booleans(),
    seed=st.integers(0, 10_000),
)
def test_binaryivf_distributed_hamming_matches_exact(spark, n, k, salts, hier, seed):
    """Corpus-scale Hamming join (BINARYIVF twin): full-probe distributed
    XOR+popcount cogroup must equal the exact Hamming kernel — with any
    salting and through the hierarchical probe too."""
    import numpy as np

    from gamma_spark.functions import vector as V
    from gamma_spark.operators import knn
    from gamma_spark.operators.ann import BinaryIvfIndex
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, 16)).astype(np.float32)
    docs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "_docid long, embedding array<float>",
    )
    idx = BinaryIvfIndex.build(docs, ncentroids=4, seed=seed)
    if hier:
        idx.ivf.build_hierarchy(nsuper=2, seed=seed)
    q = docs.limit(6).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = idx.knn_join_distributed(
        q, k=k, nprobe=len(idx.ivf.centroids), salts=salts,
        hierarchical=hier, super_probe=2,
    )
    d2 = docs.withColumn("sig", V.sign_bits("embedding"))
    q2 = q.select("qid", V.sign_bits("qvec").alias("qsig"))
    want = knn.knn_join(
        d2, q2, k=k, metric="HAMMING", doc_vec="sig", query_vec="qsig"
    ).withColumn("score", F.col("score").cast("double"))
    g = {(r.qid, r.rank): (r._docid, r.score) for r in got.collect()}
    w = {(r.qid, r.rank): (r._docid, r.score) for r in want.collect()}
    assert g == w


@pytest.mark.parametrize("model", ["FLAT", "SQ8", "PQ", "VEARCH", "BINARY"])
@settings(max_examples=2, deadline=None)
@given(k=st.integers(1, 6), seed=st.integers(0, 10_000))
def test_every_scorer_full_probe_matches_exact(spark, model, k, seed):
    """Every per-cluster scorer of the IVF skeleton through BOTH paths —
    the request scan and the distributed cogroup — at nprobe =
    ncentroids against the exact brute-force kernel: ids, ranks and
    scores (exact-rerank and Hamming scores bit-for-bit; FLAT's BLAS
    request scan to 1e-9 relative)."""
    import numpy as np

    from gamma_spark.functions import vector as V
    from gamma_spark.operators import knn
    from gamma_spark.operators.ann import BinaryIvfIndex
    from gamma_spark.operators.ivf import IvfFlatIndex
    from gamma_spark.operators.pq import IvfPqIndex, VearchIndex
    from gamma_spark.operators.sq import IvfSq8Index

    rng = np.random.default_rng(seed)
    n, ncent = 60, 4
    mat = rng.normal(size=(n, 8)).astype(np.float32)
    docs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "_docid long, embedding array<float>",
    )
    q = docs.limit(6).select(
        F.col("_docid").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact_kw = dict(k=k, metric="L2")
    full = dict(k=k, metric="L2", nprobe=ncent)
    if model == "FLAT":
        idx = IvfFlatIndex.build(docs, ncentroids=ncent, seed=seed)
        request = idx.search(None, q, strategy="scan", **full)
        dist = idx.knn_join_distributed(q, rescore=True, **full)
    elif model == "SQ8":
        idx = IvfSq8Index.build(docs, ncentroids=ncent, seed=seed)
        request = idx.search(
            docs, q, has_rank=True, recall_num=n, strategy="scan", **full
        )
        dist = idx.knn_join_distributed(q, rescore_docs=docs, recall_num=n, **full)
    elif model in ("PQ", "VEARCH"):
        cls = IvfPqIndex if model == "PQ" else VearchIndex
        idx = cls.build(docs, ncentroids=ncent, nsubvector=4, seed=seed)
        request = idx.search(docs, q, recall_num=n, has_rank=True, **full)
        dist = idx.knn_join_distributed(q, recall_num=n, has_rank=True, **full)
    else:
        idx = BinaryIvfIndex.build(docs, ncentroids=ncent, seed=seed)
        request = idx.search(None, q, k=k, nprobe=ncent)
        dist = idx.knn_join_distributed(q, k=k, nprobe=ncent)
        docs = docs.withColumn("sig", V.sign_bits("embedding"))
        q = q.select("qid", V.sign_bits("qvec").alias("qsig"))
        exact_kw = dict(k=k, metric="HAMMING", doc_vec="sig", query_vec="qsig")
    want = {
        (r.qid, r.rank): (r._docid, float(r.score))
        for r in knn.knn_join(docs, q, **exact_kw).collect()
    }
    for path, df in (("request", request), ("distributed", dist)):
        got = {(r.qid, r.rank): (r._docid, float(r.score)) for r in df.collect()}
        if model == "FLAT" and path == "request":
            assert {key: d for key, (d, _) in got.items()} == {
                key: d for key, (d, _) in want.items()
            }
            for key, (_, s) in got.items():
                assert s == pytest.approx(want[key][1], rel=1e-9, abs=1e-12)
        else:
            assert got == want, f"{model} {path} path"


@settings(max_examples=8, deadline=None)
@given(
    tokens=st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=60),
    max_tokens=st.integers(min_value=16, max_value=512),
    bucket_width=st.sampled_from([1, 3, 7, 1000]),
)
def test_pack_contiguous_equals_serial(spark, tokens, max_tokens, bucket_width):
    """For ANY token sizes / budget / bucketing, the distributed
    two-level prefix sum equals the serial concatenation layout."""
    from gamma_spark.operators.packing import pack_contiguous

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tokens)], "doc_id long, n long"
    ).repartition(4)
    rows = {
        r.doc_id: (r.seq_id, r.seq_offset, r.spans)
        for r in pack_contiguous(df, "doc_id", "n", max_tokens, bucket_width).collect()
    }
    cum = 0
    for i, n in enumerate(tokens):
        assert rows[i] == (
            cum // max_tokens,
            cum % max_tokens,
            (cum + n - 1) // max_tokens > cum // max_tokens,
        )
        cum += n


@settings(max_examples=6, deadline=None)
@given(
    frac_lo=st.floats(min_value=0.05, max_value=0.45),
    frac_hi=st.floats(min_value=0.5, max_value=0.95),
)
def test_deterministic_sample_monotone(documents_cached, frac_lo, frac_hi):
    """Raising the rate only ADDS members — the hash gate is a
    threshold over a fixed per-key draw."""
    from gamma_spark.operators.sampling import deterministic_sample

    lo = {r.doc_id for r in deterministic_sample(documents_cached, "doc_id", frac_lo).collect()}
    hi = {r.doc_id for r in deterministic_sample(documents_cached, "doc_id", frac_hi).collect()}
    assert lo <= hi


# -- r5: lexical retrieval / quality signals ---------------------------------

@settings(max_examples=6, deadline=None)
@given(
    nparts=st.integers(min_value=1, max_value=7),
    seed=st.integers(min_value=0, max_value=999),
)
def test_bm25_partitioning_invariant(documents_cached, nparts, seed):
    """BM25 results (scores included) must not depend on the physical
    partitioning of the corpus — the decimal-sum contract at work."""
    from gamma_spark.operators.retrieval import bm25_search

    docs = documents_cached.limit(120)
    spark = docs.sparkSession
    rng_terms = [("q0", "the"), ("q0", f"w{seed % 5}"), ("q1", "table")]
    qt = spark.createDataFrame(rng_terms, "qid string, term string")
    base = sorted(
        (r.qid, r._docid, str(r.score), r.rank)
        for r in bm25_search(docs.coalesce(1), qt, k=7).collect()
    )
    part = sorted(
        (r.qid, r._docid, str(r.score), r.rank)
        for r in bm25_search(docs.repartition(nparts), qt, k=7).collect()
    )
    assert base == part


@settings(max_examples=6, deadline=None)
@given(nparts=st.integers(min_value=1, max_value=7))
def test_repetition_signals_partitioning_invariant(documents_cached, nparts):
    from gamma_spark.operators.quality import repetition_signals

    docs = documents_cached.limit(60)
    base = sorted(
        (r.doc_id, r.n_tokens, str(r.dup_token_fraction),
         str(r.top_bigram_fraction), str(r.token_entropy))
        for r in repetition_signals(docs.coalesce(1)).collect()
    )
    part = sorted(
        (r.doc_id, r.n_tokens, str(r.dup_token_fraction),
         str(r.top_bigram_fraction), str(r.token_entropy))
        for r in repetition_signals(docs.repartition(nparts)).collect()
    )
    assert base == part


def test_decontaminate_distinct_counts(documents_cached):
    """The post-join dedup must count DISTINCT matched shingles: a doc
    repeating a contaminated 6-gram twice counts it once."""
    from gamma_spark.operators.dedup import decontaminate

    spark = documents_cached.sparkSession
    six = "a b c d e f"
    train = spark.createDataFrame(
        [(1, f"{six} x {six} y")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(9, six)], "doc_id long, text string")
    got = {r.doc_id: r.n_contaminated for r in decontaminate(train, ev, n=6).collect()}
    assert got == {1: 1}


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=13
        ).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    width=st.sampled_from([3, 4, 5]),
)
def test_paragraph_dedup_invariants(spark, texts, width):
    """For ANY corpus/width: (1) chunk counts are conserved
    (n_chunks = ceil(tokens/width) per doc), (2) every doc's kept_text
    is a subsequence of its chunks, (3) the union of kept paragraphs
    equals the distinct paragraph set (nothing lost, nothing invented),
    and (4) the result matches the DuckDB twin exactly."""
    import math

    import pandas as pd

    from gamma_spark.operators.transforms import (
        chunk_paragraphs,
        paragraph_dedup,
        sql_paragraph_dedup,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = paragraph_dedup(df, width=width).toPandas().sort_values(
        "doc_id", ignore_index=True
    )
    for _, row in out.iterrows():
        n_tok = len(texts[row.doc_id].split(" "))
        assert row.n_chunks == max(1, math.ceil(n_tok / width))
        assert 0 <= row.n_dropped <= row.n_chunks

    chunks = chunk_paragraphs(df, width=width).toPandas()
    kept_paras = set()
    for _, row in out.iterrows():
        if row.kept_text:
            doc_chunks = chunks[chunks.doc_id == row.doc_id].sort_values("chunk_idx")
            # kept_text must be the in-order join of a subset of chunks
            remaining = row.kept_text
            for c in doc_chunks.chunk:
                if remaining.startswith(c):
                    kept_paras.add(c)
                    remaining = remaining[len(c):].lstrip(" ")
            assert remaining == ""
    # global completeness: every distinct paragraph survives exactly once
    survivors = out.n_chunks.sum() - out.n_dropped.sum()
    assert survivors == chunks.chunk.nunique()

    con = duckdb.connect()
    con.register("d0", df.toPandas())
    want = (
        con.sql(sql_paragraph_dedup("d0", width=width))
        .df()
        .sort_values("doc_id", ignore_index=True)[out.columns]
    )
    pd.testing.assert_frame_equal(
        out.astype({"n_chunks": "int64", "n_dropped": "int64"}),
        want.astype({"n_chunks": "int64", "n_dropped": "int64"}),
    )
