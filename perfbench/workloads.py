"""The four benchmark workloads and the checks applied to every op.

Each workload has the same shape:

- ``generate`` writes its inputs (and ground truth) before any clock;
- ``setup`` ingests the inputs and builds the index or store, then runs
  one untimed warm-up op — ``run.py`` times it as one set-up repetition;
- ``op`` runs one timed op and returns its work units; it raises
  ``CheckFailed`` when the result breaks a check;
- ``quality`` scores the outputs after the timed phase;
- ``layer_metrics`` adds the traced run's workload-specific numbers.

Only public functions of ``gamma_spark`` are called, each inside a span
named after the layer it enters.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

import data as D

QUERY_SCHEMA = "qid long, qvec array<float>"
BATCH_SCHEMA = "_id long, field2 long, emb array<float>, ver long"

#: workload sizes. ``full`` is what the benchmark measures; ``tiny`` is
#: for the benchmark's own tests.
SIZES = {
    "full": {
        "serve": dict(n=10_000, ncentroids=32, nsubvector=16, sample=2048,
                      nprobe=8, nq=64, k=10, pool=16),
        "knn_graph": dict(n=10_000, ncentroids=32, nprobe=8, k=10, chunk=1_000),
        "ingest": dict(n=10_000, nbuckets=64, rows=100, lookups=2, pool=300),
        "curate": dict(n=1_000),
    },
    "tiny": {
        "serve": dict(n=2_000, ncentroids=8, nsubvector=16, sample=1024,
                      nprobe=2, nq=8, k=5, pool=2),
        "knn_graph": dict(n=1_000, ncentroids=8, nprobe=2, k=5, chunk=250),
        "ingest": dict(n=1_000, nbuckets=16, rows=20, lookups=2, pool=40),
        "curate": dict(n=300),
    },
}


class CheckFailed(Exception):
    """An op returned a result that breaks its check."""


def _require(errors: list[str]) -> None:
    if errors:
        raise CheckFailed("; ".join(errors[:5]))


# -- checks (pure functions over plain rows, so tests can feed them) ----------

def check_serve(rows, nq: int, k: int, lo: int, hi: int,
                field2_of: np.ndarray) -> list[str]:
    """``rows``: (qid, _id, field2) per hit. Every query has exactly ``k``
    hits, each inside the filter range, with no repeated ``_id`` and the
    stored ``field2`` of that document."""
    errors = []
    per_q = defaultdict(list)
    for qid, doc, f2 in rows:
        per_q[qid].append(doc)
        if not lo <= f2 <= hi:
            errors.append(f"q{qid}: doc {doc} field2 {f2} outside [{lo}, {hi}]")
        elif not 0 <= doc < len(field2_of) or field2_of[doc] != f2:
            errors.append(f"q{qid}: doc {doc} returned field2 {f2} it does not hold")
    if sorted(per_q) != list(range(nq)):
        errors.append(f"{len(per_q)} queries answered, expected {nq}")
    for qid, docs in per_q.items():
        if len(docs) != k:
            errors.append(f"q{qid}: {len(docs)} hits, expected {k}")
        if len(set(docs)) != len(docs):
            errors.append(f"q{qid}: duplicate _id in hits")
    return errors


def check_knn(qids: np.ndarray, expected_qids: np.ndarray, k: int) -> list[str]:
    """Exactly ``k`` rows for each query of the chunk, and no other query."""
    counts = Counter(qids.tolist())
    errors = [f"q{q}: {c} rows, expected {k}" for q, c in counts.items() if c != k]
    missing = set(expected_qids.tolist()) - set(counts)
    extra = set(counts) - set(expected_qids.tolist())
    if missing:
        errors.append(f"{len(missing)} queries without rows")
    if extra:
        errors.append(f"{len(extra)} rows for queries not asked")
    return errors


def check_lookup(rows, key: int, want: tuple[int, float]) -> list[str]:
    """``rows``: (field2, emb[0]) returned by a point lookup of ``key``;
    exactly one row holding the value last written."""
    if len(rows) != 1:
        return [f"key {key}: {len(rows)} rows, expected 1"]
    got = (int(rows[0][0]), float(rows[0][1]))
    if got != want:
        return [f"key {key}: read {got}, last written {want}"]
    return []


def check_curate(ids, n: int) -> list[str]:
    """One decision row per input document."""
    c = Counter(ids)
    errors = []
    if len(c) != n or set(c) != set(range(n)):
        errors.append(f"{len(c)} distinct ids, expected {n}")
    dup = [i for i, m in c.items() if m > 1]
    if dup:
        errors.append(f"{len(dup)} ids with more than one row")
    return errors


# -- workloads ----------------------------------------------------------------

class Workload:
    unit = "ops"          # what one work unit is

    def __init__(self, tracer, work: str, size: dict):
        self.spark = None     # set once the session is up, after generate()
        self.tracer = tracer
        self.work = work
        self.size = size

    def ingest_table(self, path: str, rep: int):
        """Read the generated docs into the engine's table format: a
        GammaTable dumped as a snapshot and loaded back."""
        from gamma_spark.table import GammaTable

        root = os.path.join(self.work, f"table_{rep}")
        with self.tracer.span("table.ingest"):
            GammaTable(self.spark, self.spark.read.parquet(path)).dump(root)
            return GammaTable.load(self.spark, root)

    def layer_metrics(self) -> dict[str, float]:
        return {}


class Serve(Workload):
    """Filtered IVFPQ mini-batch search with exact rerank."""

    unit = "queries"

    def generate(self, rng):
        s = self.size
        self.corpus = D.make_corpus(rng, s["n"], self.work)
        self.batches = D.make_serve_batches(rng, self.corpus, s["pool"], s["nq"],
                                            s["k"], self.work)
        self.results: dict[int, list] = {}

    def setup(self, rep: int):
        self.table = self.ingest_table(self.corpus.path, rep)
        with self.tracer.span("pq.build"):
            self.index = self.table.build_index(
                "IVFPQ", doc_vec="emb", ncentroids=self.size["ncentroids"],
                nsubvector=self.size["nsubvector"], sample_size=self.size["sample"],
                path=os.path.join(self.work, f"pq_{rep}"))

    def op(self, i: int) -> int:
        from gamma_spark.filters import RangeFilter
        from gamma_spark.plans.search import SearchRequest, VectorQuery, search

        s = self.size
        b = i % len(self.batches)
        batch = self.batches[b]
        queries = self.spark.read.schema(QUERY_SCHEMA).parquet(batch.path)
        request = SearchRequest(
            vector_queries=[VectorQuery(
                field="emb", queries=queries, metric="L2",
                retrieval_params={"nprobe": s["nprobe"], "has_rank": True})],
            filters=[RangeFilter("field2", batch.lo, batch.hi)],
            topn=s["k"], fields=["_id", "field2"])
        with self.tracer.span("plans.search.plan"):
            hits = search(self.table.df, request, index=self.index)
        with self.tracer.span("plans.search.exec"):
            rows = [tuple(r) for r in hits.select("qid", "_id", "field2").collect()]
        _require(check_serve(rows, s["nq"], s["k"], batch.lo, batch.hi,
                             self.corpus.field2))
        self.results.setdefault(b, rows)
        return s["nq"]

    def missing_for_quality(self) -> list[int]:
        return [b for b in range(len(self.batches)) if b not in self.results]

    def quality(self) -> float:
        """Mean recall@k against exact filtered ground truth, over every
        batch of the pool (each scored on its first answer)."""
        k = self.size["k"]
        recalls = []
        for b, batch in enumerate(self.batches):
            got = defaultdict(set)
            for qid, doc, _ in self.results[b]:
                got[qid].add(doc)
            recalls += [len(got[q] & set(batch.truth[q].tolist())) / k
                        for q in range(len(batch.truth))]
        return float(np.mean(recalls))


class KnnGraph(Workload):
    """The corpus kNN graph, one query chunk per op, written to Parquet."""

    unit = "queries"

    def generate(self, rng):
        s = self.size
        self.corpus = D.make_corpus(rng, s["n"], self.work)
        self.chunks = D.make_knn_chunks(self.corpus, s["chunk"], self.work)
        # quality is scored on the first chunk, every seed's first op
        self.sample = pq.read_table(self.chunks[0], columns=["qid"])["qid"].to_numpy()
        self.truth = D.exact_topk(self.corpus.x[self.sample], self.corpus.x, s["k"])
        self.sample_hits = None

    def setup(self, rep: int):
        self.table = self.ingest_table(self.corpus.path, rep)
        with self.tracer.span("ivf.build"):
            self.index = self.table.build_index(
                "IVFFLAT", doc_vec="emb", ncentroids=self.size["ncentroids"],
                path=os.path.join(self.work, f"ivf_{rep}"))

    def op(self, i: int) -> int:
        s = self.size
        chunk = self.chunks[i % len(self.chunks)]
        out = os.path.join(self.work, "knn_out")
        queries = self.spark.read.schema(QUERY_SCHEMA).parquet(chunk)
        with self.tracer.span("ivf.knn_join_distributed.plan"):
            hits = self.index.knn_join_distributed(
                queries, k=s["k"], metric="L2", nprobe=s["nprobe"], doc_vec="emb")
        with self.tracer.span("ivf.knn_join_distributed.exec"):
            hits.select("qid", "_docid").write.mode("overwrite").parquet(out)
        got = pq.read_table(out)
        expected = pq.read_table(chunk, columns=["qid"])["qid"].to_numpy()
        _require(check_knn(got["qid"].to_numpy(), expected, s["k"]))
        if self.sample_hits is None and i % len(self.chunks) == 0:
            self.sample_hits = got
        shutil.rmtree(out, ignore_errors=True)
        return len(expected)

    def missing_for_quality(self) -> list[int]:
        return [] if self.sample_hits is not None else [0]

    def quality(self) -> float:
        """recall@k over the first chunk (docids mapped back to _id)."""
        m = self.table.df.select("_docid", "_id").toPandas()
        to_id = dict(zip(m["_docid"].tolist(), m["_id"].tolist()))
        got = defaultdict(set)
        for q, d in zip(self.sample_hits["qid"].to_pylist(),
                        self.sample_hits["_docid"].to_pylist()):
            got[q].add(to_id[d])
        k = self.size["k"]
        return float(np.mean([len(got[int(q)] & set(t.tolist())) / k
                              for q, t in zip(self.sample, self.truth)]))


class Ingest(Workload):
    """Small upserts into a bucketed store, each followed by point reads."""

    unit = "rows"

    def generate(self, rng):
        s = self.size
        self.corpus = D.make_corpus(rng, s["n"], self.work)
        self.batches = D.make_upsert_batches(rng, s["n"], s["pool"], s["rows"],
                                             self.work)
        self.row_bytes = self.batches[0].user_bytes / s["rows"]
        self.write_ratio: list[float] = []

    def setup(self, rep: int):
        from gamma_spark.table import BucketedDocStore, GammaTable

        self.root = os.path.join(self.work, f"store_{rep}")
        with self.tracer.span("table.create"):
            table = GammaTable(self.spark, self.spark.read.parquet(self.corpus.path))
            self.store = BucketedDocStore.create(table, self.root,
                                                 nbuckets=self.size["nbuckets"])
        self.applied = 0                       # batches committed to this store
        self.acked: dict[int, tuple[int, float]] = {}

    def op(self, i: int) -> int:
        from pyspark.sql import functions as F

        if self.applied >= len(self.batches):
            raise RuntimeError("upsert batch pool exhausted; raise SIZES pool")
        batch = self.batches[self.applied]
        df = self.spark.read.schema(BATCH_SCHEMA).parquet(batch.path)
        before = _files(self.root) if self.tracer.enabled else None
        with self.tracer.span("table.upsert"):
            self.store = self.store.upsert(df, order_col="ver")
        if before is not None:
            after = _files(self.root)
            new = sum(sz for p, sz in after.items() if p not in before)
            self.write_ratio.append(new / batch.user_bytes)
        self.applied += 1
        emb0 = _emb0(batch.path)
        for key, (_, f2) in batch.latest.items():
            self.acked[key] = (f2, emb0[key])
        errors = []
        for key in sorted(batch.latest)[: self.size["lookups"]]:
            with self.tracer.span("table.get_doc_by_id"):
                rows = self.store.get_doc_by_id(key).select(
                    "field2", F.col("emb")[0]).collect()
            errors += check_lookup(rows, key, self.acked[key])
        _require(errors)
        return self.size["rows"]

    def missing_for_quality(self) -> list[int]:
        return []

    def quality(self) -> float:
        """Share of acknowledged writes that read back with their latest
        value after the store is reopened from disk."""
        from pyspark.sql import functions as F

        from gamma_spark.table import BucketedDocStore

        with self.tracer.span("table.reopen"):
            store = BucketedDocStore(self.spark, self.root)
            live = store.raw().filter(~F.col("_deleted")).select(
                "_id", "field2", F.col("emb")[0].alias("e0")).toPandas()
        got = {int(k): (int(f), float(e))
               for k, f, e in zip(live["_id"], live["field2"], live["e0"])}
        self.live_rows = len(got)
        if not self.acked:
            return 0.0
        ok = sum(got.get(k) == v for k, v in self.acked.items())
        return ok / len(self.acked)

    def layer_metrics(self) -> dict[str, float]:
        data_bytes = sum(_files(os.path.join(self.root, "docs")).values())
        return {
            "table.bytes_written_per_user_byte": float(np.median(self.write_ratio)),
            "table.store_bytes_per_live_byte":
                data_bytes / (self.live_rows * self.row_bytes),
        }


class Curate(Workload):
    """Full corpus curation: annotate, gate, near-dup dedup, keep/drop."""

    unit = "docs"

    def generate(self, rng):
        self.corpus = D.make_curate_corpus(rng, self.size["n"], self.work)
        self.decisions = None
        self.pairs_ratio: list[float] = []

    def setup(self, rep: int):
        # nothing to build: the curation input is the raw document table
        pass

    def op(self, i: int) -> int:
        from gamma_spark.operators.curation import curate_corpus
        from gamma_spark.session import stage_scope

        docs = self.spark.read.parquet(self.corpus.path)
        if self.tracer.enabled:
            with stage_scope():
                self._traced_stages(docs)
            # the stages' cached relations must not serve the real call
            self.spark.catalog.clearCache()
        with stage_scope():
            with self.tracer.span("curation.curate_corpus"):
                rows = curate_corpus(docs, "id", "text").select(
                    "id", "passed_filter", "group_id", "kept").collect()
        self.spark.catalog.clearCache()
        _require(check_curate([r[0] for r in rows], self.corpus.n))
        if self.decisions is None:
            self.decisions = rows
        return self.corpus.n

    def _traced_stages(self, docs):
        """Materialize each stage of the curation pipeline on its own, so
        the trace can time the text, dedup and groups layers separately.
        The composition mirrors ``curate_corpus``."""
        from pyspark.sql import functions as F

        from gamma_spark.functions import text as T
        from gamma_spark.operators import dedup as DD
        from gamma_spark.operators import groups as G
        from gamma_spark.operators.curation import LANGS, MIN_QUALITY
        from gamma_spark.session import stage

        with self.tracer.span("text.annotate"):
            annotated = stage(docs.select(
                "id", F.col("text").alias("_text"),
                T.quality_score("text").alias("quality"),
                T.lang_id("text").alias("lang"),
            ).withColumn("passed_filter", (F.col("quality") >= MIN_QUALITY)
                         & F.col("lang").isin(*LANGS)))
            annotated.count()
        gated = annotated.filter("passed_filter")
        with self.tracer.span("dedup.lsh_candidate_pairs"):
            sig = DD.minhash_signatures(
                DD.hashed_shingle_stream(gated, "id", "_text", 3), "id", hashed=True)
            ncand = DD.lsh_candidate_pairs(sig, "id").count()
        with self.tracer.span("dedup.minhash_verified_pairs"):
            pairs = stage(DD.minhash_verified_pairs(gated, "id", "_text", 3, 0.3))
            npairs = pairs.count()
        with self.tracer.span("groups.resolve_groups"):
            G.resolve_groups(pairs, gated, "id", keeper_order=F.col("quality")).count()
        self.pairs_ratio.append(npairs / ncand if ncand else 1.0)

    def missing_for_quality(self) -> list[int]:
        return [] if self.decisions is not None else [0]

    def quality(self) -> float:
        """F1 of the drop decisions. Truth: a gate-failing document is
        dropped; a planted cluster of m gate-passing members drops m - 1
        of them (any member may be the keeper); every other document is
        kept."""
        kept = {int(r[0]): bool(r[3]) for r in self.decisions}
        tp = 0
        truth_drops = len(self.corpus.gate_fail)
        for members in self.corpus.clusters:
            live = [m for m in members if m not in self.corpus.gate_fail]
            dropped = sum(not kept[m] for m in live)
            tp += min(dropped, max(0, len(live) - 1))
            truth_drops += max(0, len(live) - 1)
        tp += sum(not kept[g] for g in self.corpus.gate_fail)
        pred_drops = sum(not v for v in kept.values())
        if pred_drops == 0 or truth_drops == 0:
            return 0.0
        precision, recall = tp / pred_drops, tp / truth_drops
        return 2 * precision * recall / (precision + recall) if tp else 0.0

    def layer_metrics(self) -> dict[str, float]:
        return {"dedup.verified_per_candidate": float(np.median(self.pairs_ratio))}


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _emb0(path: str) -> dict[int, float]:
    """First vector component of the last-written row of each key."""
    t = pq.read_table(path, columns=["_id", "emb", "ver"]).to_pydict()
    best: dict[int, tuple[int, float]] = {}
    for k, e, v in zip(t["_id"], t["emb"], t["ver"]):
        if k not in best or v > best[k][0]:
            best[k] = (v, float(np.float32(e[0])))
    return {k: e for k, (_, e) in best.items()}


WORKLOADS = {"serve": Serve, "knn_graph": KnnGraph, "ingest": Ingest,
             "curate": Curate}
