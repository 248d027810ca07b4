"""Seeded input generators and ground truth for the benchmark workloads.

Everything here is plain numpy/pyarrow: inputs are written to Parquet and
the ground truth is computed before any clock starts, so the engine under
test only ever sees the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
NCLUSTERS = 512
SIGMA = 1.0
#: scale of the cluster centres; with SIGMA = 1 neighbouring clusters
#: overlap, so IVF recall at a small nprobe stays below 1 and can move
CENTER_SCALE = 1.0
FIELD2_MAX = 1_000_000

VEC_TYPE = pa.list_(pa.float32())


def mixture(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` 64-d float32 points from a fixed 512-cluster Gaussian mixture.
    The centres come from ``rng`` too, so one seed fixes the whole corpus."""
    centres = rng.normal(0.0, CENTER_SCALE, (NCLUSTERS, DIM))
    labels = rng.integers(0, NCLUSTERS, n)
    return (centres[labels] + rng.normal(0.0, SIGMA, (n, DIM))).astype(np.float32)


def docs_table(ids: np.ndarray, x: np.ndarray, field2: np.ndarray,
               ver: np.ndarray | None = None) -> pa.Table:
    cols = {
        "_id": pa.array(ids, pa.int64()),
        "field2": pa.array(field2, pa.int64()),
        "emb": pa.FixedSizeListArray.from_arrays(
            pa.array(x.reshape(-1), pa.float32()), DIM
        ).cast(VEC_TYPE),
    }
    if ver is not None:
        cols["ver"] = pa.array(ver, pa.int64())
    return pa.table(cols)


def sq_dists(q: np.ndarray, x: np.ndarray, xx: np.ndarray) -> np.ndarray:
    """Squared L2 distances, (len(q), len(x)), in float64."""
    q = q.astype(np.float64)
    return (q * q).sum(1)[:, None] - 2.0 * (q @ x.T) + xx[None, :]


def exact_topk(q: np.ndarray, x: np.ndarray, k: int,
               mask: np.ndarray | None = None) -> np.ndarray:
    """Row indices of the ``k`` nearest (L2) rows of ``x`` for each query,
    restricted to ``mask`` when given."""
    x64 = x.astype(np.float64)
    d = sq_dists(q, x64, (x64 * x64).sum(1))
    if mask is not None:
        d[~mask] = np.inf
    part = np.argpartition(d, k - 1, axis=1)[:, :k]
    order = np.take_along_axis(d, part, 1).argsort(1, kind="stable")
    return np.take_along_axis(part, order, 1)


@dataclass
class Corpus:
    path: str            # docs parquet (_id, field2, emb)
    x: np.ndarray        # vectors, row i is _id i
    field2: np.ndarray


def make_corpus(rng: np.random.Generator, n: int, root: str) -> Corpus:
    x = mixture(rng, n)
    field2 = rng.integers(0, FIELD2_MAX, n)
    path = os.path.join(root, "docs.parquet")
    # several row groups so the scan splits across the local cores
    pq.write_table(docs_table(np.arange(n), x, field2), path,
                   row_group_size=max(1, n // 8))
    return Corpus(path, x, field2)


# -- serve ----------------------------------------------------------------

@dataclass
class ServeBatch:
    path: str            # queries parquet (qid, qvec)
    lo: int
    hi: int
    truth: np.ndarray    # (nq, k) exact filtered top-k row ids


def make_serve_batches(rng, corpus: Corpus, nbatches: int, nq: int, k: int,
                       root: str) -> list[ServeBatch]:
    """Query batches of perturbed corpus rows, each with a range filter on
    ``field2`` whose selectivity is uniform in [20%, 100%], stratified over
    the batches so every seed covers the range alike."""
    out = []
    for b in range(nbatches):
        # perturbed corpus rows: queries follow the corpus distribution
        # without being corpus members
        src = corpus.x[rng.integers(0, len(corpus.x), nq)]
        q = (src + rng.normal(0.0, 0.5 * SIGMA, src.shape)).astype(np.float32)
        sel = 0.2 + 0.8 * (b + rng.uniform()) / nbatches
        width = int(sel * FIELD2_MAX)
        lo = int(rng.integers(0, FIELD2_MAX - width + 1))
        hi = lo + width - 1
        mask = (corpus.field2 >= lo) & (corpus.field2 <= hi)
        truth = exact_topk(q, corpus.x, k, np.broadcast_to(mask, (nq, len(mask))).copy())
        path = os.path.join(root, f"serve_q{b}.parquet")
        pq.write_table(pa.table({
            "qid": pa.array(np.arange(nq), pa.int64()),
            "qvec": pa.FixedSizeListArray.from_arrays(
                pa.array(q.reshape(-1), pa.float32()), DIM).cast(VEC_TYPE),
        }), path)
        out.append(ServeBatch(path, lo, hi, truth))
    return out


# -- knn_graph ----------------------------------------------------------------

def make_knn_chunks(corpus: Corpus, chunk: int, root: str) -> list[str]:
    """The corpus split into query chunks (qid = _id, qvec = emb)."""
    t = pq.read_table(corpus.path, columns=["_id", "emb"]).rename_columns(["qid", "qvec"])
    paths = []
    for c, start in enumerate(range(0, t.num_rows, chunk)):
        p = os.path.join(root, f"knn_q{c}.parquet")
        pq.write_table(t.slice(start, chunk), p)
        paths.append(p)
    return paths


# -- ingest -------------------------------------------------------------------

@dataclass
class UpsertBatch:
    path: str
    user_bytes: int              # Arrow bytes of the batch as the user holds it
    latest: dict[int, tuple[int, int]]  # key -> (ver, field2) after this batch


def make_upsert_batches(rng, n_docs: int, nbatches: int, rows: int,
                        root: str) -> list[UpsertBatch]:
    """FIXTURES §5 mix per batch: 60% updates of existing keys, 30% new
    keys, 10% in-batch duplicates of keys already in the batch, which
    resolve last-write-wins by ``ver`` (a global write sequence)."""
    n_upd, n_new = int(rows * 0.6), int(rows * 0.3)
    n_dup = rows - n_upd - n_new
    next_key, ver = n_docs, 0
    out = []
    for b in range(nbatches):
        upd = rng.choice(next_key, n_upd, replace=False)
        new = np.arange(next_key, next_key + n_new)
        next_key += n_new
        first = np.concatenate([upd, new])
        dup = rng.choice(first, n_dup, replace=False)
        keys = np.concatenate([first, dup])
        vers = np.arange(ver, ver + rows)
        ver += rows
        field2 = rng.integers(0, FIELD2_MAX, rows)
        x = mixture(rng, rows)
        tbl = docs_table(keys, x, field2, vers)
        # shuffle rows so duplicates are not always last in file order
        perm = rng.permutation(rows)
        tbl = tbl.take(pa.array(perm))
        path = os.path.join(root, f"upsert_{b}.parquet")
        pq.write_table(tbl, path)
        latest: dict[int, tuple[int, int]] = {}
        for k, v, f in zip(keys.tolist(), vers.tolist(), field2.tolist()):
            if k not in latest or v > latest[k][0]:
                latest[k] = (v, f)
        out.append(UpsertBatch(path, tbl.nbytes, latest))
    return out


# -- curate -------------------------------------------------------------------

EN_MARKERS = ("the", "and", "of", "with", "is")


@dataclass
class CurateCorpus:
    path: str                    # (id, text)
    n: int
    clusters: list[list[int]]    # planted near-dup clusters (ids)
    gate_fail: set[int]          # docs built to fail the quality/lang gate


def _mutate(rng, toks: list[str], vocab: np.ndarray, rate: float) -> list[str]:
    toks = list(toks)
    nmut = max(1, int(round(rate * len(toks))))
    for i in rng.choice(len(toks), nmut, replace=False):
        toks[i] = vocab[rng.integers(len(vocab))]
    return toks


def make_curate_corpus(rng, n_docs: int, root: str, mutate: float = 0.04
                       ) -> CurateCorpus:
    """English-marker documents. Three in ten base documents seed a planted
    near-dup cluster; cluster sizes cycle through 2-8 members and
    alternate chains (each member mutates the previous one) and stars (each
    mutates the base), with ~``mutate`` of tokens changed per step. One
    base document in twenty carries no English markers and short text, so
    the quality/language gate drops it. The layout is the same for every
    seed, so the number of connected-components rounds is too; the seed
    draws the text."""
    vocab = np.array([
        "".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(4, 9)))
        for _ in range(20_000)
    ])

    def base_doc():
        n = int(rng.integers(60, 120))
        toks = vocab[rng.integers(len(vocab), size=n)].tolist()
        for i in rng.choice(n, n // 5, replace=False):
            toks[i] = EN_MARKERS[rng.integers(len(EN_MARKERS))]
        return toks

    texts: list[str] = []
    clusters: list[list[int]] = []
    gate_fail: set[int] = set()
    j = 0                                   # base document number
    while len(texts) < n_docs:
        if j % 10 in (0, 3, 6):
            c = len(clusters)
            size = min(2 + c % 7, n_docs - len(texts))
            chain = c % 2 == 0
            toks = prev = base_doc()
            members = [len(texts)]
            texts.append(" ".join(toks))
            for _ in range(size - 1):
                cur = _mutate(rng, prev if chain else toks, vocab, mutate)
                members.append(len(texts))
                texts.append(" ".join(cur))
                if chain:
                    prev = cur
            if size >= 2:
                clusters.append(members)
        elif j % 20 == 9:
            gate_fail.add(len(texts))
            texts.append(" ".join(vocab[rng.integers(len(vocab), size=8)].tolist()))
        else:
            texts.append(" ".join(base_doc()))
        j += 1
    path = os.path.join(root, "curate_docs.parquet")
    pq.write_table(pa.table({
        "id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), path, row_group_size=max(1, n_docs // 8))
    return CurateCorpus(path, n_docs, clusters, gate_fail)
