"""HNSW — hierarchical navigable-small-world graph ANN (SURVEY K5).

Reference: gamma vendors hnswlib and glues it in
`index/impl/hnswlib/gamma_index_hnswlib.cc:128` (build) / `:316-380`
(search), defaults nlinks 32, efConstruction 100, efSearch 64
(`gamma_index_hnswlib.cc:26-44`). Deleted-doc and score-band checks run
DURING graph traversal, not as a post-filter
(`index/impl/hnswlib/hnswalg.h:312-313,379-380`) — invalid nodes are
traversed *through* but never admitted to the result set, so filtered
queries keep full recall.

Spark design — **sharded graphs** (this was a declared non-goal through
round 3; the blocker was never the algorithm but the execution model,
and the sharded form maps cleanly onto it):

- There is no shared-memory graph at 100 TB. The production pattern for
  distributed graph ANN (Vespa per-segment HNSW, Milvus segment
  indexes, ES Lucene HNSW per Lucene segment) is many independent
  per-shard graphs + fan-out search + global top-k merge. Recall is
  governed by the same argument as the IVF distributed join: each
  shard's graph finds its own members of the global top-k, and the
  merge keeps the best k of the union.
- **Build**: docs are deterministically sharded by
  ``pmod(xxhash64(_docid), nshards)``; each shard builds an independent
  in-memory HNSW inside ONE ``applyInPandas`` task (pure-numpy kernel:
  every frontier expansion and neighbor-selection heuristic scores a
  vectorized block, never one Python float at a time). The finished
  graph is stored as a plain relation — the docs columns plus
  ``(_shard, _pos, _level, _nbrs array<array<int>>)`` — partitioned by
  shard, so it round-trips through Parquet like every other index here.
- **Search**: the queries side is a relation of ANY size (never
  collected). Queries fan out to every shard (the honest cost of
  sharded graph search — |Q|·nshards rows; IVF prunes to nprobe
  clusters, HNSW's pruning happens *inside* each graph instead), are
  cogrouped with the graph rows on ``_shard``, traversed per shard with
  ``ef_search``, and the k-per-(query, shard) partials reduce through
  the shared global top-k. ``qsplits > 1`` additionally blocks the
  query side so one task never holds more than |Q|/qsplits queries (the
  graph rows are replicated per block — bounded-memory fan-out, same
  trade as the IVF join's ``salts``).

Level assignment uses the paper's geometric distribution
(level = floor(-ln(U)·mL), mL = 1/ln(M) — Malkov & Yashunin, TPAMI
2018) with U drawn from a seeded generator over the shard's
docid-sorted rows, so a rebuild over the same rows is bit-identical.
"""

from __future__ import annotations

import heapq
import json
import os
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from gamma_spark.functions.vector import stack_vectors

DEFAULT_M = 32  # nlinks (`gamma_index_hnswlib.cc:26-44`)
DEFAULT_EF_CONSTRUCTION = 100
DEFAULT_EF_SEARCH = 64

# -- bulk-vs-graph routing (VERDICT r6 #4) -----------------------------------
# Per (shard, qsplit) cogroup block the two kernels cost, per query:
#   graph traversal: a Python heap/frontier overhead floor plus
#     ~ef·m0·d MACs of frontier distance evals;
#   blocked exact GEMM scan: n_shard · d MACs.
# Both scale linearly in the query count, so it cancels. The MAC rate
# is the MEASURED effective throughput under full worker concurrency
# (32 parallel Python workers share memory bandwidth: the 50k x 500k
# probe session measured ~6e8 MACs/s/core for the scan — 8x below the
# single-process BLAS rate — and ~3.5 ms per graph traversal). Below
# the break-even shard size (~30k rows at d=64) the scan is BOTH
# faster and exact (per-shard exact top-k union = global exact
# top-k); above it the graph's cache-resident frontiers win. The
# graph's total cost also grows with the shard COUNT (every query
# traverses every shard), so over-sharded corpora route to the scan —
# exactly the regime the 32-shard rehearsal measures.
#
# These module constants are the FROZEN FALLBACK (the r6 probe-session
# measurements on the build host). On a different cluster the
# break-even shard size moves several-fold, so the constants resolve
# in priority order (VERDICT r7 #2, r8 #4):
#   1. env override (operators pin a known-good route fleet-wide),
#   2. SATURATED per-index calibration (concurrent-probe constants,
#      :func:`calibrate_router_saturated`, persisted in the index meta
#      when the build ran with ``saturate``) — preferred over the solo
#      pair because it measures the ratio under the same memory-
#      bandwidth contention the 32-way cogroup kernel sees,
#   3. solo per-index calibration measured by :func:`calibrate_router`
#      at build time and persisted in the index meta sidecar,
#   4. these frozen defaults.
SCAN_MACS_PER_SEC = 6e8     # measured under full concurrency, NOT peak BLAS
GRAPH_SEC_PER_QUERY = 3.5e-3  # measured per-traversal Python overhead floor
ENV_SCAN_MACS = "SPARK_GRAFT_HNSW_SCAN_MACS_PER_SEC"
ENV_GRAPH_SPQ = "SPARK_GRAFT_HNSW_GRAPH_SEC_PER_QUERY"
#: probe-process count for the saturated concurrent calibration at
#: build time. Since r10 the saturated probe is the DEFAULT for
#: path-backed builds (unset = min(32, cpu_count) processes): the r9
#: probe measured the solo-probe ratio assumption genuinely failing —
#: under 32-way concurrency the scan GEMM derates 2.1x while the
#: traversal barely moves, halving the break-even shard size
#: (docs/SCALING.md "saturated-mode calibration"). Set =1 (or =0, the
#: pre-r10 opt-out spelling — ADVICE r10) to force the solo probe
#: only; ``saturate=`` on build() overrides the env.
ENV_CALIB_PROCS = "SPARK_GRAFT_HNSW_CALIB_PROCS"


def _calib_procs_env() -> int | None:
    """Resolve ``SPARK_GRAFT_HNSW_CALIB_PROCS``: unset/empty -> None
    (caller picks the saturated default), an explicit value -> that
    count, with ``0`` (or any non-positive value) meaning SOLO-ONLY —
    the pre-r10 opt-out. ADVICE r10: an explicit ``0`` must not
    silently trigger the host-wide min(32,cpu)-process saturated fork
    (it contaminated one of the r10 A/B cells)."""
    raw = os.environ.get(ENV_CALIB_PROCS)
    if raw is None or raw.strip() == "":
        return None
    try:
        n = int(raw)
    except ValueError:
        # an unparsable value must NOT read as "unset" — that silently
        # selects the host-wide saturated fork probe this env var
        # exists to suppress (the exact contamination ADVICE r10
        # flagged); a typo'd opt-out fails loudly instead
        raise ValueError(
            f"{ENV_CALIB_PROCS}={raw!r} is not an integer; use 0 for "
            "solo-only calibration or a positive worker count"
        ) from None
    return 1 if n <= 0 else n


def _env_float(name: str) -> float | None:
    raw = os.environ.get(name)
    if raw is None or raw == "":
        return None
    try:
        v = float(raw)
    except ValueError:
        raise ValueError(f"{name} must be a float, got {raw!r}")
    if v <= 0:
        raise ValueError(f"{name} must be > 0, got {raw!r}")
    return v


def _calibrated_float(value, name: str) -> float | None:
    """Validate a router constant sourced from persisted/calibrated
    state, mirroring :func:`_env_float`'s positivity check: ``None``
    passes through (resolution falls to the next tier), but a present
    non-positive/NaN value is a degenerate calibration that must be
    REJECTED loudly — silently falling through to the frozen defaults
    would hide a corrupt sidecar behind a plausible route (ADVICE r9)."""
    if value is None:
        return None
    v = float(value)
    if not (v > 0):
        raise ValueError(
            f"calibrated router constant {name} must be > 0, got {value!r}"
            " (degenerate calibration persisted in index meta — rebuild"
            " or fix the sidecar, or override via env)"
        )
    return v


def _resolve_constants(
    scan_macs: float | None, graph_spq: float | None
) -> tuple[float, float]:
    """env > validated calibrated > frozen — `is None` tiering, never
    truthiness (a calibrated 0.0 raises instead of vanishing)."""
    env_macs, env_spq = _env_float(ENV_SCAN_MACS), _env_float(ENV_GRAPH_SPQ)
    macs = env_macs if env_macs is not None else _calibrated_float(
        scan_macs, "scan_macs_per_sec"
    )
    spq = env_spq if env_spq is not None else _calibrated_float(
        graph_spq, "graph_sec_per_query"
    )
    return (
        macs if macs is not None else SCAN_MACS_PER_SEC,
        spq if spq is not None else GRAPH_SEC_PER_QUERY,
    )


def _route_to_scan(
    n_shard: int,
    dim: int,
    ef: int = DEFAULT_EF_SEARCH,
    m: int = DEFAULT_M,
    scan_macs: float | None = None,
    graph_spq: float | None = None,
) -> bool:
    """True when the exact GEMM scan beats graph traversal per query.

    ``scan_macs`` / ``graph_spq`` are the calibrated constants from the
    index meta (None → frozen defaults); the env vars win over both."""
    scan_macs, graph_spq = _resolve_constants(scan_macs, graph_spq)
    scan_sec = (n_shard * dim) / scan_macs
    graph_sec = graph_spq + (ef * 2 * m * dim) / scan_macs
    return scan_sec < graph_sec


def route_break_even(
    dim: int,
    ef: int = DEFAULT_EF_SEARCH,
    m: int = DEFAULT_M,
    scan_macs: float | None = None,
    graph_spq: float | None = None,
) -> int:
    """Shard size where :func:`_route_to_scan` flips scan->graph —
    the closed-form inverse of the cost model above (n*d/macs =
    spq + ef*2*m*d/macs), kept NEXT to the model so a model change
    can't leave a stale copy in the rehearsal tools. Resolves the
    constants exactly like the router (env > calibrated > frozen)."""
    scan_macs, graph_spq = _resolve_constants(scan_macs, graph_spq)
    return int(graph_spq * scan_macs / dim + ef * 2 * m)


def calibrate_router(
    dim: int = 64,
    n_scan: int | None = None,
    n_graph: int | None = None,
    nq: int = 64,
    m: int = 16,
    ef: int = DEFAULT_EF_SEARCH,
    seed: int = 0,
    metric: str = "L2",
) -> dict[str, float]:
    """Measure the two router constants on THIS host with a bounded
    micro-probe (~0.5 s: one small scan GEMM, one 1k-node graph build,
    one traversal batch) so a persisted index routes by measured local
    speed instead of the build host's frozen numbers (VERDICT r7 #2).

    Both legs run in the same process back to back, so while a
    single-process probe overstates the ABSOLUTE throughput a worker
    sees under 32-way concurrency, the memory-bandwidth derate hits
    the scan GEMM and the traversal's frontier evals alike — the
    break-even shard size depends on their RATIO, which the probe
    preserves. Env overrides remain the escape hatch for hosts where
    that assumption fails.

    Each timed leg is best-of-3: single-shot probes measured a 2x
    same-host swing between two r8 builds (1.52e9 vs 2.99e9 MACs/s —
    a transient page/GC stall lands entirely in a one-shot number),
    which is enough to flip the route near break-even; the min of
    three is the steady-state rate."""
    metric = metric.upper()
    # probe sizes hold total work constant across dims (the probe is
    # bounded ~0.5 s whether the index is 64- or 768-dimensional)
    if n_scan is None:
        n_scan = max(1024, (8192 * 64) // max(1, dim))
    if n_graph is None:
        n_graph = max(256, (1024 * 64) // max(1, dim))
    n_graph = min(n_graph, n_scan)
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n_scan, dim))
    q = rng.standard_normal((nq, dim))
    g = NpHnsw(m=m, metric=metric)
    g.vecs = g._prep(mat)
    if metric == "L2":
        g.sq = (g.vecs * g.vecs).sum(axis=1)
    g.scan(q[:8], 10)  # warmup (page-in, BLAS thread spin-up)
    scan_s = np.inf
    for _ in range(3):
        t0 = time.perf_counter()
        g.scan(q, 10)
        scan_s = min(scan_s, max(time.perf_counter() - t0, 1e-6))
    scan_macs = nq * n_scan * dim / scan_s

    gb = NpHnsw(m=m, ef_construction=48, metric=metric).build(
        mat[:n_graph], seed=seed
    )
    gb.search(q[:8], 10, ef=ef)  # warmup
    graph_s = np.inf
    for _ in range(3):
        t0 = time.perf_counter()
        gb.search(q, 10, ef=ef)
        graph_s = min(graph_s, max(time.perf_counter() - t0, 1e-6))
    # subtract the MAC share so the constant is the Python/heap
    # overhead FLOOR the cost model adds MACs back onto
    graph_spq = max(graph_s / nq - (ef * 2 * m * dim) / scan_macs, 1e-5)
    return {
        "scan_macs_per_sec": round(scan_macs, 1),
        "graph_sec_per_query": round(graph_spq, 6),
    }


def _calib_probe_worker(barrier, queue, kwargs):  # pragma: no cover - forked
    """One saturated-probe leg: sync on the barrier so all probes
    genuinely overlap, then run the standard solo probe under the
    resulting contention. Module-level so fork/spawn can both resolve
    it."""
    try:
        barrier.wait(timeout=30)
        queue.put(calibrate_router(**kwargs))
    except Exception as exc:
        queue.put({"error": repr(exc)})


def calibrate_router_saturated(
    dim: int = 64,
    m: int = 16,
    ef: int = DEFAULT_EF_SEARCH,
    metric: str = "L2",
    procs: int | None = None,
    seed: int = 0,
) -> dict[str, float]:
    """Measure the router constants under N-way concurrency (VERDICT
    r8 #4): N forked processes run :func:`calibrate_router` probes
    simultaneously (barrier-synced start), so each probe's GEMM and
    traversal legs contend for memory bandwidth the way the 32-way
    cogroup kernel's Python workers do. Processes, not threads: the
    traversal leg is Python-heavy and threads would measure GIL
    serialization, not bandwidth derate. Each worker seeds its own
    matrices post-fork, so no copy-on-write page sharing understates
    the bandwidth pressure.

    Returns the per-worker MEDIAN of each constant (a straggler that
    hits a page/GC stall lands in the tails). Falls back to the solo
    probe when fork is unavailable or any worker dies — routing must
    never fail a build."""
    if procs is None:
        env = _calib_procs_env()
        procs = env if env is not None else min(os.cpu_count() or 1, 32)
    procs = int(procs)
    if procs <= 1:
        return calibrate_router(dim=dim, m=m, ef=ef, metric=metric, seed=seed)
    # the fork probe is a deliberate host-wide load spike; say so
    # (ADVICE r10 — it silently contaminated an A/B measurement cell)
    print(
        f"[hnsw] saturated router probe starting: {procs} fork workers "
        f"(dim={dim}, m={m}, metric={metric})",
        file=sys.stderr,
    )
    import multiprocessing as mp

    try:
        ctx = mp.get_context("fork")
        barrier = ctx.Barrier(procs)
        queue = ctx.Queue()
        workers = [
            ctx.Process(
                target=_calib_probe_worker,
                args=(
                    barrier,
                    queue,
                    dict(dim=dim, m=m, ef=ef, metric=metric, seed=seed + i),
                ),
                daemon=True,
            )
            for i in range(procs)
        ]
        for w in workers:
            w.start()
        results = []
        for _ in workers:
            # bounded get: a worker that dies WITHOUT putting (OOM
            # kill, segfault in forked BLAS state) must not hang the
            # build — the probe itself is sub-second, so 120 s means
            # the worker is gone, and partial results are still a
            # valid median (the per-worker constants are i.i.d.)
            try:
                results.append(queue.get(timeout=120))
            except Exception:
                break
        for w in workers:
            w.join(timeout=10)
            if w.is_alive():
                w.terminate()
        good = [r for r in results if "error" not in r]
        if not good:
            raise RuntimeError(f"all probe workers failed: {results[:2]}")
        return {
            "scan_macs_per_sec": float(
                np.median([r["scan_macs_per_sec"] for r in good])
            ),
            "graph_sec_per_query": float(
                np.median([r["graph_sec_per_query"] for r in good])
            ),
        }
    except Exception:
        return calibrate_router(dim=dim, m=m, ef=ef, metric=metric, seed=seed)


#: lazily-measured host calibration for indexes WITHOUT persisted
#: router constants (in-memory builds): keyed by (metric, dim, m) —
#: the ratio argument only holds when the probe matches the operating
#: point (ADVICE r8), so a 768-dim index must not route on a 64-dim
#: probe. Measured once per driver process per operating point.
#: Resolution order stays env > index meta > this memo > frozen
#: defaults.
_HOST_CALIBRATION: dict[tuple[str, int, int], dict[str, float]] = {}

#: build-time calibration memo, keyed (metric, dim, m, procs): the
#: probes measure HOST throughput, not index data, so repeated
#: path-backed builds in one driver process (test suites, micro-batch
#: compaction loops, bench sessions) pay the fork-probe once per
#: operating point instead of once per build.
_BUILD_CALIBRATION: dict[tuple[str, int, int, int], dict[str, float]] = {}


def _build_router_constants(
    dim: int, m: int, metric: str, procs: int
) -> dict[str, float]:
    """Solo router constants plus (``procs > 1``) the saturated pair
    for a path-backed build, memoized per process per operating
    point."""
    key = (metric, int(dim), int(m), int(procs))
    if key not in _BUILD_CALIBRATION:
        router = calibrate_router(dim=dim, m=m, metric=metric)
        if procs > 1:
            sat = calibrate_router_saturated(
                dim=dim, m=m, metric=metric, procs=procs
            )
            router["saturated_scan_macs_per_sec"] = sat["scan_macs_per_sec"]
            router["saturated_graph_sec_per_query"] = sat[
                "graph_sec_per_query"
            ]
            router["saturated_procs"] = int(procs)
        _BUILD_CALIBRATION[key] = router
    return dict(_BUILD_CALIBRATION[key])


def _host_calibration(
    metric: str, dim: int | None = None, m: int | None = None
) -> dict[str, float]:
    key = (metric.upper(), int(dim or 64), int(m or 16))
    if key not in _HOST_CALIBRATION:
        _HOST_CALIBRATION[key] = calibrate_router(
            metric=key[0], dim=key[1], m=key[2]
        )
    return _HOST_CALIBRATION[key]


class NpHnsw:
    """In-memory HNSW over a fixed vector matrix — the per-shard build
    and traversal kernel, also reusable driver-side as the coarse
    quantizer accelerator (the reference's optional HNSW coarse
    quantizer for IVFPQ, SURVEY K3).

    Distances are internal (smaller = better): L2 squared, or negated
    dot for IP/COSINE (cosine normalizes up front). Callers translate
    back to the presented score scale.
    """

    def __init__(
        self,
        m: int = DEFAULT_M,
        ef_construction: int = DEFAULT_EF_CONSTRUCTION,
        metric: str = "L2",
    ):
        self.m = int(m)
        self.m0 = 2 * self.m  # level-0 degree cap, as in hnswlib
        self.efc = int(ef_construction)
        self.ml = 1.0 / np.log(self.m) if self.m > 1 else 1.0
        self.metric = metric.upper()
        self.vecs: np.ndarray | None = None  # (n, d) transformed
        self.sq: np.ndarray | None = None  # row squared norms (L2 only)
        self.levels: np.ndarray | None = None
        # adj[node] = list over levels 0..levels[node] of int64 arrays
        self.adj: list[list[np.ndarray]] = []
        self.entry = -1
        self.max_level = -1

    # -- distance ---------------------------------------------------------
    def _prep(self, mat: np.ndarray) -> np.ndarray:
        mat = np.asarray(mat, dtype=np.float64)
        if self.metric == "COSINE":
            return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        return mat

    def _dists(self, q: np.ndarray, nodes: np.ndarray) -> np.ndarray:
        sub = self.vecs[nodes]
        if self.metric == "L2":
            d = self.sq[nodes] - 2.0 * (sub @ q)
            # the constant |q|^2 is omitted: rankings are unaffected and
            # every comparison in the traversal is within one query
            return d
        return -(sub @ q)

    # -- build ------------------------------------------------------------
    def build(self, mat: np.ndarray, seed: int = 42) -> "NpHnsw":
        mat = self._prep(mat)
        n = len(mat)
        self.vecs = mat
        if self.metric == "L2":
            self.sq = (mat * mat).sum(axis=1)
        rng = np.random.default_rng(seed)
        self.levels = np.floor(
            -np.log(np.maximum(rng.random(n), 1e-300)) * self.ml
        ).astype(np.int32)
        self.adj = [
            [np.empty(0, dtype=np.int64) for _ in range(self.levels[i] + 1)]
            for i in range(n)
        ]
        for i in range(n):
            self._insert(i)
        return self

    def _greedy(self, q: np.ndarray, ep: int, level: int) -> int:
        """ef=1 descent at one level (upper-layer zoom-in)."""
        cur = ep
        cur_d = self._dists(q, np.array([cur]))[0]
        improved = True
        while improved:
            improved = False
            nbrs = self.adj[cur][level]
            if len(nbrs) == 0:
                break
            d = self._dists(q, nbrs)
            j = int(d.argmin())
            if d[j] < cur_d:
                cur, cur_d = int(nbrs[j]), float(d[j])
                improved = True
        return cur

    def _search_layer(
        self, q: np.ndarray, eps: list[int], ef: int, level: int
    ) -> list[tuple[float, int]]:
        """Best-first expansion keeping the ef closest; returns
        (dist, node) sorted ascending. Frontier neighbor blocks are
        scored as one vectorized gather+BLAS call; the visited set is a
        reusable bool array (O(1) membership, no per-node hashing)."""
        eps = list(dict.fromkeys(eps))
        d0 = self._dists(q, np.asarray(eps, dtype=np.int64))
        visited = self._visited_buf()
        visited[eps] = True
        cand = [(float(d), int(e)) for d, e in zip(d0, eps)]  # min-heap
        heapq.heapify(cand)
        res = [(-float(d), int(e)) for d, e in zip(d0, eps)]  # max-heap
        heapq.heapify(res)
        while len(res) > ef:
            heapq.heappop(res)
        push_c, pop_c, push_r, pop_r = (
            heapq.heappush, heapq.heappop, heapq.heappush, heapq.heappop,
        )
        while cand:
            d, c = pop_c(cand)
            if len(res) >= ef and d > -res[0][0]:
                break
            nbrs = self.adj[c][level]
            if len(nbrs) == 0:
                continue
            fresh = nbrs[~visited[nbrs]]
            if len(fresh) == 0:
                continue
            visited[fresh] = True
            nd = self._dists(q, fresh)
            worst = -res[0][0] if len(res) >= ef else np.inf
            if len(res) >= ef:
                # exact-equivalent prefilter: worst only TIGHTENS while
                # pushing, so anything >= the entry worst would also be
                # rejected by the per-item check below — drop it before
                # the Python loop (r8; rejected neighbors stay visited,
                # as before)
                keep = nd < worst
                if not keep.all():
                    nd, fresh = nd[keep], fresh[keep]
            for dd, nb in zip(nd.tolist(), fresh.tolist()):
                if len(res) < ef or dd < worst:
                    push_c(cand, (dd, nb))
                    push_r(res, (-dd, nb))
                    if len(res) > ef:
                        pop_r(res)
                        worst = -res[0][0]
                    elif len(res) >= ef:
                        worst = -res[0][0]
        return sorted((-d, n) for d, n in res)

    def _visited_buf(self) -> np.ndarray:
        """Zeroed bool scratch of current graph size (fresh array —
        cheap next to traversal, and re-entrancy-safe)."""
        return np.zeros(len(self.vecs), dtype=bool)

    def _select_heuristic(
        self, dq: np.ndarray, ids: np.ndarray, m: int
    ) -> np.ndarray:
        """hnswlib getNeighborsByHeuristic2: keep a candidate only if it
        is closer to the query than to every already-kept neighbor —
        spreads links across directions instead of clustering them.

        ``(dq, ids)`` are the candidates' query distances and node ids,
        ascending by distance. Vectorized as one distance row per KEPT
        neighbor (≤ m rows over all candidates) instead of one gather
        per candidate (≤ |cands| rows over the kept set): a candidate
        is `dominated` once ANY kept neighbor is at least as close to
        it as the query is, and dominated flags only accumulate, so
        scanning forward over non-dominated candidates makes decisions
        IDENTICAL to the per-candidate form (r8 rewrite; parity pinned
        by test_select_heuristic_matches_reference). This was 54% of
        build wall time at 8k nodes (1.5M small gather+sum calls).

        r9: each kept neighbor's dominance row is computed only over
        the FORWARD TAIL ``j+1:`` — the scan moves strictly forward and
        ``dominated`` flags for already-visited positions are never
        read again, so truncating the row changes no decision; the
        tail slice is a contiguous view and numpy's per-row reduction
        is unchanged, so the surviving comparisons are bitwise the
        same as the full-row form (same parity tests pin it). Halves
        the dominance work and memory traffic on average — the shard
        build is bandwidth-bound under executor saturation (see the
        router-calibration findings in docs/SCALING.md)."""
        c = len(ids)
        if c <= m:
            return np.asarray(ids, dtype=np.int64).copy()
        sub = self.vecs[ids]
        dominated = np.zeros(c, dtype=bool)
        kept: list[int] = []
        j = 0
        while j < c and len(kept) < m:
            if dominated[j]:
                j += 1
                continue
            kept.append(j)
            if len(kept) >= m or j + 1 >= c:
                break
            tail = sub[j + 1 :]
            if self.metric == "L2":
                dk = ((tail - sub[j]) ** 2).sum(axis=1)
            else:
                dk = -(tail @ sub[j])
            # (dk > dq) is the original keep test against this kept
            # neighbor; accumulate its negation
            dominated[j + 1 :] |= dk <= dq[j + 1 :]
            j += 1
        return np.asarray(ids, dtype=np.int64)[kept]

    def _insert(self, i: int) -> None:
        level = int(self.levels[i])
        q = self.vecs[i]
        if self.entry < 0:
            self.entry, self.max_level = i, level
            return
        ep = self.entry
        for l in range(self.max_level, level, -1):
            ep = self._greedy(q, ep, l)
        eps = [ep]
        for l in range(min(level, self.max_level), -1, -1):
            cands = self._search_layer(q, eps, self.efc, l)
            mmax = self.m0 if l == 0 else self.m
            sel = self._select_heuristic(
                np.fromiter((d for d, _ in cands), np.float64, len(cands)),
                np.fromiter((c for _, c in cands), np.int64, len(cands)),
                self.m,
            )
            self.adj[i][l] = sel
            for s in sel:
                s = int(s)
                cur = self.adj[s][l]
                if len(cur) < mmax:
                    self.adj[s][l] = np.append(cur, i)
                else:
                    # re-select the backlink set with the heuristic,
                    # distances measured FROM s (hnswlib's prune path)
                    allc = np.append(cur, i)
                    sub = self.vecs[allc]
                    if self.metric == "L2":
                        ds = ((sub - self.vecs[s]) ** 2).sum(axis=1)
                    else:
                        ds = -(sub @ self.vecs[s])
                    order = np.argsort(ds, kind="stable")
                    self.adj[s][l] = self._select_heuristic(
                        ds[order], allc[order], mmax
                    )
            eps = [c for _, c in cands]
        if level > self.max_level:
            self.entry, self.max_level = i, level

    # -- search -----------------------------------------------------------
    def scan(
        self,
        qmat: np.ndarray,
        k: int,
        valid: np.ndarray | None = None,
        dist_lo: float = -np.inf,
        dist_hi: float = np.inf,
    ) -> tuple[np.ndarray, np.ndarray]:
        """EXACT top-k via blocked GEMM over the whole shard — the bulk
        twin of :meth:`search` with identical output contract
        (positions/-1 pads, internal distances/+inf pads, admission-only
        valid mask and band). Chunked over queries (4M float64 cells) so
        the score matrix stays ≤ 32 MB whatever the batch. Per-shard
        exact top-k makes the global merge exact (shards partition the
        corpus), so this path's recall is 1.0 by construction; distance
        ties at the k boundary keep the SMALLEST positions (positions
        map to docid-sorted order, so this matches knn_scan's and the
        oracle's smallest-docid tie rule — exact duplicate vectors
        produce such ties even on float metrics).

        Bit-reproducibility caveat (same as knn_scan): GEMM
        accumulation order varies with the query blocking, so scores
        across different ``qsplits`` agree to ~1e-12 relative, not to
        the last bit; ranks over distinct distances are stable."""
        qmat = self._prep(np.atleast_2d(np.asarray(qmat, dtype=np.float64)))
        nq = len(qmat)
        n = 0 if self.vecs is None else len(self.vecs)
        out_i = np.full((nq, k), -1, dtype=np.int64)
        out_d = np.full((nq, k), np.inf)
        if n == 0:
            return out_i, out_d
        kk = min(k, n)
        # small chunks + ONE reusable distance buffer + in-place ops:
        # the naive `sq - 2*(qb @ vecs.T)` allocates three matrices per
        # chunk and, under 32 concurrent workers, serializes on
        # mmap/page-zeroing — measured 7x slower than this form at the
        # 6k x 62k rehearsal shape (bit-identical results)
        chunk = max(1, int(4_000_000 // n))
        buf = None
        invalid = None if valid is None else ~valid
        for s in range(0, nq, chunk):
            qb = qmat[s : s + chunk]
            if buf is None or buf.shape[0] != len(qb):
                buf = np.empty((len(qb), n))
            np.matmul(qb, self.vecs.T, out=buf)
            if self.metric == "L2":
                buf *= -2.0
                buf += self.sq[None, :]
            else:
                buf *= -1.0
            if invalid is not None:
                buf[:, invalid] = np.inf
            if dist_lo != -np.inf or dist_hi != np.inf:
                np.copyto(buf, np.inf, where=(buf < dist_lo) | (buf > dist_hi))
            if kk < n:
                # boundary-tie repair (ADVICE r7): argpartition keeps
                # arbitrary tied members; rows whose kth distance ties
                # past the boundary re-select the smallest positions
                # among the tied set, exactly as knn_scan does. The
                # dual pivot puts the (kk+1)-th smallest at column kk,
                # so tie detection is one column compare — no extra
                # pass over the 32 MB buffer on this bandwidth-bound
                # path; only the (rare) tied rows rescan their row.
                pf = np.argpartition(buf, (kk - 1, kk), axis=1)
                part = pf[:, :kk]
                kth = np.take_along_axis(buf, pf[:, kk - 1 : kk], axis=1)[:, 0]
                nxt = np.take_along_axis(buf, pf[:, kk : kk + 1], axis=1)[:, 0]
                tied = np.flatnonzero(np.isfinite(kth) & (nxt == kth))
                for r in tied:
                    cand = np.flatnonzero(buf[r] <= kth[r])
                    part[r] = cand[np.lexsort((cand, buf[r][cand]))[:kk]]
            else:
                part = np.broadcast_to(np.arange(n), (len(qb), n)).copy()
            dd = np.take_along_axis(buf, part, axis=1)
            # (distance, position) order everywhere, not just at the
            # boundary: position order = docid order
            order = np.lexsort((part, dd), axis=1)
            idx = np.take_along_axis(part, order, axis=1)
            dd = np.take_along_axis(dd, order, axis=1)
            miss = ~np.isfinite(dd)
            idx[miss] = -1
            out_i[s : s + chunk, :kk] = idx
            out_d[s : s + chunk, :kk] = dd
        return out_i, out_d

    def search(
        self,
        qmat: np.ndarray,
        k: int,
        ef: int = DEFAULT_EF_SEARCH,
        valid: np.ndarray | None = None,
        dist_lo: float = -np.inf,
        dist_hi: float = np.inf,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k (positions, internal distances) per query row.

        ``valid`` masks result admission only — traversal still routes
        through invalid nodes (hnswlib filter semantics,
        `hnswalg.h:312-313`). ``dist_lo/hi`` is the F8 score band mapped
        into internal-distance space, likewise admission-only. Missing
        hits pad with position -1 / +inf.
        """
        qmat = self._prep(np.atleast_2d(np.asarray(qmat, dtype=np.float64)))
        nq = len(qmat)
        ef = max(ef, k)
        out_i = np.full((nq, k), -1, dtype=np.int64)
        out_d = np.full((nq, k), np.inf)
        if self.entry < 0:
            return out_i, out_d
        for r in range(nq):
            q = qmat[r]
            ep = self.entry
            for l in range(self.max_level, 0, -1):
                ep = self._greedy(q, ep, l)
            cands = self._search_layer(q, [ep], ef, 0)
            got = 0
            for d, c in cands:
                if got >= k:
                    break
                if valid is not None and not valid[c]:
                    continue
                if d < dist_lo or d > dist_hi:
                    continue
                out_i[r, got] = c
                out_d[r, got] = d
                got += 1
        return out_i, out_d


def _band_to_internal(
    metric: str, min_score, max_score, l2_sqrt: bool
) -> tuple[float, float]:
    """Map an F8 presented-score band onto the kernel's internal
    distance scale (L2: squared distance w/o the |q|^2 term is NOT
    band-comparable, so L2 bands are applied on the presented scale at
    emission instead — this helper only serves the dot metrics where
    internal = -score)."""
    lo, hi = -np.inf, np.inf
    if metric in ("IP", "COSINE"):
        if max_score is not None:
            lo = -float(max_score)
        if min_score is not None:
            hi = -float(min_score)
    return lo, hi


class HnswIndex:
    """RetrievalModel protocol (build/search/knn_join_distributed) for
    sharded HNSW graphs."""

    name = "HNSW"

    def __init__(
        self,
        index_df: DataFrame,
        nshards: int,
        metric: str,
        doc_vec: str,
        m: int = DEFAULT_M,
        path: str | None = None,
        router: dict[str, float] | None = None,
        dim: int | None = None,
    ):
        self.index_df = index_df
        self.nshards = int(nshards)
        self.metric = metric.upper()
        self.doc_vec = doc_vec
        self.m = m
        self.path = path
        # calibrated routing constants; env vars override inside
        # _route_to_scan, saturated keys (when present) win over solo
        self.router = router or {}
        # vector dimensionality, recorded at build so host calibration
        # probes at the index's own operating point (ADVICE r8); None
        # on legacy loads — resolved lazily from the graph at query
        # time where needed
        self.dim = dim
        # shards that hold docs, recorded at build/append (None: unknown)
        self._filled_shards: list[int] | None = None

    # -- build -----------------------------------------------------------
    @classmethod
    def build(
        cls,
        docs: DataFrame,
        doc_vec: str = "embedding",
        nshards: int = 8,
        m: int = DEFAULT_M,
        ef_construction: int = DEFAULT_EF_CONSTRUCTION,
        metric: str = "L2",
        seed: int = 42,
        path: str | None = None,
        saturate: int | None = None,
    ) -> "HnswIndex":
        metric_u = metric.upper()
        if metric_u not in ("IP", "L2", "COSINE"):
            raise ValueError(f"HNSW: unsupported metric {metric_u}")
        nshards = max(1, int(nshards))
        sharded = docs.withColumn(
            "_shard", F.pmod(F.xxhash64(F.col("_docid")), F.lit(nshards)).cast("int")
        )

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("_docid").reset_index(drop=True)
            mat = stack_vectors(
                pdf[doc_vec].to_numpy(), "HNSW shard build (docs)"
            )
            shard = int(pdf["_shard"].iloc[0])
            g = NpHnsw(m=m, ef_construction=ef_construction, metric=metric_u)
            # per-shard seed keeps shards independent yet reproducible
            g.build(mat, seed=seed + shard)
            pdf["_pos"] = np.arange(len(pdf), dtype=np.int32)
            pdf["_level"] = g.levels.astype(np.int32)
            pdf["_nbrs"] = [
                [[int(x) for x in lvl] for lvl in g.adj[i]] for i in range(len(pdf))
            ]
            return pdf

        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        schema = StructType(
            list(sharded.schema.fields)
            + [
                StructField("_pos", IntegerType()),
                StructField("_level", IntegerType()),
                StructField("_nbrs", ArrayType(ArrayType(IntegerType()))),
            ]
        )
        # pin one build task per shard — AQE's byte-based coalescing
        # would pack the CPU-heavy graph constructions onto 1-2 cores
        # (session.partition_for_kernel)
        from gamma_spark.session import partition_for_kernel

        graph = (
            partition_for_kernel(sharded, ["_shard"], nshards)
            .groupBy("_shard")
            .applyInPandas(build_shard, schema=schema)
        )
        # the shards that hold docs (search fans queries out to these
        # only): one narrow pass over the source ids
        filled = sorted(int(r[0]) for r in sharded.select("_shard").distinct().collect())
        router = None
        dim = None
        if path:
            graph.repartition("_shard").write.mode("overwrite").partitionBy(
                "_shard"
            ).parquet(os.path.join(path, "graph"))
            from gamma_spark.io_util import atomic_write_json

            # measure the routing constants on this host (memoized per
            # process per operating point) and persist them with the
            # index (VERDICT r7 #2) — probed at the index's OWN dim and
            # metric (the ratio-preservation argument only holds when
            # the probe matches the operating point); an empty relation
            # skips calibration. Path-backed builds run the SATURATED
            # concurrent probe BY DEFAULT (VERDICT r9 #3: the solo
            # ratio assumption measurably fails — the scan GEMM derates
            # 2.1x under 32-way concurrency while traversal barely
            # moves, so solo constants over-route to the scan); the
            # solo pair is persisted alongside for diagnostics.
            # ``saturate=1`` (or SPARK_GRAFT_HNSW_CALIB_PROCS=1; an
            # explicit =0 also means solo — ADVICE r10) restores
            # solo-only probing.
            first = docs.select(doc_vec).first()
            if first is not None:
                dim = len(first[0])
                if saturate is not None:
                    procs = int(saturate)
                else:
                    env = _calib_procs_env()
                    procs = env if env is not None else min(
                        os.cpu_count() or 1, 32
                    )
                router = _build_router_constants(dim, m, metric_u, procs)
            atomic_write_json(
                os.path.join(path, "meta.json"),
                {
                    "model": cls.name,
                    "nshards": nshards,
                    "metric": metric_u,
                    "doc_vec": doc_vec,
                    "m": m,
                    "router": router,
                    "dim": dim,
                    "shards": filled,
                },
            )
            graph = docs.sparkSession.read.parquet(os.path.join(path, "graph"))
        idx = cls(
            graph, nshards, metric_u, doc_vec, m=m, path=path, router=router,
            dim=dim,
        )
        idx._filled_shards = filled
        # the source relation makes the operating-point dim resolvable
        # for in-memory indexes without re-running the graph build —
        # pinned ONLY while dim is unresolved (a path-backed build
        # records dim above): holding a DataFrame plan for the index's
        # whole lifetime keeps dead lineage alive, and in streaming the
        # source is a batch-scoped foreachBatch relation
        if dim is None:
            idx._src_docs = docs
        return idx

    def append(
        self,
        new_docs: DataFrame,
        nshards: int = 1,
        ef_construction: int = DEFAULT_EF_CONSTRUCTION,
        seed: int = 42,
    ) -> "HnswIndex":
        """T2-style micro-batch append: the new docs become ``nshards``
        fresh graph segments (ids continue past the existing shards) —
        the per-segment growth pattern of Lucene/Vespa HNSW. Existing
        graphs are never touched (append-only, no retrain, mirroring
        gamma's background AddRTVecsToIndex contract,
        `vector/vector_manager.cc:280-382`); search fan-out widens to
        the new segment count. Periodic compaction = rebuild at a
        larger nshards."""
        base = self.nshards
        fresh = HnswIndex.build(
            new_docs,
            doc_vec=self.doc_vec,
            nshards=nshards,
            m=self.m,
            ef_construction=ef_construction,
            metric=self.metric,
            seed=seed + base,
        )
        shifted = fresh.index_df.withColumn(
            "_shard", (F.col("_shard") + F.lit(base)).cast("int")
        )
        merged = self.index_df.unionByName(shifted)
        filled = self._filled_shards
        if filled is not None:
            filled = filled + [base + sh for sh in fresh._filled_shards]
        # resolve the operating-point dim from the appended batch when
        # this index predates dim recording: fresh was built path-less
        # so fresh.dim is None, but its source relation is new_docs —
        # one narrow first() row, not a graph build
        dim = self.dim or fresh._probe_dim()
        if self.path:
            from gamma_spark.io_util import atomic_write_json, writer_lock

            # whole commit under the store's writer lock (same contract
            # as Bm25Index/dedup appends): a second concurrent appender
            # fails fast with ConcurrentWriterError instead of both
            # reading nshards=N and the later meta rewrite dropping the
            # other's committed segment; _backfill_router_meta takes
            # the same lock, so a lazy router backfill can never land
            # a stale nshards over a mid-flight append either
            with writer_lock(self.path):
                # stale-handle guard (same contract as
                # BucketedDocStore._swap_commit): SEQUENTIAL appenders
                # from separately opened handles never contend on the
                # lock, but a handle opened at nshards=N would mint
                # segment ids from N after another handle already
                # advanced the store — its parquet append would land in
                # an EXISTING _shard partition, interleaving two
                # unrelated graphs' adjacency rows. The shifted ids are
                # already baked from the stale base; fail fast.
                from gamma_spark.io_util import (
                    ConcurrentWriterError,
                    read_json_or_none,
                )

                disk_meta = read_json_or_none(
                    os.path.join(self.path, "meta.json")
                )
                if disk_meta is not None and int(disk_meta["nshards"]) != base:
                    raise ConcurrentWriterError(
                        f"index {self.path} is at nshards="
                        f"{disk_meta['nshards']} but this handle was "
                        f"opened at nshards={base}; re-load the index "
                        "and retry the append"
                    )
                # torn-append guard: a crash between a prior append's
                # parquet write and its meta rewrite leaves an orphan
                # _shard=<base> partition meta doesn't know about —
                # appending into it would interleave two graphs' rows
                graph_dir = os.path.join(self.path, "graph")
                try:
                    orphans = [
                        int(d.split("=", 1)[1])
                        for d in os.listdir(graph_dir)
                        if d.startswith("_shard=")
                    ]
                except (OSError, ValueError):
                    orphans = []
                if orphans and max(orphans) >= base:
                    raise ConcurrentWriterError(
                        f"index {self.path} has segment dirs up to "
                        f"_shard={max(orphans)} but meta records "
                        f"nshards={base} — a prior append crashed "
                        "between its parquet write and meta rewrite; "
                        "remove the orphan _shard dirs (or bump "
                        "meta nshards to adopt them) before appending"
                    )
                shifted.repartition("_shard").write.mode("append").partitionBy(
                    "_shard"
                ).parquet(os.path.join(self.path, "graph"))
                # in-place meta rewrite on a standing index — atomic,
                # same rationale as BucketedDocStore._commit_meta
                atomic_write_json(
                    os.path.join(self.path, "meta.json"),
                    {
                        "model": self.name,
                        "nshards": base + nshards,
                        "metric": self.metric,
                        "doc_vec": self.doc_vec,
                        "m": self.m,
                        "router": self.router or None,
                        "dim": dim,
                        "shards": filled,
                    },
                )
            merged = self.index_df.sparkSession.read.parquet(
                os.path.join(self.path, "graph")
            )
        out = HnswIndex(
            merged, base + nshards, self.metric, self.doc_vec, m=self.m,
            path=self.path, router=self.router, dim=dim,
        )
        out._filled_shards = filled
        # keep the operating-point dim resolvable for in-memory chains
        # (any source relation works, every segment shares the dim) —
        # but only while dim is still unresolved, so append chains
        # don't carry an expired relation forever
        if dim is None:
            out._src_docs = getattr(self, "_src_docs", None)
            if out._src_docs is None:
                out._src_docs = new_docs
        return out

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "HnswIndex":
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        idx = cls(
            spark.read.parquet(os.path.join(path, "graph")),
            meta["nshards"],
            meta["metric"],
            meta["doc_vec"],
            m=meta.get("m", DEFAULT_M),
            path=path,
            router=meta.get("router") or None,
            dim=meta.get("dim"),
        )
        idx._filled_shards = meta.get("shards")  # None: written before it was recorded
        return idx

    def _probe_dim(self) -> int | None:
        """Operating-point dim for host calibration, resolved WITHOUT
        touching index_df (a first() there would execute the whole
        per-shard graph build for an in-memory index): the recorded
        build dim, else one narrow row off the build-time source
        relation, else None (caller probes at the default shape)."""
        if self.dim:
            return self.dim
        src = getattr(self, "_src_docs", None)
        if src is not None:
            row = src.select(self.doc_vec).first()
            if row is not None:
                self.dim = len(row[0])
                # resolved: drop the pinned source plan (see build())
                self._src_docs = None
        return self.dim

    def _backfill_router_meta(self) -> None:
        """Best-effort persist of lazily-probed router constants for a
        legacy index (meta predates calibration). The read-modify-write
        runs under the store's writer lock so it cannot interleave with
        an append's nshards bump (reading fresh alone leaves a window:
        read nshards=8 → append commits nshards=9 → stale rewrite would
        hide the new segment from every future load). If a writer holds
        the lock, or the meta is unreadable/corrupt, the backfill is
        skipped — the probe just re-runs on the next process."""
        if not self.path:
            return
        from gamma_spark.io_util import (
            ConcurrentWriterError,
            atomic_write_json,
            writer_lock,
        )

        try:
            with writer_lock(self.path):
                with open(os.path.join(self.path, "meta.json")) as fh:
                    meta = json.load(fh)
                meta["router"] = self.router or None
                if self.dim:
                    meta.setdefault("dim", self.dim)
                atomic_write_json(os.path.join(self.path, "meta.json"), meta)
        except (OSError, ValueError, ConcurrentWriterError):
            # ValueError covers JSONDecodeError on a truncated meta
            pass

    # -- search ----------------------------------------------------------
    def knn_join_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str | None = None,
        ef_search: int = DEFAULT_EF_SEARCH,
        predicate: Column | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
        l2_sqrt: bool = False,
        min_score: float | None = None,
        max_score: float | None = None,
        qsplits: int = 1,
        mode: str = "auto",
        profile: dict | None = None,
        **_ignored,
    ) -> DataFrame:
        """Fan-out graph search: queries × shards → ONE cogroup shuffle
        on (_shard, _qs) → per-shard kernel (k admitted hits per query
        per shard) → global top-k. The queries relation is never
        collected; ``qsplits`` bounds per-task query count for
        corpus-scale joins (graph rows replicate per split).

        ``mode``: ``"auto"`` routes each shard block to graph traversal
        or the exact GEMM scan by the per-query cost model
        (:func:`_route_to_scan` — the scan wins on small/medium shards
        and is exact by construction, the graph wins on huge shards);
        ``"graph"`` / ``"scan"`` force a kernel."""
        metric_u = (metric or self.metric).upper()
        if metric_u != self.metric:
            raise ValueError(
                f"HNSW graph was built for {self.metric}; links are "
                f"metric-specific (rebuild for {metric_u})"
            )
        if mode not in ("auto", "graph", "scan"):
            raise ValueError(f"mode must be auto/graph/scan, got {mode!r}")
        # constant resolution happens ON THE DRIVER — env override
        # first, then the index meta's SATURATED calibration (probed
        # under N-way contention, VERDICT r8 #4), then the solo
        # calibration, then (auto mode with no persisted constants) a
        # host probe: once-per-process for in-memory indexes, once-per-
        # INDEX with a meta backfill for legacy persisted indexes built
        # before router calibration existed (ADVICE r8). Resolving env
        # here matters for the per-shard kernel below: executor Python
        # workers inherit the EXECUTOR's environment, not the driver
        # script's, so an os.environ set after session start (or any
        # real-cluster deploy) would silently not reach the cogroup
        # kernel.
        def _tiered(env_name: str, *meta_keys: str) -> float | None:
            # env > saturated meta > solo meta, `is None` tiering — a
            # persisted 0.0 raises via _calibrated_float instead of
            # silently falling through (ADVICE r9)
            v = _env_float(env_name)
            if v is not None:
                return v
            for key in meta_keys:
                v = _calibrated_float(self.router.get(key), key)
                if v is not None:
                    return v
            return None

        r_macs = _tiered(
            ENV_SCAN_MACS, "saturated_scan_macs_per_sec", "scan_macs_per_sec"
        )
        r_spq = _tiered(
            ENV_GRAPH_SPQ,
            "saturated_graph_sec_per_query",
            "graph_sec_per_query",
        )
        if (
            mode == "auto"
            and not self.path
            and (r_macs is None or r_spq is None)
        ):
            # in-memory index without persisted constants: probe at
            # this index's operating point when the build-time source
            # relation (or a recorded dim) makes it cheap to resolve —
            # a first() on index_df itself would re-run the graph
            # build, so a direct-constructed index without dim falls
            # back to the default probe shape (documented
            # approximation; the memo is keyed on the resolved shape)
            host = _host_calibration(self.metric, self._probe_dim(), self.m)
            if r_macs is None:
                r_macs = host["scan_macs_per_sec"]
            if r_spq is None:
                r_spq = host["graph_sec_per_query"]
        if mode == "auto" and self.path:
            # parquet-backed: resolve the route driver-side (count is
            # metadata-only under aggregate pushdown, dim reads one row)
            # so the scan plan can PRUNE the adjacency columns below —
            # shipping + Arrow-deserializing _nbrs is a large share of
            # the cogroup cost the scan doesn't need. In-memory indexes
            # keep per-shard kernel routing (a count would re-run the
            # whole graph build).
            live = self.index_df
            if "_deleted" in live.columns:
                live = live.filter(~F.col("_deleted"))
            total = live.count()
            first = live.select(self.doc_vec).first()
            if first is None:
                # empty index: no hits either way; the scan kernel is
                # the cheaper no-op (no graph deserialization)
                mode = "scan"
            else:
                if r_macs is None or r_spq is None:
                    # legacy persisted index whose meta predates router
                    # calibration: probe once at the index's OWN
                    # dim/m/metric, then backfill the meta so the
                    # ~0.5 s probe runs once per INDEX, not once per
                    # driver process (ADVICE r8)
                    cal = calibrate_router(
                        dim=len(first[0]), m=self.m, metric=self.metric
                    )
                    self.router = {**self.router, **cal}
                    self.dim = self.dim or len(first[0])
                    if r_macs is None:
                        r_macs = cal["scan_macs_per_sec"]
                    if r_spq is None:
                        r_spq = cal["graph_sec_per_query"]
                    self._backfill_router_meta()
                mode = (
                    "scan"
                    if _route_to_scan(
                        max(1, total // self.nshards), len(first[0]),
                        ef=max(int(ef_search), int(k)), m=self.m,
                        scan_macs=r_macs, graph_spq=r_spq,
                    )
                    else "graph"
                )
        spark = self.index_df.sparkSession
        qsplits = max(1, int(qsplits))
        k_ = int(k)
        ef = max(int(ef_search), k_)
        mname = self.metric
        dvec = self.doc_vec
        m_ = self.m

        g = self.index_df
        valid_col = F.lit(True)
        if predicate is not None:
            valid_col = valid_col & predicate
        if "_deleted" in g.columns:
            valid_col = valid_col & ~F.col("_deleted")
        graph_cols = [] if mode == "scan" else ["_level", "_nbrs"]
        gsel = g.select(
            "_shard",
            "_pos",
            *graph_cols,
            F.col("_docid"),
            F.col(dvec).alias("_dvec"),
            valid_col.alias("_valid"),
        )
        if qsplits > 1:
            splits = spark.range(qsplits).select(F.col("id").cast("int").alias("_qs"))
            gsel = gsel.crossJoin(F.broadcast(splits))
        else:
            gsel = gsel.withColumn("_qs", F.lit(0))

        shards_rel = spark.range(self.nshards).select(
            F.col("id").cast("int").alias("_shard")
        )
        if self._filled_shards is not None and len(self._filled_shards) < self.nshards:
            # a shard without docs would give the cogroup an empty
            # graph side, which crashes PySpark's Arrow -> pandas step
            # for the nested adjacency column before per_shard runs:
            # send queries only to shards that hold docs
            shards_rel = shards_rel.filter(F.col("_shard").isin(self._filled_shards))
        # parallelize the nshards fan-out when the query relation
        # arrives under-partitioned (same single-task-probe fix as the
        # IVF distributed join; metadata-only, no-op at scale)
        from gamma_spark.session import ensure_parallelism

        qsel = (
            ensure_parallelism(
                queries.select(
                    F.col(query_id).alias("qid"), F.col(query_vec).alias("_qvec")
                ),
                fanout=float(self.nshards),
            )
            .crossJoin(F.broadcast(shards_rel))
            .withColumn(
                "_qs", F.pmod(F.xxhash64(F.col("qid")), F.lit(qsplits)).cast("int")
            )
        )

        dlo, dhi = _band_to_internal(metric_u, min_score, max_score, l2_sqrt)
        # L2 internal distance drops |q|^2, so the band can't map there;
        # admit on the presented score at emission instead (still
        # pre-top-k within the shard, preserving F8 pre-band semantics)
        band_at_emit = metric_u == "L2" and (
            min_score is not None or max_score is not None
        )

        def per_shard(qpdf: pd.DataFrame, gpdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"qid": [], "_docid": [], "score": []}).astype(
                {"qid": "int64", "_docid": "int64", "score": "float64"}
            )
            if qpdf.empty or gpdf.empty:
                return empty
            # optional stage-level profile (VERDICT r10 #4): the caller
            # passes a dict of spark accumulators; each cogroup block
            # books its executor-side seconds per segment. Dormant cost
            # when profile is None: one `if` per segment.
            tp0 = time.perf_counter() if profile else 0.0
            order = np.argsort(gpdf["_pos"].to_numpy(), kind="stable")
            mat = stack_vectors(
                gpdf["_dvec"].to_numpy(), "HNSW cogroup (docs)"
            )[order]
            ids = gpdf["_docid"].to_numpy(dtype=np.int64)[order]
            valid = gpdf["_valid"].to_numpy(dtype=bool)[order]

            g = NpHnsw(m=m_, ef_construction=DEFAULT_EF_CONSTRUCTION, metric=mname)
            g.vecs = g._prep(mat)
            if mname == "L2":
                g.sq = (g.vecs * g.vecs).sum(axis=1)
            qmat = stack_vectors(
                qpdf["_qvec"].to_numpy(), "HNSW search (queries)"
            ).astype(np.float64)
            qids = qpdf["qid"].to_numpy(dtype=np.int64)
            kk = k_ if not band_at_emit else ef  # keep all, band below
            use_scan = mode == "scan" or (
                mode == "auto"
                and _route_to_scan(
                    len(ids), mat.shape[1], ef=ef, m=m_,
                    scan_macs=r_macs, graph_spq=r_spq,
                )
            )
            if profile:
                profile["stack_s"].add(time.perf_counter() - tp0)
                profile["blocks"].add(1)
                profile["rows"].add(len(ids))
                profile["queries"].add(len(qids))
                tp0 = time.perf_counter()
            if use_scan:
                # bulk path: exact GEMM scan — no graph state needed
                pos, dist = g.scan(
                    qmat, kk, valid=valid, dist_lo=dlo, dist_hi=dhi
                )
            else:
                levels = gpdf["_level"].to_numpy(dtype=np.int64)[order]
                nbrs_raw = gpdf["_nbrs"].to_numpy()[order]
                g.levels = levels
                g.adj = [
                    [np.asarray(lvl, dtype=np.int64) for lvl in row]
                    for row in nbrs_raw
                ]
                top = int(levels.max())
                # deterministic entry: highest level, lowest position
                g.entry = int(np.flatnonzero(levels == top)[0])
                g.max_level = top
                if profile:
                    profile["adj_s"].add(time.perf_counter() - tp0)
                    tp0 = time.perf_counter()
                pos, dist = g.search(
                    qmat, kk, ef=ef, valid=valid, dist_lo=dlo, dist_hi=dhi
                )
            if profile:
                profile["kernel_s"].add(time.perf_counter() - tp0)
                tp0 = time.perf_counter()
            keep = pos.ravel() >= 0
            qrep = np.repeat(qids, kk)[keep]
            p = pos.ravel()[keep]
            d = dist.ravel()[keep]
            if mname == "L2":
                qsq = (qmat * qmat).sum(axis=1)
                score = d + np.repeat(qsq, kk)[keep]
                np.maximum(score, 0.0, out=score)
                if l2_sqrt:
                    np.sqrt(score, out=score)
            else:
                score = -d
            out = pd.DataFrame({"qid": qrep, "_docid": ids[p], "score": score})
            if band_at_emit:
                if min_score is not None:
                    out = out[out["score"] >= min_score]
                if max_score is not None:
                    out = out[out["score"] <= max_score]
                out = (
                    out.sort_values(["qid", "score", "_docid"])
                    .groupby("qid", sort=False)
                    .head(k_)
                )
            if profile:
                profile["emit_s"].add(time.perf_counter() - tp0)
            return out.reset_index(drop=True)

        # pin the kernel fan-out: AQE would coalesce this few-MB shuffle
        # by bytes and serialize the per-shard traversals onto 1-2 cores
        # (see session.partition_for_kernel; measured 4.6 s -> 1.5 s)
        from gamma_spark.session import partition_for_kernel

        ng = self.nshards * max(1, qsplits)
        partials = (
            partition_for_kernel(qsel, ["_shard", "_qs"], ng)
            .groupby("_shard", "_qs")
            .cogroup(
                partition_for_kernel(gsel, ["_shard", "_qs"], ng)
                .groupby("_shard", "_qs")
            )
            .applyInPandas(per_shard, schema="qid long, _docid long, score double")
        )
        from gamma_spark.functions import vector as V
        from gamma_spark.operators.topk import topk

        asc = V.metric_ascending(metric_u)
        return topk(partials, ["qid"], "score", k_, ascending=asc, tiebreak_cols=["_docid"])

    def search(
        self,
        docs: DataFrame,  # unused; graph relation carries the docs (protocol)
        queries: DataFrame,
        k: int = 10,
        metric: str | None = None,
        doc_vec: str | None = None,
        predicate: Column | None = None,
        min_score: float | None = None,
        max_score: float | None = None,
        l2_sqrt: bool = False,
        ef_search: int = DEFAULT_EF_SEARCH,
        query_id: str = "qid",
        query_vec: str = "qvec",
        mode: str = "auto",
        profile: dict | None = None,
        **_ignored,
    ) -> DataFrame:
        """Request-path search — same plan as the distributed join (no
        driver collect is ever needed for HNSW: there is no centroid
        probe step)."""
        return self.knn_join_distributed(
            queries,
            k=k,
            metric=metric,
            ef_search=ef_search,
            predicate=predicate,
            query_id=query_id,
            query_vec=query_vec,
            l2_sqrt=l2_sqrt,
            min_score=min_score,
            max_score=max_score,
            mode=mode,
            profile=profile,
        )
