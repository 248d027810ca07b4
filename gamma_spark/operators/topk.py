"""Per-group top-k selection.

The reference selects top-k with faiss binary heaps per query
(`index/impl/gamma_index_ivfpq.cc:570-596`). The Spark translation is a
window ``row_number() <= k`` partitioned by the query id.

Scale note: a window shuffles every candidate row to its group's
reducer, so this must only ever see a *reduced* candidate relation. The
reduction itself lives upstream: the brute-force scan kernel
(:func:`gamma_spark.operators.knn.knn_scan`) keeps per-input-partition
heaps (mirroring gamma's per-chunk heaps, `gamma_index_flat.cc:234-268`)
and emits only ``k`` rows per (query, partition); IVF search only emits
candidates from ``nprobe`` buckets. Feeding the raw |docs| x |queries|
cross product through here is correct but intentionally the slow path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_running_topk(
    cur_s: np.ndarray,
    cur_i: np.ndarray,
    batch_s: np.ndarray,
    batch_i: np.ndarray,
    kk: int,
    asc: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Merge a batch's candidate columns into per-row running top-``kk``
    (the numpy analogue of the reference's per-chunk binary heaps,
    `gamma_index_flat.cc:234-268`) — ONE shared kernel for the knn_scan
    and IVF request-scan merges (every scorer), gated by the driver's
    hash-matched rows.

    ``cur_s``/``cur_i`` are the (Q, kk) running best; ``batch_s``/
    ``batch_i`` the batch's (Q, B) candidates with B >= 1 — the merged
    width kk+B therefore always exceeds kk, so the (kk+1)-th column the
    dual-pivot tie detection probes always exists (callers skip empty
    batches). Boundary ties keep the SMALLEST ids (the SQL oracle's tie
    order): the (kk+1)-th smallest landing at column kk makes one
    column compare detect a straddling tie (dual-pivot form), and
    only tied rows pay the (score, id) lexsort repair. A non-finite kth
    means fewer than kk in-band candidates — every finite one is kept
    and inf pads are dropped at emission, so no repair is needed.
    (Corollary: a doc whose TRUE score is non-finite — an inf/NaN
    component in a stored vector — is indistinguishable from a band
    pad and never emitted; both callers filter
    ``isfinite(score)`` at emission. Finite inputs are the kernels'
    documented contract.)"""
    cand_s = np.concatenate([cur_s, batch_s], axis=1)
    cand_i = np.concatenate([cur_i, batch_i], axis=1)
    skey = cand_s if asc else -cand_s
    pf = np.argpartition(skey, (kk - 1, kk), axis=1)
    part = pf[:, :kk]
    kth = np.take_along_axis(skey, pf[:, kk - 1 : kk], axis=1)[:, 0]
    nxt = np.take_along_axis(skey, pf[:, kk : kk + 1], axis=1)[:, 0]
    tied = np.flatnonzero(np.isfinite(kth) & (nxt == kth))
    out_s = np.take_along_axis(cand_s, part, axis=1)
    out_i = np.take_along_axis(cand_i, part, axis=1)
    for r in tied:
        cand = np.flatnonzero(skey[r] <= kth[r])
        sel = cand[np.lexsort((cand_i[r][cand], skey[r][cand]))[:kk]]
        out_s[r] = cand_s[r][sel]
        out_i[r] = cand_i[r][sel]
    return out_s, out_i


def select_topk_columns(skey: np.ndarray, kk: int) -> np.ndarray:
    """Per row, the column positions of the ``kk`` smallest keys in
    (key, column) order — the per-cluster top-k of the IVF cogroup
    kernels, whose columns are docid-ordered, so ties break to the
    smaller docid exactly like the SQL oracle. One axis=1 lexsort orders
    every row; argpartition picks ARBITRARY members among ties that
    straddle the kk boundary, so only rows where a straddle actually
    occurs pay the per-row repair (integer-valued metrics like HAMMING
    and low-entropy ADC codes tie often, float scores almost never)."""
    if skey.shape[1] <= kk:
        # stable argsort == per-row lexsort((pos, skey))
        return np.argsort(skey, axis=1, kind="stable")[:, :kk]
    pre = np.argpartition(skey, kk - 1, axis=1)[:, :kk]
    vals = np.take_along_axis(skey, pre, axis=1)
    sel = np.take_along_axis(pre, np.lexsort((pre, vals), axis=1), axis=1)
    kth = vals.max(axis=1)
    straddle = np.flatnonzero(
        np.isfinite(kth) & ((skey <= kth[:, None]).sum(axis=1) > kk)
    )
    for r in straddle:
        cand = np.flatnonzero(skey[r] <= kth[r])
        sel[r] = cand[np.lexsort((cand, skey[r][cand]))[:kk]]
    return sel


def topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    ascending: bool,
    rank_col: str | None = "rank",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the k best rows per group ordered by ``order_col``.

    Ties are broken by ``tiebreak_cols`` (default: none — callers on
    continuous scores) to keep results deterministic.
    """
    # NULLS LAST explicitly: Spark's asc() is NULLS FIRST, so a NULL
    # score (e.g. a NULL vector flowing through the expression kernel
    # on a dirty corpus) would silently displace every real result from
    # an ascending-metric top-k; DuckDB's ORDER BY default is NULLS
    # LAST, so this also keeps the oracle convention. No effect on
    # clean data (kernel scores are non-null there).
    order = [
        F.col(order_col).asc_nulls_last()
        if ascending
        else F.col(order_col).desc_nulls_last()
    ]
    for c in tiebreak_cols or []:
        order.append(F.col(c).asc())
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order)
    out = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    if rank_col:
        return out.withColumnRenamed("_rn", rank_col)
    return out.drop("_rn")
