"""Plan-shape regression gate (VERDICT r6 #6): regenerates the
plan-audit fingerprints in-suite at the smoke SF so the committed
docs/PLAN_AUDIT.md invariants can't silently go stale.

Two invariants are load-bearing for the 100 TB story and are asserted
hard here:

- NO audited plan may contain a row-at-a-time Python eval
  (BatchEvalPython) — the one shape that is never acceptable
  (SURVEY §4 O9); kernel drops must be Arrow-vectorized.
- The scan-stage-only operators (pii_scrub, filter_range_term) must
  stay at ZERO data-moving exchanges — their whole design is that a
  100x scale-up costs exactly one pass over the scan.

The full fingerprint table (shuffle/broadcast/codegen counts per
query) remains `tools/plan_audit.py`'s artifact; this test keeps the
non-negotiable subset green on every pytest run.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from plan_audit import AUDIT_SET, fingerprint  # noqa: E402

# operators documented as scan-stage-only: any exchange appearing in
# their plan is a regression, not tuning
_SCAN_STAGE_ONLY = {"pii_scrub": 0, "filter_range_term": 0}

# Per-query MAXIMUM data-moving exchange counts (VERDICT r7 #4),
# pinned at the docs/PLAN_AUDIT.md values of the r7 plans: an
# accidental extra shuffle on any audited row fails the suite instead
# of surfacing as a doc diff. Ceilings are maxima — a plan that LOSES
# a shuffle passes (then lower the ceiling when updating the doc).
_SHUFFLE_CEILINGS = {
    "knn_metrics_topk": 3,
    "knn_ip_filtered_banded": 1,
    "knn_ivfflat_exact": 1,
    "knn_ivfpq_variants_exact": 7,
    "knn_graph_models_exact": 5,
    "knn_fusion_multivector": 16,
    "search_request_full": 2,
    "filter_range_term": 0,
    "bm25_topk": 6,
    "hybrid_rrf": 11,
    "dedup_minhash_verified": 3,
    "paragraph_dedup": 2,
    "pii_scrub": 0,
    "mixture_sample": 1,
    "pack_sequences": 3,
    "lm_perplexity": 3,
    "events_session_window": 1,
    "pricing_summary": 1,
}


@pytest.fixture(scope="module")
def audit_fps(spark, sf_dir):
    import __spark_entry__ as entry_mod
    import bench

    # same resolution map as tools/plan_audit.py main(): registry rows
    # win (the audit fingerprints the full registry plans), bench-only
    # stable names fill in for consolidated-away entries
    qs = {**bench.extra_queries(entry_mod), **entry_mod.queries()}
    # fingerprint in the SAME planning environment as tools/plan_audit.py
    # (AQE off, cold cache): under AQE planning, exchanges that runtime
    # reuse would dedupe print as separate nodes, and cached relations
    # left by earlier test modules substitute into equal logical plans
    # (InMemoryTableScan instead of parquet), both skewing counts vs
    # the doc
    spark.catalog.clearCache()
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return {
            name: fingerprint(qs[name](spark, sf_dir)) for name in AUDIT_SET
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_no_row_at_a_time_python_eval(audit_fps):
    offenders = {n: fp for n, fp in audit_fps.items() if fp["py_row"]}
    assert not offenders, (
        f"row-at-a-time BatchEvalPython crept into: {offenders} — "
        "rewrite the kernel as a pandas/Arrow UDF"
    )


def test_scan_stage_operators_stay_shuffle_free(audit_fps):
    for name, budget in _SCAN_STAGE_ONLY.items():
        got = audit_fps[name]["shuffles"]
        assert got <= budget, (
            f"{name} grew a shuffle ({got} > {budget}): it is documented "
            "as scan-stage-only (docs/PLAN_AUDIT.md)"
        )


def test_shuffle_counts_within_ceilings(audit_fps):
    """Every audited plan's exchange count stays at or below its
    pinned r7 value — one accidental extra shuffle on a flagship path
    is a 100x-scale regression and must be a red test, not a doc
    diff."""
    assert set(_SHUFFLE_CEILINGS) == set(AUDIT_SET), (
        "AUDIT_SET changed: add a ceiling for every audited query"
    )
    over = {
        n: (fp["shuffles"], _SHUFFLE_CEILINGS[n])
        for n, fp in audit_fps.items()
        if fp["shuffles"] > _SHUFFLE_CEILINGS[n]
    }
    assert not over, (
        f"shuffle-count regressions (got > ceiling): {over} — either an "
        "accidental extra exchange crept into the plan, or the workload "
        "legitimately changed (then update docs/PLAN_AUDIT.md AND this "
        "ceiling in the same commit)"
    )


def test_pushdown_still_reaches_parquet(audit_fps):
    """filter_range_term's predicates must reach the scan: a plan whose
    parquet scans all carry empty PushedFilters re-reads every row
    group at 100 TB."""
    assert audit_fps["filter_range_term"]["pushed"] >= 1


def test_vectorized_python_counts_are_sane(audit_fps):
    """The detail-header anchoring fix (ADVICE r6): one ArrowEvalPython
    node must count once, not twice. knn_ivfflat_exact has exactly one
    Arrow kernel drop in its probe stage."""
    assert audit_fps["knn_ivfflat_exact"]["py"] == 1
