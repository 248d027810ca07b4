"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench -q

The end-to-end cases start one Spark session per run (about half a
minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from run import declared  # noqa: E402
from tracing import Tracer, parse_event_log, spark_counters, union_seconds  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


# -- checks reject corrupted results -------------------------------------------

FIELD2 = np.array([10, 20, 30, 40, 50, 60])


def serve_rows():
    # 2 queries x k=2 over docs whose field2 is FIELD2[_id]; filter [10, 50]
    return [(0, 0, 10), (0, 1, 20), (1, 2, 30), (1, 4, 50)]


def test_serve_check_accepts_a_valid_result():
    assert W.check_serve(serve_rows(), 2, 2, 10, 50, FIELD2) == []


@pytest.mark.parametrize("corrupt, why", [
    (lambda r: r[:-1], "hits"),                               # a hit lost
    (lambda r: r + [(1, 3, 40)], "hits"),                      # one hit too many
    (lambda r: [(0, 0, 10), (0, 0, 10)] + r[2:], "duplicate"),  # same doc twice
    (lambda r: r[:3] + [(1, 5, 60)], "outside"),               # outside the filter
    (lambda r: r[:3] + [(1, 4, 40)], "does not hold"),         # wrong stored value
    (lambda r: [(q + 1, d, f) for q, d, f in r], "queries"),   # wrong query ids
])
def test_serve_check_rejects_a_corrupted_result(corrupt, why):
    errors = W.check_serve(corrupt(serve_rows()), 2, 2, 10, 50, FIELD2)
    assert any(why in e for e in errors), errors


def test_lookup_check_rejects_stale_missing_and_duplicate_reads():
    want = (7, 0.5)
    assert W.check_lookup([(7, 0.5)], 1, want) == []
    assert W.check_lookup([(6, 0.5)], 1, want)            # stale value
    assert W.check_lookup([(7, 0.25)], 1, want)           # stale vector
    assert W.check_lookup([], 1, want)                    # write lost
    assert W.check_lookup([(7, 0.5), (7, 0.5)], 1, want)  # key twice


def test_knn_and_curate_checks_reject_wrong_row_counts():
    qids = np.array([0, 0, 1, 1])
    assert W.check_knn(qids, np.array([0, 1]), 2) == []
    assert W.check_knn(qids[:-1], np.array([0, 1]), 2)
    assert W.check_knn(qids, np.array([0, 1, 2]), 2)
    assert W.check_curate([0, 1, 2], 3) == []
    assert W.check_curate([0, 1, 1], 3)
    assert W.check_curate([0, 1, 2, 2], 3)


def test_union_of_overlapping_intervals():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([]) == 0


# -- event log ----------------------------------------------------------------

def test_event_log_parser_reads_a_tiny_sessions_log(tmp_path):
    from run import start_session, stop_session

    spark = start_session(2, str(tmp_path), str(tmp_path / "events"))
    tracer = Tracer(sc=spark.sparkContext, enabled=True)
    try:
        with tracer.span("op", op="op1"):
            with tracer.span("inner"):
                spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tracer.span("op", op="op2"):
            spark.range(10).collect()
    finally:
        stop_session(spark)
    (log,) = os.listdir(tmp_path / "events")
    jobs, totals = parse_event_log(str(tmp_path / "events" / log))
    groups = {j.group for j in jobs.values()}
    assert {"op1|inner", "op2|op"} <= groups
    walls = {s.op: s.end - s.start for s in tracer.spans if s.name == "op"}
    c = spark_counters(jobs, totals, walls)
    assert c["op1"]["spark.jobs_per_op"] >= 1
    assert c["op1"]["spark.tasks_per_op"] >= 2
    assert c["op1"]["spark.shuffle_write_bytes_per_op"] > 0
    assert 0 < c["op1"]["spark.busy_s_per_op"] <= walls["op1"]
    assert c["op2"]["spark.shuffle_write_bytes_per_op"] == 0
    assert [s.parent for s in tracer.spans if s.name == "inner"] == ["op"]


# -- whole runs ---------------------------------------------------------------

@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_declared_metric_prints_with_its_unit(workload):
    e2e, layer = declared()
    for trace, want in ((0, e2e), (1, layer)):
        p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--size", "tiny")
        assert p.returncode == 0, p.stderr[-3000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        if trace == 0:
            assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted({"serve", "knn_graph", "ingest", "curate"}
                                             - set(WORKLOADS)))
def test_undeclared_workloads_still_run_clean(workload):
    p = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0


def test_every_per_layer_metric_is_measured_on_some_workload():
    """After the whole-run tests: each declared per-layer metric is nonzero
    in at least one workload's traced side file (spill may be 0)."""
    seen = set()
    for w in WORKLOADS:
        path = os.path.join(HERE, "_out", f"{w}-seed3-trace1.json")
        if not os.path.exists(path):
            pytest.skip("run the whole-run tests first")
        with open(path) as fh:
            seen |= {k for k, v in json.load(fh)["per_layer"].items() if v}
    _, layer = declared()
    assert set(layer) - seen <= {"spark.spill_bytes_per_op",
                                 "spark.storage_bytes_after_op"}


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    p = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
              cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
