"""Benchmark driver: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
Parquet under ``perfbench/_work/`` before any clock starts; the engine
only sees those files. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of BENCHMARK.json. Every run also writes a side file under
``perfbench/_out/`` (spans and per-op Spark counters when traced).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: local[CORES]: the host this benchmark was tuned on has 4
CORES = min(4, os.cpu_count() or 1)

#: set-up repetitions per run; setup_s is their median. The first one
#: runs on a cold JVM and cold Python workers, so it is slower.
SETUP_REPS = 3
#: untimed warm-up after set-up, as a share of --seconds
WARMUP_SHARE = 0.5
#: host-speed probe passes right after the timed phase. The host drifts
#: by up to 1.7x from one minute to the next; the probe shows whether a
#: slow run met a slow host
CANARY_PASSES = 5
#: quality floor per workload below which the run is not ``correct``
#: (ingest must read back every acknowledged write)
QUALITY_FLOOR = {"serve": 0.5, "knn_graph": 0.5, "ingest": 1.0, "curate": 0.8}

#: per-layer spans: set-up spans report the median over set-up
#: repetitions, op spans the median over timed ops of their summed time
SETUP_SPANS = ("table.ingest", "pq.build", "ivf.build", "table.create")
OP_SPANS = ("plans.search.plan", "plans.search.exec",
            "ivf.knn_join_distributed.plan", "ivf.knn_join_distributed.exec",
            "table.upsert", "table.get_doc_by_id", "text.annotate",
            "dedup.minhash_verified_pairs", "groups.resolve_groups",
            "curation.curate_corpus")
SPARK_COUNTERS = ("spark.jobs_per_op", "spark.tasks_per_op", "spark.busy_s_per_op",
                  "spark.gap_s_per_op", "spark.task_run_s_per_op",
                  "spark.task_cpu_s_per_op", "spark.shuffle_write_bytes_per_op",
                  "spark.spill_bytes_per_op", "spark.gc_s_per_op")


def declared(root: str = ROOT) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("serve", "knn_graph", "ingest", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the benchmark's tests")
    return p.parse_args(argv)


def start_session(cores: int, work: str, event_dir: str | None):
    """A local[cores] session whose scratch space stays under ``work``."""
    from gamma_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        # Spark 4's default event log is rolling and zstd-compressed
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def storage_bytes(spark) -> int:
    """Bytes of cached or checkpointed blocks the session still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def canary_pass(spark) -> dict[str, float]:
    """One pass of a fixed host-speed probe that runs no gamma_spark code,
    timed per leg: many small SQL jobs (driver planning and scheduling, as
    in the workloads' short jobs), a JVM scan-and-aggregate, and a numpy
    loop in each Python worker."""
    def probe(i):
        import numpy as np
        m = np.random.default_rng(i).standard_normal((128, 128))
        for _ in range(200):
            m = np.tanh(m @ m / 128.0)
        return float(m.sum())

    def jobs():
        for i in range(8):
            spark.range(0, 20_000, 1, CORES).selectExpr(f"id % {90 + i} AS k") \
                .groupBy("k").count().collect()

    legs = {
        "jobs": jobs,
        "jvm": lambda: spark.range(0, 10_000_000, 1, CORES)
        .selectExpr("sum(hash(id))").collect(),
        "py": lambda: spark.sparkContext.parallelize(range(CORES), CORES)
        .map(probe).collect(),
    }
    out = {}
    for name, leg in legs.items():
        t = time.perf_counter()
        leg()
        out[name] = time.perf_counter() - t
    return out


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def traced_layers(tracer, event_dir: str, op_walls: dict[str, float],
                  storage: list[int]) -> tuple[dict[str, float], dict]:
    """Per-layer metrics from the spans and the event log, and the per-op
    Spark counters behind them."""
    from tracing import jobs_in_span, parse_event_log, spark_counters

    ops = list(op_walls)
    layer = {f"{name}_s": median(tracer.durations(name))
             for name in SETUP_SPANS + ("table.reopen",)}
    for name in OP_SPANS:
        per = tracer.per_op(name)
        layer[f"{name}_s"] = median([per.get(o, 0.0) for o in ops]) if per else 0.0
    (log,) = glob.glob(os.path.join(event_dir, "*"))
    jobs, totals = parse_event_log(log)
    counters = spark_counters(jobs, totals, op_walls)
    for c in SPARK_COUNTERS:
        layer[c] = median([counters[o][c] for o in ops])
    cc = jobs_in_span(jobs, "groups.resolve_groups")
    layer["groups.cc_jobs"] = median([cc.get(o, 0) for o in ops]) if cc else 0
    layer["spark.storage_bytes_after_op"] = storage[-1] if storage else 0
    return layer, counters


def run(args, work: str) -> dict:
    import numpy as np

    from tracing import Tracer
    from workloads import SIZES, WORKLOADS, CheckFailed

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # executors' Python workers import gamma_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](tracer, work, SIZES[args.size][args.workload])
    wl.generate(np.random.default_rng(args.seed))   # inputs + ground truth

    event_dir = os.path.join(work, "events") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(CORES, work, event_dir)
    spark.range(1).count()
    session_start_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    wl.spark = spark
    try:
        setup_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span("setup", op=f"setup{rep}"):
                wl.setup(rep)
                with tracer.span("warmup"):
                    wl.op(0)
            setup_s.append(time.perf_counter() - t)
        # latency keeps falling for ~10 ops after set-up (JIT, Python
        # workers); the untimed warm-up phase lets it level off
        i = 1
        warm_until = time.perf_counter() + WARMUP_SHARE * args.seconds
        while time.perf_counter() < warm_until:
            with tracer.span("warmup", op=f"warm{i}"):
                wl.op(i)
            i += 1
        spark.sparkContext._jvm.System.gc()

        lat, units, failed, storage = [], 0, 0, []
        op_walls: dict[str, float] = {}
        start = time.perf_counter()
        deadline = start + args.seconds
        while time.perf_counter() < deadline:
            op = f"op{i}"
            t = time.perf_counter()
            try:
                with tracer.span("op", op=op):
                    units += wl.op(i)
                lat.append(time.perf_counter() - t)
            except CheckFailed as e:
                failed += 1
                print(f"{op}: check failed: {e}", file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc()
            op_walls[op] = time.perf_counter() - t
            if args.trace:
                storage.append(storage_bytes(spark))
            i += 1
        elapsed = time.perf_counter() - start
        canary_pass(spark)   # untimed: its first pass starts cold workers
        canary_s = [canary_pass(spark) for _ in range(CANARY_PASSES)]

        # outside the timed phase: answer any quality input the loop did
        # not reach, then score
        for b in wl.missing_for_quality():
            wl.op(b)
        quality = wl.quality()
        layer = wl.layer_metrics() if args.trace else {}
    finally:
        stop_session(spark)

    attempted = len(op_walls)
    canary = median([sum(p.values()) for p in canary_s])
    metrics = {
        "setup_s": median(setup_s),
        "work_per_s": units / elapsed,
        "op_p50_s": median(lat),
        "quality": quality,
    }
    side = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "unit": wl.unit, "ops": len(lat),
            "attempted": attempted, "failed": failed,
            "fail_ratio": failed / attempted, "setup_reps_s": setup_s,
            "latencies_s": lat, "session.start_s": session_start_s,
            "canary_s": canary_s, "e2e": metrics}
    if len(lat) >= 100:   # at least ten samples beyond it
        side["op_p90_s"] = float(np.quantile(lat, 0.9))
    if args.trace:
        spans, counters = traced_layers(tracer, event_dir, op_walls, storage)
        layer.update(spans, **{"session.start_s": session_start_s,
                               "host.canary_s": canary})
        side.update(per_layer=layer, per_op_spark=counters,
                    spans=[s.__dict__ for s in tracer.spans])
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(side, fh, indent=1)

    e2e_units, layer_units = declared()
    units_of = layer_units if args.trace else e2e_units
    chosen = layer if args.trace else metrics
    correct = (failed == 0 and len(lat) > 0
               and quality >= QUALITY_FLOOR[args.workload])
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload never enters reports 0
        "metrics": {k: {"value": chosen.get(k, 0.0), "unit": u}
                    for k, u in units_of.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import gamma_spark  # noqa: F401  (fails fast outside a full checkout)

    work = os.path.join(HERE, "_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
