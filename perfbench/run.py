#!/usr/bin/env python3
"""Benchmark of pyvectorsearch_spark: one seeded workload, one client, closed loop.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_mix --seed 1 --seconds 15 --trace 0

Set-up generates the workload's inputs from the seed, then starts a Spark
session through ``session.get_spark`` at ``local[<cores>]``, loads the
inputs and builds what the workload serves from, ``SETUP_REPS`` times (the median is ``setup_s``). One
untimed round warms the engine, then whole rounds run until ``--seconds``
have passed and at least ``MIN_ROUNDS`` have run. Every answer is checked against an oracle.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics ``BENCHMARK.json`` lists, with ``--trace 1`` its per-layer
metrics, from a run whose layer calls are traced (spans go to
``.perfbench_out/``); units come from ``BENCHMARK.json`` too. The line before
it is a report with the workload's own figures, the sample counts and the
effective Spark configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MIN_ROUNDS = 3  # measured rounds, however long they take: the medians need three
L2_REPS = 3
CONF_KEYS = (
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.session.timeZone", "spark.sql.autoBroadcastJoinThreshold",
)


def _confine(work: str) -> None:
    """Keep every file the run writes (temp files, Spark scratch, the index
    cache) inside the checkout, and let Spark's Python workers import the
    package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYVECTORSEARCH_INDEX_CACHE": os.path.join(work, "index-cache"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def start_session(cores: int, work: str):
    from pyvectorsearch_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def l2_pairs_per_s(spark, inputs: str) -> float:
    """Direct call of ``functions.vector.l2_sq`` over the seeded pair table."""
    from pyspark.sql import functions as F

    from pyvectorsearch_spark.functions.vector import l2_sq

    left = spark.read.parquet(f"{inputs}/pairs_left.parquet")
    right = spark.read.parquet(f"{inputs}/pairs_right.parquet")
    pairs = left.crossJoin(F.broadcast(right))
    query = pairs.select(F.sum(l2_sq("a", "b")))
    n = pairs.count()
    query.collect()  # warm-up
    times = []
    for _ in range(L2_REPS):
        t0 = time.perf_counter()
        query.collect()
        times.append(time.perf_counter() - t0)
    return n / sorted(times)[len(times) // 2]


def run(args, work: str) -> dict:
    import numpy as np

    import pyvectorsearch_spark  # noqa: F401  (fail before any output without the package)
    from perfbench import gen
    from perfbench.trace import Tracer, jvm_memory_mb, jvm_pid, vm_hwm_mb
    from perfbench.workloads import WORKLOADS, by_op, median, tail

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cores = len(os.sched_getaffinity(0))
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    t0 = time.perf_counter()
    shapes = gen.GENERATORS[args.workload](args.seed, inputs)
    gen.gen_l2_pairs(args.seed, inputs)
    gen_s = time.perf_counter() - t0

    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](inputs, work, tracer, cores)
    setup_s, start_s = [], []
    spark = None
    for _ in range(SETUP_REPS):
        if spark is not None:
            wl.teardown()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        start_s.append(time.perf_counter() - t0)
        tracer.bind(spark)
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)

    tracer.phase = "warmup"
    t0 = time.perf_counter()
    warm = wl.warmup()
    warmup_s = time.perf_counter() - t0

    tracer.phase = "measure"
    rng = np.random.default_rng([args.seed, 7])
    requests: list = []
    round_s: list[float] = []
    t_start = time.perf_counter()
    while len(round_s) < MIN_ROUNDS or time.perf_counter() - t_start < args.seconds:
        t0 = time.perf_counter()
        requests += wl.round(rng)
        round_s.append(time.perf_counter() - t0)
    measured_s = time.perf_counter() - t_start

    checked = warm + requests
    failed = sum(1 for _, _, ok in checked if not ok)
    by = by_op(requests)
    python_hwm, jvm_hwm = vm_hwm_mb(), vm_hwm_mb(jvm_pid(spark))
    heap, nonheap = jvm_memory_mb(spark)
    e2e = {
        "setup_s": median(setup_s),
        "knn_p50_s": median(by[wl.KNN_OP]),
        "range_p50_s": median(by[wl.RANGE_OP]),
        "round_p50_s": median(round_s),
        "memory_mb": python_hwm + heap + nonheap,
    }
    lat_s = [dt for _, dt, _ in requests]
    tail_s, tail_pct = tail(lat_s)
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "clients": 1, "loop": "closed", "inputs": shapes,
        "conf": {k: v for k, v in spark.sparkContext.getConf().getAll() if k in CONF_KEYS},
        "end_to_end": e2e, "trace": args.trace,
        "gen_s": gen_s, "setup_reps_s": setup_s, "session_start_s": start_s,
        "index_build_s": wl.build_s, "warmup_s": warmup_s, "measured_s": measured_s,
        "rounds_s": round_s, "requests": len(requests),
        "request_p50_s": median(lat_s), "request_tail_s": tail_s,
        "request_tail_percentile": tail_pct,
        "peak_rss_mb": python_hwm + jvm_hwm,
        "memory_parts_mb": {"python_hwm": python_hwm, "jvm_heap_live": heap,
                            "jvm_nonheap": nonheap},
        "failed_frac": failed / len(checked),
        "failed_ops": sorted({op for op, _, ok in checked if not ok}),
        "op_p50_s": {op: median(dts) for op, dts in by.items()},
        "op_n": {op: len(dts) for op, dts in by.items()},
        "warmup_op_s": {op: dt for op, dt, _ in warm},
        "details": wl.details(requests),
    }
    if args.trace:
        values = {
            "session.start_s": median(start_s),
            "functions.l2_sq_pairs_per_s": l2_pairs_per_s(spark, inputs),
            "client.round_p50_s": e2e["round_p50_s"],
        }
        for w in WORKLOADS.values():  # layers this workload never calls read 0
            values.update({k: 0 for k in w.LAYER_METRICS})
        values.update(wl.layers())
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        section = spec["per_layer"]
    else:
        values = e2e
        section = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}
    wl.teardown()
    spark.stop()
    print(json.dumps(report), flush=True)
    return {"correct": failed == 0, "attempted": len(checked), "failed": failed,
            "metrics": metrics}


def stop_jvm() -> None:
    """Stop the session's JVM, if one was launched, and wait until it has
    ended (it exits when its stdin closes)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("grid_serve_ingest", "pipeline_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        _confine(work)
        result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
