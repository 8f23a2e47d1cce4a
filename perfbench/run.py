#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build_large --seed 1 \
        --seconds 30 --trace 0

Prints a human-readable table, a provenance line (host, versions,
command), and as the last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones (see
perfbench/README.md). Exits 2 without a result when the host or the
checkout cannot run the workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import build, kgq  # noqa: E402
from perfbench.common import (  # noqa: E402
    ROOT, WORK, HostError, RssSampler, check_host, java_version, provenance,
    start_session, stop_processes, timed,
)

WORKLOADS = {"build_large": build, "kg_query": kgq}
SETUP_REPEATS = 3


def per_layer_metrics() -> list:
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists
    them; a workload that leaves a layer idle reports it as 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def setup(w, facts, inp, event_log=None):
    """Session start and the workload's one-off preparation: what
    setup_s measures."""
    t0 = time.perf_counter()
    spark = start_session(facts, event_log)
    w.prepare(spark, inp)
    return time.perf_counter() - t0, spark


def _stopped(spark) -> bool:
    return spark.sparkContext._jsc is None


def run_e2e(w, facts, inp, seconds):
    state = dict(inp)
    secs, spark = setup(w, facts, inp)
    setups, java = [secs], java_version(spark)
    walls, ops = [], []
    t_start = time.perf_counter()
    with RssSampler() as rss:
        while not walls or time.perf_counter() - t_start < seconds:
            if _stopped(spark):      # the last pass ended its session
                secs, spark = setup(w, facts, inp)
                setups.append(secs)
            wall, res = timed(w.op, spark, state)
            walls.append(wall)
            ops.append(res)
    if _stopped(spark):
        secs, spark = setup(w, facts, inp)
        setups.append(secs)
    check_s, (attempted, failed, notes) = timed(w.check, spark, state)
    shown = w.headline(spark, state, ops, walls)
    while len(setups) < SETUP_REPEATS:
        spark.stop()
        secs, spark = setup(w, facts, inp)
        setups.append(secs)
    spark.stop()
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "peak_rss_mb": (rss.peak / 2 ** 20, "MB"),
    }
    shown = dict(metrics, **shown)
    shown["failed_frac"] = (failed / attempted, "ratio")
    shown["setup_samples_s"] = (setups, "s")
    shown["wall_samples_s"] = (walls, "s")
    shown["check_s"] = (check_s, "s")
    return metrics, shown, attempted, failed, notes, java


def run_traced(w, facts, inp):
    from perfbench.trace import Tracer, fold_event_log

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    state = dict(inp)
    _, spark = setup(w, facts, inp, event_log=log_dir)
    java = java_version(spark)
    # the traced pass is the run's only pass, cold like the pass run_e2e
    # times; a second, untraced pass would double the run on a loaded
    # 4-CPU host, so the overhead is trace.pipeline_s minus the wall_s of
    # a --trace 0 run on the same seed
    tracer = Tracer(spark)
    counts = w.traced(spark, tracer, state)
    attempted, failed, notes = w.traced_check(spark, state)
    spark.stop()
    layers = tracer.layers(fold_event_log(log_dir))

    wanted = per_layer_metrics()
    values = {name: 0.0 for name, _ in wanted}
    for layer, row in layers.items():
        values[layer + ".s"] = row["s"]
        if layer.startswith("query."):
            values[layer + ".jobs"] = row["jobs"]
            if layer + ".shuffle_bytes" in values:
                values[layer + ".shuffle_bytes"] = row["shuffle_bytes"]
            values[layer + ".spark.executor_run_s"] = row["executor_run_s"]
            values[layer + ".spark.gc_s"] = row["gc_s"]
        else:
            values[layer + ".spark.jobs"] = row["jobs"]
            values[layer + ".spark.executor_run_s"] = row["executor_run_s"]
            values[layer + ".spark.gc_s"] = row["gc_s"]
    dedup = layers.get("operators.emit.dedup")
    if dedup:
        values["operators.emit.dedup.shuffle_bytes"] = dedup["shuffle_bytes"]
        values["operators.emit.dedup.max_task_shuffle_bytes"] = \
            dedup["max_task_shuffle_bytes"]
    if "emitted" in counts:
        values["pipelines.emit.triples"] = counts["emitted"]
        values["operators.emit.dedup.keep_ratio"] = \
            counts["distinct"] / counts["emitted"]
        values["pipelines.parse.python_passes"] = counts["python_passes"]
        values["plans.checkpoint.files"] = counts["files"]
        values["operators.export.bytes"] = counts["export_bytes"]
    values["query.fixpoint_s"] = sum(values["query.%s.s" % q]
                                     for q in kgq.FIXPOINT)
    values["query.sparql_s"] = sum(values["query.%s.s" % q]
                                   for q in kgq.SPARQL)
    values["trace.span_sum_s"] = counts["span_sum_s"]
    values["trace.pipeline_s"] = counts["pipeline_s"]
    metrics = {n: (values[n], u) for n, u in wanted}
    return metrics, dict(metrics), attempted, failed, notes, java


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    try:
        facts = check_host(w.MIN_CORES, w.MIN_AVAIL_GB, w.NEEDS)
    except HostError as e:
        print("perfbench: refusing to run %s: %s" % (args.workload, e),
              file=sys.stderr)
        return 2
    inputs_s, inp = timed(w.inputs, args.seed)
    try:
        if args.trace:
            metrics, shown, attempted, failed, notes, java = run_traced(
                w, facts, inp)
        else:
            metrics, shown, attempted, failed, notes, java = run_e2e(
                w, facts, inp, args.seconds)
    finally:
        # on every path out, so no JVM or Python worker outlives the run
        stop_processes()
    prov = provenance(facts, sys.argv, java)

    shown["inputs_s"] = (inputs_s, "s")
    for note in notes:
        print("CHECK FAILED: " + note)
    for name, (value, unit) in shown.items():
        if isinstance(value, list):
            value = " ".join("%.3f" % v for v in value)
        elif isinstance(value, float):
            value = "%.4f" % value
        print("%-48s %14s %s" % (name, value, unit))
    print("host " + json.dumps(prov, sort_keys=True))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "%s-s%d-t%d.json" % (
            args.workload, args.seed, args.trace)), "w") as fh:
        json.dump(dict(result, host=prov), fh, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
