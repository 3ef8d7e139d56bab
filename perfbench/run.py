#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints a report line (posture, host, output
check notes, extra metrics) and, as the last line of standard output, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
the per-layer metrics, after timing the same work once untraced and once
traced. Exits non-zero without a result line when anything fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench import engine  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    END_TO_END, EXTRA, PER_LAYER, WORKLOADS,
)

SETUP_REPS = 3


def _module(name: str):
    mod, cls = WORKLOADS[name]
    return getattr(importlib.import_module(mod), cls)


def run(args, work: str) -> tuple[dict, dict]:
    posture = engine.pin_posture(work)
    cls = _module(args.workload)  # fails here when the engine is absent
    wl = cls(args.seed, args.seconds, work)

    setup_s, session_s = [], []
    spark = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = engine.start_session(posture)
        spark.sparkContext.setLogLevel("ERROR")
        session_s.append(time.perf_counter() - t0)
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warmup_s = time.perf_counter() - t0

    counters = engine.EngineCounters(spark)
    measured = wl.measure(spark)
    engine_m = counters.read(engine.nproc())
    peak_rss = engine.peak_rss_mb(spark)
    attempted, failed, notes = wl.check(measured)
    m = dict(measured["metrics"])
    m["setup_s"] = sorted(setup_s)[len(setup_s) // 2]

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "posture": posture,
        "host": engine.host_facts(spark),
        "decode_path": wl.decode_path(spark),
        "setup_reps_s": setup_s, "session_start_reps_s": session_s,
        "warmup_s": warmup_s,
    }
    if args.trace:
        from perfbench.spans import Tracer

        wl.restage(spark)
        tracer = Tracer()
        traced = wl.measure(spark, tracer)
        a, f, n = wl.check(traced)
        attempted, failed = attempted + a, failed + f
        notes += [f"traced {x}" for x in n]
        layer = {
            "session.start_s": sorted(session_s)[len(session_s) // 2],
            "session.warmup_s": warmup_s,
            **engine_m,
            **wl.layer_metrics(measured, traced, tracer),
        }
        base = measured["metrics"]["work_wall_s"]
        over = traced["metrics"]["work_wall_s"] - base
        layer["trace.overhead_s"] = over
        layer["trace.overhead_frac"] = over / base if base else 0.0
        self_s = tracer.self_seconds()
        for lay in ("sources", "plans", "streaming", "operators", "similarity"):
            layer[f"{lay}.self_s"] = self_s.get(lay, 0.0)
        spans = os.path.join(ROOT, ".perfbench-work", "spans",
                             f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.write(spans)
        report["spans"] = os.path.relpath(spans, ROOT)
        report["trace_self_s"] = self_s
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit, *_ in PER_LAYER}
        report["layer_tags"] = {name: {"moves": moves, "on": on}
                                for name, _, moves, on in PER_LAYER}
    else:
        m["peak_rss_mb"] = peak_rss
        metrics = {name: {"value": float(m[name]), "unit": unit}
                   for name, unit in END_TO_END}
    report["extra_metrics"] = {
        name: {"value": float(m[name]), "unit": unit}
        for name, unit in EXTRA.get(args.workload, []) if name in m}
    report["error_frac"] = failed / attempted if attempted else 1.0
    report["check_notes"] = notes
    result = {"correct": failed == 0 and attempted > 0,
              "attempted": int(attempted), "failed": int(failed),
              "metrics": metrics}
    return report, result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        report, result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


def _shutdown() -> None:
    """Stop the SparkContext (which ends its Python workers), then the
    gateway JVM, and wait for the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
