#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>] [--trace <0|1>]

Run from the root of a checkout. One run sets up the workload's seeded
inputs several times (``setup_s`` is the median), warms up untimed,
measures for ``--seconds``, checks every output, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(Spark event log on). The line before it holds the workload's full named
metrics (or the full per-layer table); both are also written under
``.bench_work/results``. ``--all`` runs every workload one after another
and prints a table. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _measure(w, spans, seconds: float) -> dict:
    """Timed set-ups, the untimed warm-up, the timed run and the checks.

    The warm-up (JVM codegen, Python workers, first plans) runs on the
    first set-up's inputs, on throwaway state; the run uses the last."""
    setup_times = []
    for rep in range(SETUP_REPS):
        w.inputs = w.co.path(f"setup{rep}")
        os.makedirs(w.inputs)
        with spans.span("setup") as sp:
            w.setup(w.inputs)
        setup_times.append(sp["end"] - sp["start"])
        w.setup_done()
        if rep == 0:
            with spans.span("warmup") as warm:
                w.warmup()
    t = time.time()
    w.run(seconds)
    run_wall = time.time() - t
    t = time.time()
    w.verify()
    return {"setup_times": setup_times, "run_wall": run_wall,
            "warmup_s": warm["end"] - warm["start"], "verify_s": time.time() - t}


def run_one(args) -> int:
    from harness import (HEAP, Checkout, Spans, cores, jvm_pid, peak_rss_mb,
                         start_spark, stop_spark)

    co = Checkout(ROOT, args.workload, args.seed, bool(args.trace))
    if not co.has_engine():
        print(f"no cdc_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    co.prepare()
    n, nproc = cores()
    t = time.time()
    spark = start_spark(co, n, bool(args.trace))
    startup_s = time.time() - t
    try:
        import pyspark

        spans = Spans(spark)
        w = WORKLOADS[args.workload](spark, co, args.seed, spans, n, args.seconds)
        m = _measure(w, spans, args.seconds)
        rss = peak_rss_mb([os.getpid(), jvm_pid(spark)])
        if args.trace:
            import tracing

            layers = tracing.workload_layers(w, spans)
    finally:
        stop_spark(spark)
    gen = w.generic()
    e2e = {
        "setup_s": {"value": statistics.median(m["setup_times"]), "unit": "s"},
        "throughput_per_s": {"value": gen["throughput_per_s"], "unit": "1/s"},
        "latency_p50_s": {"value": gen["latency_p50_s"], "unit": "s"},
    }
    named = dict(w.report())
    named["setup_s"] = dict(e2e["setup_s"], runs=m["setup_times"])
    named["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    named["failed_op_share"] = {
        "value": w.failed / max(w.attempted, 1), "unit": "share",
        "failed": w.failed, "attempted": w.attempted,
    }
    env = {
        "workload": w.name, "loop": w.loop, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "local_n": n,
        "nproc": nproc, "spark": pyspark.__version__, "heap": HEAP,
        "startup_s": startup_s, "warmup_s": m["warmup_s"],
        "run_wall_s": m["run_wall"], "verify_s": m["verify_s"],
        "seed_note": "inputs derive from --seed; a performance claim must "
                     "hold on a seed not used while tuning",
    }
    if args.trace:
        layers.update(tracing.from_eventlog(
            w, co, spans, m["run_wall"], winners=layers.pop("_winners", None)))
        ref = _untraced_reference(args)
        layers["trace.overhead_share"] = {
            "value": gen["latency_p50_s"] / ref - 1.0 if ref else None,
            "unit": "share", "traced_latency_p50_s": gen["latency_p50_s"],
            "untraced_latency_p50_s": ref,
        }
        detail = layers
    else:
        detail = named
        if w.failed == 0:
            with open(os.path.join(co.results, f"{w.name}-untraced.json"), "w") as fh:
                json.dump({"latency_p50_s": gen["latency_p50_s"], "env": env}, fh)
    report = {"env": env, "problems": w.problems, "metrics": detail}
    with open(os.path.join(co.results,
                           f"{w.name}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    co.cleanup()
    if args.trace:
        keep = [x["name"] for x in _spec()["per_layer"]]
        # a workload outside BENCHMARK.json's list may lack some layers
        metrics = {k: {"value": layers[k]["value"], "unit": layers[k]["unit"]}
                   for k in keep if k in layers}
    else:
        metrics = e2e
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }))
    return 0 if w.failed == 0 else 1


def _untraced_reference(args) -> float | None:
    """``latency_p50_s`` of the latest passing untraced run of the same
    workload in this checkout; one is run now if there is none."""
    path = os.path.join(ROOT, ".bench_work", "results",
                        f"{args.workload}-untraced.json")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               args.workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, check=False)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["latency_p50_s"]


def run_all(args) -> int:
    """Every workload, one after another (overlapping Spark JVMs skew
    results), printing each named metric with its unit."""
    from workloads import WORKLOADS

    bad = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if len(lines) < 2:
            bad += 1
            print(f"== {name}: FAILED (exit {p.returncode})\n{p.stderr[-3000:]}")
            continue
        report, last = json.loads(lines[-2]), json.loads(lines[-1])
        print(f"== {name} ({report['env']['loop']} loop): correct={last['correct']} "
              f"attempted={last['attempted']} failed={last['failed']}")
        for k, v in report["metrics"].items():
            extra = {x: v[x] for x in v if x not in ("value", "unit")}
            print(f"  {k:36s} {v['value']!s:>22} {v['unit']:10s} {extra or ''}")
        for msg in report["problems"]:
            print(f"  ! {msg}")
        bad += not last["correct"]
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="cdc_spark benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (args.all or args.workload):
        ap.error("--workload or --all is required")
    from harness import become_subreaper, reap_children

    # every process started below (the JVM, its Python workers, nested
    # runs) has ended before this process exits, on every path out
    become_subreaper()
    try:
        return run_all(args) if args.all else run_one(args)
    finally:
        reap_children()


if __name__ == "__main__":
    sys.exit(main())
