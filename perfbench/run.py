#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_graph --seed 1 --seconds 20 --trace 0

Runs one workload (README.md) in a fresh Spark session sized to this
box, checks its outputs, and prints a few report lines followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the run is traced and the metrics are the per-layer
metrics, the spans are written to ``.perfbench/traces/`` and the tracing
overhead (traced minus the last untraced run of the same seed) is
reported. ``--smoke`` shrinks every input for a quick functional check.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_graph", "serve_keyword", "corpus_ops")
DEADLINE_S = 170  # every run must end within 180 s


class RunContext:
    """What a workload receives: the session, its run directory, the
    seed and window, the tracer (None when untraced), and
    :meth:`measured`, which the workload calls when its timed work is
    over so that checking never counts toward peak memory."""

    def __init__(self, spark, workdir, seed, seconds, smoke, tracer, sampler):
        self.spark, self.workdir = spark, workdir
        self.seed, self.seconds, self.smoke = seed, seconds, smoke
        self.tracer, self.sampler = tracer, sampler
        self.peak_rss_mb: float | None = None

    def measured(self) -> None:
        if self.peak_rss_mb is None:
            self.peak_rss_mb = self.sampler.stop()


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pyspider_spark")):
        print(f"pyspider_spark not found under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common
    from perfbench.tracing import Tracer

    spec = common.load_json(os.path.join(ROOT, "BENCHMARK.json"), None)
    if spec is None:
        print("BENCHMARK.json missing or unreadable", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    workdir = common.make_workdir(args.workload, args.seed)
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        cpus = common.configure_env(workdir)
        sampler = common.RssSampler(workdir).start()
        t0 = time.perf_counter()
        with tracer.span("session.start", "session") if tracer else nullcontext():
            spark = common.start_spark(workdir, cpus)
            spark.range(1000).count()  # first job: JVM and codegen warm-up
        session_s = time.perf_counter() - t0

        ctx = RunContext(spark, workdir, args.seed, args.seconds, args.smoke,
                         tracer, sampler)
        out = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
        ctx.measured()
        out.end_to_end["setup_s"] += session_s
        out.end_to_end["peak_rss_mb"] = ctx.peak_rss_mb
    finally:
        signal.alarm(0)
        if tracer is not None:
            tracer.unwrap_all()
        if spark is not None:
            common.stop_spark(spark)
        common.cleanup_workdir(workdir)

    key = f"{args.workload}|seed={args.seed}|seconds={args.seconds}|smoke={int(args.smoke)}"
    changed = common.check_counts(f"{key}|trace={args.trace}", out.counts)
    for name in changed:
        out.notes.append(f"count changed since the first run of this seed: {name}")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, (value, unit) in out.report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for name, value in out.end_to_end.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    for note in out.notes:
        print(f"{args.workload} note: {note}")

    untraced_path = os.path.join(common.STATE_DIR, "untraced.json")
    untraced = common.load_json(untraced_path, {})
    if tracer is None:
        untraced[key] = out.end_to_end
        common.save_json(untraced_path, untraced)
        wanted = spec["end_to_end"]
        values = out.end_to_end
    else:
        out.per_layer["session.start_s"] = session_s
        for name, value in out.end_to_end.items():
            out.per_layer[f"traced.{name}"] = value
        base = untraced.get(key)
        overhead = {}
        if base:
            overhead = {k: out.end_to_end[k] - base[k] for k in out.end_to_end}
            for k, v in overhead.items():
                print(f"{args.workload} tracing overhead {k} = {v:+.6g} {units[k]}")
        else:
            print(f"{args.workload} tracing overhead: no untraced run of this seed yet")
        trace_path = os.path.join(
            common.STATE_DIR, "traces", f"{args.workload}-{args.seed}.json")
        common.save_json(trace_path, {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "spans": tracer.export(),
            "layer_self_s": {k[:-len(".self_s")]: v for k, v in out.per_layer.items()
                             if k.endswith(".self_s")},
            "per_layer": out.per_layer, "end_to_end": out.end_to_end,
            "tracing_overhead": overhead, "counts": out.counts,
        })
        print(f"{args.workload} spans: {len(tracer.spans)} written to {os.path.relpath(trace_path, ROOT)}")
        wanted = spec["per_layer"]
        values = out.per_layer

    # a layer this workload never enters reports zero work
    metrics = {m["name"]: common.metric(values.get(m["name"], 0.0), m["unit"])
               for m in wanted}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
