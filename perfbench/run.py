#!/usr/bin/env python3
"""pdx_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_topic --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a detail record (host, settings,
counts, the per-operation ledger) and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the Spark UI is on,
spans wrap each layer's entry points and the metrics are per layer.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

DEADLINE_S = 170  # the whole run, teardown included, stays under 180 s


def _interrupt(signum, frame):
    """SIGALRM (the deadline) or SIGTERM: unwind through the cleanup that
    stops Spark and every child process."""
    raise TimeoutError(f"stopped by {signal.Signals(signum).name}")


def start_spark(tracer):
    from pdx_spark.config import get_spark
    spark = get_spark(app="perfbench")
    tracer.attach(spark.sparkContext)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for sig in (signal.SIGALRM, signal.SIGTERM):
        signal.signal(sig, _interrupt)
    signal.alarm(DEADLINE_S)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    settings = host.apply_settings(ROOT, work, bool(args.trace))
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import metrics
        import spans as tracing
        from workloads import WORKLOADS, Run

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"one of {sorted(WORKLOADS)}")
        tracer = tracing.Tracer(bool(args.trace))
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_spark(tracer)
            session_s = time.perf_counter() - t0
            if args.trace:
                tracing.install(tracer)
            run = Run(spark, tracer, work, args.seed, args.seconds)
            run.setup_parts["session_s"] = session_s
            t0 = time.perf_counter()
            WORKLOADS[args.workload](run)
            run.setup_parts["workload_s"] = time.perf_counter() - t0
        layers = metrics.per_layer(run, tracing.tree_from(
            tracer, spark.sparkContext)) if args.trace else None
        e2e = metrics.end_to_end(run)
        detail = metrics.detail(run, e2e, layers, rss.gb)
        detail.update(workload=args.workload, trace=args.trace,
                      seconds=args.seconds,
                      host=host.describe(ROOT, args.seed, settings))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        host.stop_children()
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    out = os.path.join(base, "results", f"{args.workload}-seed{args.seed}"
                       f"-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print("detail " + json.dumps(detail, sort_keys=True))
    chosen = layers if args.trace else e2e
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                    for k, v in chosen.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
