#!/usr/bin/env python
"""Measure the build's actual byte traffic (VERDICT r4 task #1).

Runs one index build with the Spark UI enabled and reports, per the UI
REST stage metrics: input bytes, shuffle read+write bytes, executor
run/cpu seconds — plus the on-disk size of every index artifact. This
is the "attack the build with bytes, not benchmarks" feedback loop: a
change only counts if this probe shows the bytes moved.

Usage: python tools/build_bytes_probe.py [--scale bench] [--cores N]
       [--label baseline]
Prints one JSON line `BYTES {...}`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pdx_spark.config import default_cores  # noqa: E402


def _conf(spark, key: str) -> str:
    try:
        return spark.conf.get(key)
    except Exception:
        return "(default)"


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="bench")
    ap.add_argument("--cores", type=int, default=default_cores())
    ap.add_argument("--label", default="")
    ap.add_argument("--index", default="/tmp/pdx_bytes_probe_idx")
    args = ap.parse_args()

    os.environ["PDX_SPARK_UI"] = "1"  # the probe NEEDS the REST API
    from pdx_spark.config import get_spark
    from pdx_spark.operators.indexer import Indexer
    from pdx_spark.schemas import TRANSCRIPTS
    from pdx_spark.sources.fixtures import transcripts_path
    from tools.submit_job import _phase_delta, _stage_totals

    spark = get_spark(cores=args.cores, app="pdx_bytes_probe")
    try:
        df = spark.read.schema(TRANSCRIPTS).parquet(
            transcripts_path(args.scale))
        n_turns = df.count()
        import shutil
        shutil.rmtree(args.index, ignore_errors=True)

        snap0 = _stage_totals(spark)
        t0 = time.time()
        man = Indexer(spark).build(df, args.index, n_chunks=1)
        wall = time.time() - t0
        ph = _phase_delta(snap0, _stage_totals(spark), wall, args.cores)

        sizes = {}
        for d in ("docs", "term_stats", "directory", "segments"):
            p = os.path.join(args.index, d)
            if os.path.isdir(p):
                sizes[d] = round(dir_bytes(p) / 1e6, 1)
        stages = {}
        for ent in man.get("lineage", []):
            for k, v in (ent.get("timings") or {}).items():
                stages[k] = stages.get(k, 0.0) + float(v)
        for key, ch in man.get("chunks", {}).items():
            stages[f"encode_chunk{key}"] = float(ch.get("sec", 0.0))
        out = {"label": args.label, "scale": args.scale,
               "cores": args.cores, "n_turns": n_turns,
               "build_sec": round(wall, 2), "exec": ph,
               "index_mb": sizes,
               "index_total_mb": round(sum(sizes.values()), 1),
               "stage_sec": {k: round(v, 2) for k, v in stages.items()},
               "codec": {
                   "io": _conf(spark, "spark.io.compression.codec"),
                   "parquet": _conf(
                       spark, "spark.sql.parquet.compression.codec")}}
        shutil.rmtree(args.index, ignore_errors=True)
        print("BYTES " + json.dumps(out), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
