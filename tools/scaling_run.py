#!/usr/bin/env python
"""North-rule scaling evidence: the same job at local[N] and local[4N]
on the same input (sandbox stand-in for N vs 4N executors).

This host shows up to 2.4x run-to-run noise across processes, so legs
are INTERLEAVED (hi, lo, hi, lo) and the best (min) time per leg is
reported — same spirit as the reference harness's IQR outlier trimming
(benchmark_utils.hpp:244-318).

Writes/updates the "## Measured" section of BENCH.md and prints JSON.

Usage: python tools/scaling_run.py [--repeats 2] [--scale bench]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_leg  # noqa: E402
from pdx_spark.config import default_cores  # noqa: E402

CPUS = default_cores()
LOW = max(CPUS // 4, 1)


def _spin(sec):
    import time as _t
    t0 = _t.time()
    x = 0
    while _t.time() - t0 < sec:
        for _ in range(10000):
            x += 1
    return x


def _bw_spin(sec):
    """Memory-STREAMING spinner: numpy add over a 64 MB working set (far
    out of cache) — measures deliverable memory bandwidth, the resource
    that actually bounds the query phase (parquet decompress -> Arrow ->
    numpy block decode streams the index bytes)."""
    import time as _t

    import numpy as np
    a = np.zeros(8_000_000, dtype=np.float64)  # 64 MB
    t0 = _t.time()
    n = 0
    while _t.time() - t0 < sec:
        a += 1.0
        n += 1
    return n


def spin_calibration() -> dict:
    """Measure what the host actually delivers at LOW and HIGH thread
    counts, for BOTH bounding resources. Virtualized hosts here advertise
    32 cores but deliver fewer effective ones — and shared memory
    bandwidth saturates far earlier than ALU throughput. A perfectly
    scaling job can never beat these ceilings on the (thr_4N/thr_N)/4
    metric, so each phase's efficiency must be read against the ceiling
    of ITS bounding resource: index build (bit-pack encode, hashing) is
    CPU-bound; the query batch (stream blocks -> decode -> score) is
    bandwidth-bound. On a real multi-executor cluster (the north rule's
    actual setting) each executor brings its OWN memory bandwidth, so the
    bandwidth ceiling is a sandbox artifact of stacking threads on one
    box — CPU-seconds parity across the two legs is the evidence the
    work itself does not inflate."""
    import multiprocessing as mp

    out, bw = {}, {}
    for n in (1, LOW, CPUS):
        with mp.Pool(n) as pool:
            res = pool.map(_spin, [4.0] * n)
        out[n] = sum(res) / 4.0 / 1e6
        with mp.Pool(n) as pool:
            res = pool.map(_bw_spin, [4.0] * n)
        bw[n] = sum(res) / 4.0  # total streamed passes/sec
    cap = (out[CPUS] / out[LOW]) / (CPUS / LOW)
    bw_cap = (bw[CPUS] / bw[LOW]) / (CPUS / LOW)
    return {"miters_per_sec": {str(k): round(v, 1) for k, v in out.items()},
            "bw_passes_per_sec": {str(k): round(v, 1) for k, v in bw.items()},
            "effective_cores_high": round(out[CPUS] / out[1], 1),
            "effective_cores_low": round(out[LOW] / out[1], 1),
            "effective_bw_high": round(bw[CPUS] / bw[1], 1),
            "effective_bw_low": round(bw[LOW] / bw[1], 1),
            "hardware_efficiency_ceiling": round(cap, 3),
            "bandwidth_efficiency_ceiling": round(bw_cap, 3)}


def cpu_seconds() -> float:
    """Total machine CPU-seconds consumed (user+nice+system) from
    /proc/stat. This host's wall-clock is noisy (observed 4x swings on
    identical jobs — shared hypervisor); CPU-seconds per leg shows
    whether the JOB's work scales, independent of host throttling."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return (int(parts[1]) + int(parts[2]) + int(parts[3])) / os.sysconf("SC_CLK_TCK")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--scale", default="bench")
    ap.add_argument("--queries", type=int, default=200)
    args = ap.parse_args()

    from pdx_spark.sources.fixtures import make_queries_pdf, transcripts_path
    trans_path = transcripts_path(args.scale)
    qpdf = make_queries_pdf(args.queries)
    queries = [(int(r.query_id), str(r.query_text), int(r.k))
               for r in qpdf.itertuples()]

    calib = spin_calibration()
    print(f"# calibration: {calib}", file=sys.stderr, flush=True)

    legs = {CPUS: [], LOW: []}
    for rep in range(args.repeats):
        for cores in (CPUS, LOW):
            c0 = cpu_seconds()
            leg = run_leg(cores, queries, trans_path, warmup=(rep == 0))
            leg["host_cpu_sec"] = cpu_seconds() - c0  # host-wide (noisy)
            leg["cpu_sec"] = leg.get("build_cpu_sec", 0) + leg.get("query_cpu_sec", 0)
            legs[cores].append(leg)
            print(f"# rep{rep} c{cores}: build={leg['build_sec']:.1f}s"
                  f"/{leg.get('build_cpu_sec', 0):.0f}cpu "
                  f"query={leg['query_sec']:.2f}s"
                  f"/{leg.get('query_cpu_sec', 0):.0f}cpu "
                  f"host={leg['host_cpu_sec']:.0f}cpu "
                  f"rows={leg.get('result_rows')}", file=sys.stderr, flush=True)

    def best(cores, key):
        return min(l[key] for l in legs[cores])

    n_turns = legs[CPUS][0]["n_turns"]
    build_hi, build_lo = best(CPUS, "build_sec"), best(LOW, "build_sec")
    query_hi, query_lo = best(CPUS, "query_sec"), best(LOW, "query_sec")
    ratio = CPUS / LOW
    result = {
        "n_turns": n_turns, "queries": len(queries),
        "cores": {"low": LOW, "high": CPUS},
        "build_sec": {"low": round(build_lo, 2), "high": round(build_hi, 2)},
        "build_turns_per_sec": {"low": round(n_turns / build_lo, 1),
                                "high": round(n_turns / build_hi, 1)},
        "query_sec": {"low": round(query_lo, 2), "high": round(query_hi, 2)},
        "qps": {"low": round(len(queries) / query_lo, 2),
                "high": round(len(queries) / query_hi, 2)},
        "scaling_efficiency": {
            "build": round((build_lo / build_hi) / ratio, 3),
            "query": round((query_lo / query_hi) / ratio, 3),
        },
        "repeats": args.repeats,
        "calibration": calib,
        # build is CPU-bound -> CPU ceiling; query streams the index
        # bytes -> bandwidth ceiling (see spin_calibration docstring)
        "efficiency_vs_hardware_ceiling": {
            "build": round((build_lo / build_hi) / ratio
                           / calib["hardware_efficiency_ceiling"], 3),
            "query": round((query_lo / query_hi) / ratio
                           / calib["bandwidth_efficiency_ceiling"], 3),
        },
        "cpu_sec_per_leg": {str(c): [round(l["cpu_sec"], 1) for l in legs[c]]
                            for c in legs},
        "wall_sec_per_leg": {str(c): [round(l["build_sec"] + l["query_sec"], 1)
                                      for l in legs[c]] for c in legs},
        "note": "best-of-N per leg, legs interleaved (noisy host); "
                "cpu_sec shows work-inflation independent of host throttle",
    }
    print(json.dumps(result))

    bench_md = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH.md")
    section = f"""## Measured (latest scaling run)

Corpus: {n_turns:,} turns (deterministic fixture, scale={args.scale});
{len(queries)} batched queries, k=10 default. Same job, same input, two
parallelism levels (local[{LOW}] vs local[{CPUS}] = N vs 4N stand-in).
Best of {args.repeats} interleaved repeats per leg (noisy host — see
tools/scaling_run.py).

| phase | local[{LOW}] | local[{CPUS}] | throughput {LOW}c | throughput {CPUS}c | efficiency N->4N | vs hardware ceiling |
|---|---|---|---|---|---|---|
| index build | {build_lo:.1f}s | {build_hi:.1f}s | {n_turns/build_lo:,.0f} turns/s | {n_turns/build_hi:,.0f} turns/s | {result['scaling_efficiency']['build']:.2f} | {result['efficiency_vs_hardware_ceiling']['build']:.2f} |
| query batch ({len(queries)}q) | {query_lo:.2f}s | {query_hi:.2f}s | {len(queries)/query_lo:.1f} q/s | {len(queries)/query_hi:.1f} q/s | {result['scaling_efficiency']['query']:.2f} | {result['efficiency_vs_hardware_ceiling']['query']:.2f} |

Hardware calibration (same host, same moment): a pure-python CPU
spinner delivers {calib['effective_cores_low']} effective cores at
{LOW} threads and {calib['effective_cores_high']} at {CPUS} threads
(ceiling **{calib['hardware_efficiency_ceiling']:.2f}** on the
(thr_4N/thr_N)/4 metric); a 64 MB numpy STREAMING spinner delivers
{calib['effective_bw_low']}x single-proc bandwidth at {LOW} procs but
only {calib['effective_bw_high']}x at {CPUS} (bandwidth ceiling
**{calib['bandwidth_efficiency_ceiling']:.2f}**). The "vs hardware
ceiling" column divides each phase by the ceiling of its bounding
resource: build is CPU-bound, the query batch streams the index bytes
(parquet -> Arrow -> numpy decode) and is bandwidth-bound. On a real
multi-executor cluster each executor brings its own memory bandwidth —
the bandwidth ceiling is an artifact of stacking threads on one box.
Work parity across legs (process-tree CPU-seconds; stall time counts
as CPU time, so bandwidth starvation shows as inflation at {CPUS}
threads, not extra work):
`{json.dumps(result['cpu_sec_per_leg'])}`.

Raw JSON: `{json.dumps(result)}`
"""
    header = "# BENCH — measured performance + scaling evidence\n\n"
    body, tail = "", ""
    marker = "## Measured (latest scaling run)"
    mp_marker = "## Measured (multi-process"
    if os.path.exists(bench_md):
        with open(bench_md) as f:
            old = f.read()
        if marker in old:
            body = old.split(marker)[0]
        elif "## Measured" in old:
            body = old.split("## Measured")[0]
        else:
            body = old + "\n"
        if mp_marker in old:  # preserve the multi-process section
            tail = mp_marker + old.split(mp_marker, 1)[1]
    with open(bench_md, "w") as f:
        f.write((body or header) + section + "\n" + tail)


if __name__ == "__main__":
    main()
