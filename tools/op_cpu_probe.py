#!/usr/bin/env python3
"""Per-operation CPU split of one perfbench workload run.

    python3 tools/op_cpu_probe.py --workload serve_topic --seed 1 \\
        [--seconds 1] [--ops append,compact_targeted] [--spark-site] \\
        [--json out.json]

Runs perfbench/run.py in this process, with `Run.op` and
`Indexer.build` wrapped at run time (as perfbench/spans.py wraps the
engine), so perfbench itself is not edited. For each operation (build,
once per set-up; load, batch, append, delete, compact, compact_targeted,
...) it prints:

  - wall seconds;
  - process-tree CPU seconds, split into the driver (this process), the
    Python workers (pyspark's daemon and the workers it forks, reaped
    ones included), the JVM's task threads ("Executor task launch
    worker"), its JIT compiler threads (C1/C2), its other threads, and
    the residual: CPU of JVM threads that exited during the operation
    (the process total counts them; no live thread does);
  - Spark jobs (the DAGScheduler's job id counter), tasks (of the new
    jobs' stages) and Janino compiles (Spark's CodegenMetrics).

--spark-site sets pdx_spark.operators.snapshot._ROUTED_TASK_BYTES to 0
before the run, so every one-task op (exhaustive, unrouted and routed
scans, build, append, delete, compact_targeted, compact) runs its Spark
site, with perfbench's correctness check on as usual.

Run from the repository root. The workload's own last line (its JSON
result) is printed by perfbench as usual; the probe table follows it.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
TICK = os.sysconf("SC_CLK_TCK")
PARTS = ("driver", "py_workers", "jvm_task", "jvm_jit", "jvm_other",
         "jvm_exited")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after the command name) of a /proc stat file."""
    try:
        with open(path) as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], tail.split()


def _cpu(fields: list[str], reaped: bool = False) -> int:
    """utime + stime clock ticks (+ cutime + cstime when `reaped`)."""
    n = int(fields[11]) + int(fields[12])
    return n + int(fields[13]) + int(fields[14]) if reaped else n


def _tree() -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields) of this process and its descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(f"/proc/{d}/stat")
            if st is not None:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in procs.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out[pid] = procs[pid]
        stack.extend(kids.get(pid, []))
    return out


def _jit(comm: str) -> bool:
    return comm.startswith(("C1 CompilerThre", "C2 CompilerThre"))


def sample() -> dict:
    """Clock ticks per process and per JVM thread, right now."""
    me, procs, threads, jvm_total = os.getpid(), {}, {}, 0
    for pid, (comm, f) in _tree().items():
        if pid == me:
            procs[pid] = ("driver", _cpu(f))
        elif comm == "java":
            jvm_total += _cpu(f)
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None:
                    threads[(pid, int(tid))] = (st[0], _cpu(st[1]))
        else:
            procs[pid] = ("py_workers", _cpu(f, reaped=True))
    return {"procs": procs, "threads": threads, "jvm_total": jvm_total}


def split(a: dict, b: dict) -> dict:
    """CPU seconds per part between samples a and b."""
    out = dict.fromkeys(PARTS, 0)
    for pid, (part, ticks) in b["procs"].items():
        out[part] += ticks - a["procs"].get(pid, (part, 0))[1]
    live = 0
    for key, (comm, ticks) in b["threads"].items():
        d = ticks - a["threads"].get(key, (comm, 0))[1]
        live += d
        part = "jvm_task" if comm.startswith("Executor task l") else \
            "jvm_jit" if _jit(comm) else "jvm_other"
        out[part] += d
    out["jvm_exited"] = b["jvm_total"] - a["jvm_total"] - live
    return {k: v / TICK for k, v in out.items()}


class SparkCounters:
    """Spark-side counts read through py4j: jobs, tasks, compiles."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.dag = sc._jsc.sc().dagScheduler()

    def read(self) -> dict:
        return {"jobs": int(self.dag.numTotalJobs()),
                "compiles": int(self.codegen.METRIC_COMPILATION_TIME()
                                .getCount())}

    def tasks(self, first_job: int, end_job: int) -> int:
        """Tasks of the stages of jobs [first_job, end_job), as far as
        the status tracker still holds them."""
        n = 0
        for jid in range(first_job, end_job):
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                n += st.numTasks if st else 0
        return n


def install(records: list[dict], only: set[str] | None) -> None:
    """Wrap perfbench's Run.op, and Indexer.build (each set-up's build,
    the `build` row), to record one probe row per operation."""
    import workloads

    from pdx_spark.operators.indexer import Indexer
    counters: list[SparkCounters] = []

    def probed(kind, sc, call):
        if only and kind not in only:
            return call()
        if not counters:
            counters.append(SparkCounters(sc))
        cnt = counters[0]
        c0, s0, t0 = cnt.read(), sample(), time.perf_counter()
        ok = False
        try:
            out = call()
            ok = out[0] if kind != "build" else True
            return out
        finally:
            wall, s1, c1 = time.perf_counter() - t0, sample(), cnt.read()
            row = {"op": kind, "ok": ok, "wall_s": wall, **split(s0, s1),
                   "jobs": c1["jobs"] - c0["jobs"],
                   "tasks": cnt.tasks(c0["jobs"], c1["jobs"]),
                   "compiles": c1["compiles"] - c0["compiles"]}
            row["cpu_s"] = sum(row[p] for p in PARTS)
            records.append(row)

    op, build = workloads.Run.op, Indexer.build

    @functools.wraps(op)
    def probed_op(self, kind, fn, *a, **kw):
        return probed(kind, self.spark.sparkContext,
                      lambda: op(self, kind, fn, *a, **kw))

    @functools.wraps(build)
    def probed_build(self, *a, **kw):
        return probed("build", self.spark.sparkContext,
                      lambda: build(self, *a, **kw))

    workloads.Run.op = probed_op
    Indexer.build = probed_build


def table(records: list[dict]) -> str:
    cols = ["wall_s", "cpu_s", *PARTS, "jobs", "tasks", "compiles"]
    lines = [f"{'op':<16}" + "".join(f"{c:>11}" for c in cols)]
    for r in records:
        lines.append(f"{r['op']:<16}" + "".join(
            f"{r[c]:>11.2f}" if isinstance(r[c], float) else f"{r[c]:>11}"
            for c in cols))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--ops", default="",
                    help="comma-separated op kinds to probe (default all)")
    ap.add_argument("--json", default="", help="also write rows here")
    ap.add_argument("--spark-site", action="store_true",
                    help="run every one-task op on Spark (bound at 0)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if args.spark_site:
        from pdx_spark.operators import snapshot
        snapshot._ROUTED_TASK_BYTES = 0
    sys.path.insert(0, BENCH)
    import run as perfbench_run
    records: list[dict] = []
    install(records, set(filter(None, args.ops.split(","))) or None)
    rc = perfbench_run.main(["--workload", args.workload, "--seed",
                             str(args.seed), "--seconds", str(args.seconds),
                             "--trace", "0"])
    print(table(records))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(records, f, indent=1)
    return rc


if __name__ == "__main__":
    sys.exit(main())
