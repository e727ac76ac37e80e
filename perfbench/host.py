"""Host-fitted settings and process-tree measurements.

Everything here is applied from outside the engine: the benchmark sets
the environment variables pdx_spark already reads (SPARK_GRAFT_CPUS,
PDX_SPARK_DRIVER_MEM, SPARK_LOCAL_DIRS, PDX_SPARK_UI) before the JVM is
launched, and measures the whole process tree (this Python driver, the
Spark JVM and its Python workers) through /proc.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 0.0


def driver_mem() -> str:
    """A quarter of the host's RAM, between 1 and 8 GiB: enough for the
    driver's collects at benchmark scale without claiming a shared
    host's memory."""
    return f"{max(1, min(8, int(ram_gb() // 4)))}g"


def apply_settings(root: str, work: str, trace: bool) -> dict:
    """Set the engine's host knobs and keep every scratch write (Spark
    local dirs, JVM and Python temp files) under `work`. Must run before
    pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "PDX_SPARK_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": local,
    }
    os.environ.update(settings)
    os.environ.update({
        "TMPDIR": tmp,
        # later -D wins over the session factory's java.io.tmpdir; no
        # hsperfdata file in the system temp dir
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    if trace:
        os.environ["PDX_SPARK_UI"] = "1"
    else:
        os.environ.pop("PDX_SPARK_UI", None)
    return settings


def describe(root: str, seed: int, settings: dict) -> dict:
    """What every result records about the host and the code."""
    import pyarrow
    import pyspark
    sha = os.environ.get("GIT_COMMIT", "")
    if not sha and os.path.exists(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = ""
    return {"nproc": nproc(), "ram_gb": round(ram_gb(), 2),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "git_sha": sha or "unknown", "seed": seed, "settings": settings}


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, /proc/<pid>/stat fields after the command name)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(parts[1]), parts)
    return procs


def tree_pids(procs: dict | None = None) -> list[int]:
    """This process and all its live descendants."""
    procs = _proc_table() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def proc_tree_cpu() -> float:
    """CPU seconds of this process tree, reaped children included
    (utime + stime + cutime + cstime); the method of bench.proc_tree_cpu.
    Host-wide /proc/stat would count neighbours' work."""
    procs = _proc_table()
    total = 0
    for pid in tree_pids(procs):
        f = procs[pid][1]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak resident memory of the process tree (this driver, the JVM
    and the Python workers): a background thread sums the live tree's
    RSS every `every` seconds and keeps the largest sum. Workers that
    come and go count while they are alive."""

    def __init__(self, every: float = 0.2):
        self.every, self.peak = every, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        procs = _proc_table()
        # /proc/<pid>/stat field 24 is rss in pages
        rss = sum(int(procs[p][1][21]) for p in tree_pids(procs))
        self.peak = max(self.peak, rss * self._page)

    def _loop(self) -> None:
        while not self._stop.wait(self.every):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def gb(self) -> float:
        return self.peak / (1 << 30)


def stop_children(grace: float = 10.0) -> None:
    """Terminate every descendant still alive, then wait until each
    has ended (SIGKILL after `grace` seconds)."""
    me = os.getpid()
    kids = [p for p in tree_pids() if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in kids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline:
            kids = [p for p in tree_pids() if p != me]
            if not kids:
                break
            for pid in kids:  # reap our own direct children
                try:
                    os.waitpid(pid, os.WNOHANG)
                except OSError:
                    pass
            time.sleep(0.1)
        if not kids:
            return
