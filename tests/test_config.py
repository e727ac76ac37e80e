"""Host-fitted session defaults, computed without starting a JVM."""

import importlib.util
import os

from pdx_spark.config import default_cores, default_driver_mem

GIB = 1 << 30


def test_default_cores_follow_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cores() == len(os.sched_getaffinity(0))


def test_default_driver_mem_is_a_clamped_quarter_of_ram(monkeypatch):
    monkeypatch.delenv("PDX_SPARK_DRIVER_MEM", raising=False)
    assert default_driver_mem(15 * GIB) == "3g"
    assert default_driver_mem(2 * GIB) == "1g"
    assert default_driver_mem(256 * GIB) == "8g"
    # the benchmark's host rule, on this host's RAM
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_host", os.path.join(root, "perfbench", "host.py"))
    host = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(host)
    assert default_driver_mem() == host.driver_mem()
    monkeypatch.setenv("PDX_SPARK_DRIVER_MEM", "5g")
    assert default_driver_mem(256 * GIB) == "5g"
