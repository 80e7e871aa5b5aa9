"""Session defaults derive from the host unless the environment pins them."""

from __future__ import annotations

import os

from ursa_major_choir_etl_spark.session import default_cpus, default_driver_memory


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(ram_mb * 3 // 4, 16 * 1024)


def test_environment_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert default_cpus() == 3
    assert default_driver_memory() == "5g"
