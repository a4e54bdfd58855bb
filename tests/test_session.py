"""The host-sizing rule behind ``get_spark``'s defaults (no Spark session)."""

from __future__ import annotations

import os

import pytest

from evolution_spark.session import _host_size

GIB_KB = 1 << 20  # /proc/meminfo counts kB


def _size(tmp_path, mem_total_gib: float, cgroup: str | None = None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemFree:         1024 kB\n"
        f"MemTotal:       {int(mem_total_gib * GIB_KB)} kB\n"
    )
    cgroup_max = tmp_path / "memory.max"
    if cgroup is not None:
        cgroup_max.write_text(cgroup + "\n")
    return _host_size(meminfo=str(meminfo), cgroup_max=str(cgroup_max))


@pytest.fixture(autouse=True)
def _no_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)


@pytest.mark.parametrize("mem_total_gib, cgroup, heap", [
    (15.7, None, "7g"),                   # MemTotal only: half, rounded down
    (64, str(10 * (1 << 30)), "5g"),      # a numeric cgroup limit wins
    (15.7, "max", "7g"),                  # "max" means no limit: MemTotal
    (1.5, None, "1g"),                    # clamped up to 1g
    (64, str(1 << 30), "1g"),
    (48, None, "24g"),                    # 48 GiB and up keep 24g
    (512, "max", "24g"),
])
def test_driver_heap_rule(tmp_path, mem_total_gib, cgroup, heap):
    assert _size(tmp_path, mem_total_gib, cgroup)[1] == heap


def test_environment_overrides(tmp_path, monkeypatch):
    assert _size(tmp_path, 16)[0] == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _size(tmp_path, 16, str(10 * (1 << 30))) == (6, "3g")
