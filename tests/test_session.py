"""Session defaults fit the host they start on; the environment overrides
them. Pure functions: no JVM is started."""

from __future__ import annotations

import os

from mtsad_spark.session import default_cpus, driver_heap, driver_memory

_UNIT = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes(size: str) -> int:
    size = size.strip().lower()
    return int(size[:-1]) * _UNIT[size[-1]] if size[-1] in _UNIT else int(size)


def test_default_driver_heap_fits_host_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # the heap shares the host with off-heap JVM memory and Python workers
    assert _bytes(driver_memory()) <= physical // 2


def test_driver_heap_is_a_quarter_capped_at_16g():
    assert driver_heap(16 << 30) == "4096m"
    assert driver_heap(1 << 40) == "16384m"


def test_env_overrides_session_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert driver_memory() == "3g"
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))
