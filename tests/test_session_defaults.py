"""Session defaults follow the machine the session starts on: the core
count from the CPU affinity mask, the driver heap from physical memory.
A heap larger than the machine gets the local-mode JVM OOM-killed.
No JVM is started here."""

from __future__ import annotations

import os

import pytest

from pyspider_spark import session as S

GIB = 1 << 30


def _machine(monkeypatch, total_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": total_bytes // 4096}
    monkeypatch.setattr(S.os, "sysconf", lambda name: pages[name])


def test_core_count_defaults_to_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert S.default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert S.default_parallelism() == 3


@pytest.mark.parametrize(
    "total, heap",
    [(4 * GIB, "2g"), (15 * GIB, "3g"), (16 * GIB, "4g"), (512 * GIB, "8g")],
)
def test_driver_heap_is_a_clamped_quarter_of_ram(monkeypatch, total, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _machine(monkeypatch, total)
    assert S.default_driver_memory() == heap


def test_driver_heap_env_overrides(monkeypatch):
    _machine(monkeypatch, 512 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert S.default_driver_memory() == "5g"
