"""Session defaults are sized from the host, not fixed for one machine;
the environment overrides still win. No JVM is started."""

from __future__ import annotations

import os

from timeperiods_spark import session


def _host(monkeypatch, cpus: int, mem_bytes: int) -> None:
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": mem_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_defaults_follow_the_host(monkeypatch):
    _host(monkeypatch, 4, 16 * 2**30)
    assert session._default_cpus() == 4
    assert session._default_driver_memory() == "8192m"
    _host(monkeypatch, 64, 512 * 2**30)
    assert session._default_cpus() == 64
    assert session._default_driver_memory() == f"{256 * 1024}m"


def test_small_host_heap_floor(monkeypatch):
    _host(monkeypatch, 1, 1 * 2**30)
    assert session._default_driver_memory() == "1024m"


def test_environment_overrides_win(monkeypatch):
    _host(monkeypatch, 4, 16 * 2**30)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._default_cpus() == 2
    assert session._default_driver_memory() == "3g"
