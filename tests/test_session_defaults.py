"""Session defaults come from the machine (CPU affinity, physical RAM);
the environment variables stay as deployment overrides. Only the pure
default functions run here — no second JVM is started."""

from __future__ import annotations

import os

from mcp_vector_search_spark import session


def _no_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def test_defaults_follow_the_machine(monkeypatch):
    _no_overrides(monkeypatch)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2}, raising=False)
    monkeypatch.setattr(session, "machine_ram_bytes", lambda: 16 << 30)
    assert session.machine_cpus() == 3
    assert session.session_defaults() == ("3", f"{8 << 10}m")


def test_defaults_fit_this_machine(monkeypatch):
    _no_overrides(monkeypatch)
    cpus, mem = session.session_defaults()
    assert 1 <= int(cpus) <= (os.cpu_count() or 1)
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= session.machine_ram_bytes() >> 20


def test_environment_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.session_defaults() == ("7", "3g")
