"""Session defaults and the package's environment surface (no Spark)."""

from __future__ import annotations

import os
import pathlib
import re

from rust_gd_spark import session


def test_host_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cores, mem = session.host_defaults()
    assert cores == len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert mem.endswith("m")
    # room for the Python workers: never the whole machine
    assert 1024 <= int(mem[:-1]) <= max(1024, phys_mb // 2)


def test_host_defaults_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.host_defaults() == (3, "2g")


def test_environment_surface_is_pinned():
    """Every environment variable the package reads. A new knob is an
    alternate code path nothing measures until it is argued for."""
    root = pathlib.Path(session.__file__).parent
    names = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"os\.environ\.get\(\s*[\"'](\w+)[\"']", path.read_text())
    }
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "GD_CC_SMALL_GRAPH_ROWS"}
