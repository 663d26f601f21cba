"""Driver-heap default of ``get_spark``: derived from the memory the
process may use, without starting a JVM."""

from __future__ import annotations

import pytest

from procoggraph_spark import session

GIB = 1 << 30


@pytest.fixture
def host(monkeypatch, tmp_path):
    """Point the heap default at a fake host: ``host(phys, cgroup)``
    sets physical memory and the cgroup ``memory.max`` text (None: no
    cgroup file)."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def set_host(phys: int, cgroup: str | None = None) -> None:
        monkeypatch.setattr(session, "_physical_memory_bytes", lambda: phys)
        path = tmp_path / "memory.max"
        if cgroup is not None:
            path.write_text(cgroup + "\n")
        monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(path),))

    return set_host


def test_small_host_gets_half_its_memory(host):
    host(16_479_424 * 1024)  # 15.7 GiB, no cgroup file
    assert session.default_driver_memory() == "8046m"  # 7.86 GiB


def test_large_host_keeps_16g(host):
    host(64 * GIB, "max")
    assert session.default_driver_memory() == "16g"


def test_numeric_cgroup_limit_wins_and_max_is_ignored(host):
    host(64 * GIB, str(8 * GIB))
    assert session.default_driver_memory() == "4g"
    host(15 * GIB, "max")
    assert session.default_driver_memory() == "7680m"
    host(15 * GIB, str(64 * GIB))  # a limit above physical memory binds nothing
    assert session.default_driver_memory() == "7680m"


def test_env_override_wins(host, monkeypatch):
    host(64 * GIB, str(8 * GIB))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
