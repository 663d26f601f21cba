"""Defaults of ``get_spark``: the driver heap, derived from the memory
the process may use (no JVM), and the Python workers' import path (one
``local[1]`` JVM in a subprocess)."""

from __future__ import annotations

import os
import subprocess
import sys

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


def test_local_python_workers_import_the_package(tmp_path):
    """A driver run from another directory, with the package only on its
    own ``sys.path``, starts Python workers that can import it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from procoggraph_spark.session import get_spark

def imports_package(batches):
    import procoggraph_spark  # noqa: F401
    yield from batches

spark = get_spark(master="local[1]")
print(spark.range(3).mapInPandas(imports_package, "id long").count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "3"
