"""Session sizing: the defaults never ask for more than the host has."""

import os
import re
import subprocess
import sys
import types

import pytest

from opentelemetry_collector_contrib_spark import session


class _Stop(Exception):
    pass


class _Builder:
    """Records what ``get_spark`` asks the builder for, and starts nothing."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        raise _Stop


def test_get_spark_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    with pytest.raises(_Stop):
        session.get_spark()

    cores = int(re.fullmatch(r"local\[(\d+)\]", builder.conf["master"]).group(1))
    assert 1 <= cores <= len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024
    heap_mb = int(re.fullmatch(r"(\d+)m", builder.conf["spark.driver.memory"]).group(1))
    assert 0 < heap_mb <= total_mb // 2


def test_env_overrides_sizing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1500m")
    assert session.default_parallelism() == 3
    assert session.default_driver_memory() == "1500m"


def test_package_zip_is_removed_at_exit(tmp_path):
    """A process that zips the package leaves no zip behind when it exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from opentelemetry_collector_contrib_spark import session\n"
        "assert os.path.exists(session.package_zip())\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    subprocess.run([sys.executable, "-c", code], cwd=repo, env=env, check=True)
    assert not list(tmp_path.glob("otel_spark_pkg_*.zip"))
