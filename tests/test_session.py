"""Session defaults must fit the host they run on: a driver heap sized
past physical memory gets the JVM OOM-killed by the kernel instead of
failing with a Java error."""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import SparkSession

from radiant_portal_pipeline_spark.session import get_spark

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _jvm_bytes(size: str) -> int:
    size = size.strip().lower()
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def test_defaults_fit_host_without_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    conf = {}

    def capture(builder):
        conf.update(builder._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    # capture the builder's settings instead of starting a JVM
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark(app_name="sizing")

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _jvm_bytes(conf["spark.driver.memory"]) <= phys, conf
    assert conf["spark.master"] == f"local[{os.cpu_count()}]", conf

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    get_spark(app_name="sizing")
    assert conf["spark.driver.memory"] == "3g"
    assert conf["spark.master"] == "local[2]"
