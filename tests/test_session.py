"""Session defaults fit the host they start on."""

from __future__ import annotations

import os

from airflow_etl_pyspark_inmet_spark.session import driver_memory, host_cpus


def test_defaults_are_sized_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert host_cpus() == str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    heap_mb = int(driver_memory().removesuffix("m"))
    assert 1024 <= heap_mb <= 4096
    assert heap_mb == min(4096, max(1024, total_mb // 8))


def test_explicit_settings_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert host_cpus() == "3"
    assert driver_memory() == "6g"


def test_running_session_uses_the_defaults(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.master") == f"local[{host_cpus()}]"
    assert conf.get("spark.driver.memory") == driver_memory()
