"""session.get_spark sizes a local session to the machine: cores from
``SPARK_GRAFT_CPUS`` or the CPU affinity, heap within physical memory.
Every check reads the settings without starting a second JVM."""

from __future__ import annotations

import os

import pytest

from graph_database_akkatyped_spark import session

_PARTITIONS = "spark.sql.shuffle.partitions"


def _physical_memory(monkeypatch, gib: int) -> None:
    pages = {"SC_PHYS_PAGES": gib * 2**18, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_default_partitions_follow_spark_graft_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    master, conf = session.session_conf()
    assert (master, conf[_PARTITIONS]) == ("local[3]", "3")


def test_default_partitions_follow_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2})
    master, conf = session.session_conf()
    assert (master, conf[_PARTITIONS]) == ("local[2]", "2")


def test_explicit_partitions_and_master_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    master, conf = session.session_conf(shuffle_partitions=8)
    assert (master, conf[_PARTITIONS]) == ("local[3]", "8")
    master, conf = session.session_conf(master="spark://head:7077")
    assert master == "spark://head:7077" and _PARTITIONS not in conf


class _NoJVM:
    """Stands in for ``SparkSession``: building a session fails."""

    def __getattr__(self, name):
        raise AssertionError("get_spark reached the session builder")


def test_driver_heap_larger_than_memory_fails_before_the_jvm(monkeypatch):
    _physical_memory(monkeypatch, 8)
    monkeypatch.setattr(session, "SparkSession", _NoJVM())
    for mem in ("9g", "8193m", f"{9 * 2**20}k", "9000"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
        with pytest.raises(ValueError, match="larger than physical memory"):
            session.get_spark()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "lots")
    with pytest.raises(ValueError, match="not a JVM size"):
        session.get_spark()


def test_driver_heap_fits_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _physical_memory(monkeypatch, 8)
    assert session.driver_memory() == "6144m"  # three quarters
    _physical_memory(monkeypatch, 64)
    assert session.driver_memory() == "16384m"  # capped at 16g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.session_conf()[1]["spark.driver.memory"] == "3g"
