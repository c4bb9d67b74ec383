"""``SparkTuning()`` defaults size a local session to the machine (no Spark
session is started here)."""

from __future__ import annotations

import os

from crawlspark.config import SparkTuning


def test_defaults_follow_spark_graft_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    t = SparkTuning()
    assert t.master == "local[3]"
    assert t.shuffle_partitions == 3


def test_defaults_fall_back_to_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    t = SparkTuning()
    assert t.master == f"local[{os.cpu_count()}]"
    assert t.shuffle_partitions == os.cpu_count()


def test_driver_memory_is_half_of_ram_capped_at_16g():
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = SparkTuning().driver_memory
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= min(16, max(1, ram_gib / 2))



def test_cli_session_is_machine_sized_unless_cpus_given(monkeypatch):
    import crawlspark.session as session
    from crawlspark.__main__ import _spark

    captured = []
    monkeypatch.setattr(session, "get_spark", captured.append)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    _spark()
    _spark(2)
    default, explicit = captured
    assert (default.master, default.shuffle_partitions) == ("local[3]", 3)
    assert (explicit.master, explicit.shuffle_partitions) == ("local[2]", 2)
    assert default.driver_memory == SparkTuning().driver_memory
    assert default.app_name == explicit.app_name == "crawlspark-cli"
