"""Default driver-heap sizing (no JVM needed)."""

from __future__ import annotations

from geodiff_spark.session import driver_memory

GiB = 2**30


def test_driver_memory_small_host_gets_at_most_half(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = driver_memory(16 * GiB)
    assert mem.endswith("m")
    assert int(mem[:-1]) <= 8 * 1024


def test_driver_memory_large_host_keeps_48g_cap(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(256 * GiB) == "48g"


def test_driver_memory_env_override_is_verbatim(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(16 * GiB) == "3g"
    assert driver_memory(256 * GiB) == "3g"
