"""Driver-heap default of get_spark, checked without starting a JVM."""

import os

from my_weather_spark.session import driver_memory


def _machine(monkeypatch, page_size, phys_pages):
    sizes = {"SC_PAGE_SIZE": page_size, "SC_PHYS_PAGES": phys_pages}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


def test_driver_memory_is_half_of_physical(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _machine(monkeypatch, 4096, (16 << 30) // 4096)
    assert driver_memory() == "8192m"
    _machine(monkeypatch, 4096, (15 * (1 << 30) + (1 << 20)) // 4096)
    assert driver_memory() == "7680m"


def test_driver_memory_measures_this_machine(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    got = driver_memory()
    assert got.endswith("m") and int(got[:-1]) == phys // 2 >> 20 > 0


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    _machine(monkeypatch, 4096, (16 << 30) // 4096)
    assert driver_memory() == "3g"
