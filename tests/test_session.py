"""Session sizing: the driver heap follows the host, not a fixed 24g."""

from __future__ import annotations

from os_ex_3_map_reduce_spark.session import driver_memory

GiB = 2**30


def test_driver_memory_is_half_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(16 * GiB) == "8g"
    # A MemTotal just under 16 GiB (kernel reservations) stays near 8g.
    assert driver_memory(16_456_384 * 1024) == "8035m"


def test_driver_memory_is_capped_at_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(125 * 10**9) == "24g"
    assert driver_memory(48 * GiB) == "24g"


def test_driver_memory_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(16 * GiB) == "3g"
    assert driver_memory(125 * 10**9) == "3g"


def test_session_driver_heap_matches_helper(spark):
    # The helper honours SPARK_GRAFT_DRIVER_MEM itself, so this holds
    # with or without the override set.
    assert spark.sparkContext.getConf().get("spark.driver.memory") == driver_memory()
