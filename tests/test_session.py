"""Driver heap sizing (no Spark needed)."""

from __future__ import annotations

from filesql_spark.session import MAX_DRIVER_MEM_GB, default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_ram():
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(15 * GIB + 123) == "7g"  # rounds down


def test_driver_memory_capped_and_floored():
    assert default_driver_memory(512 * GIB) == f"{MAX_DRIVER_MEM_GB}g"
    assert default_driver_memory(1 * GIB) == "1g"
    assert default_driver_memory(0) == "1g"


def test_driver_memory_reads_the_machine():
    import os

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(phys)
