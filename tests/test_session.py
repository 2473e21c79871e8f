"""The session's default driver heap is sized from host memory."""

from __future__ import annotations

import os

from ocr_spark.session import driver_memory

GIB = 2**30


def test_driver_memory_is_a_quarter_of_ram_between_1g_and_16g():
    assert driver_memory(15 * GIB) == "3g"  # rounds down to whole GiB
    assert driver_memory(16 * GIB) == "4g"
    assert driver_memory(2 * GIB) == "1g"  # never below 1g
    assert driver_memory(512 * GIB) == "16g"  # never above the former fixed default
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(host)
