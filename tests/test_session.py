"""Session defaults that need no running Spark."""

from __future__ import annotations

import os

import pytest

from as_etl_storage_spark.session import default_driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "ram,want",
    [(16 * GIB, "8g"), (15.5 * GIB, "7g"), (1 * GIB, "1g"), (512 * GIB, "48g")],
)
def test_driver_memory_is_half_the_host_capped(monkeypatch, ram, want):
    page = 4096
    pages = {"SC_PHYS_PAGES": int(ram) // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert default_driver_memory() == want
