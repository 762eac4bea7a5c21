"""The session factory's machine-sized defaults."""

import os

import pytest

from defenda_data_lake_spark.session import default_driver_memory


@pytest.mark.parametrize("ram_gb, want", [(15, "7g"), (64, "24g"), (1, "1g")])
def test_default_driver_memory_is_half_of_ram_capped(monkeypatch, ram_gb, want):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gb * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert default_driver_memory() == want
