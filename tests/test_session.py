"""Session defaults (flink_cdc_spark/session.py)."""

import os

from flink_cdc_spark import session


def _phys_mb():
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def test_default_driver_heap_fits_the_host():
    mem = session.default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= _phys_mb() // 2


def test_default_driver_heap_is_capped_at_48g(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (512 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == f"{48 << 10}m"
    pages["SC_PHYS_PAGES"] = (16 << 30) // 4096
    assert session.default_driver_memory() == f"{8 << 10}m"
