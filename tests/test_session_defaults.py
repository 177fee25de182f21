"""`get_spark`'s driver-memory default stays inside the host."""

from __future__ import annotations

import os

from tutorial_apache_beam_spark import session


def _mb(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_default_driver_memory_is_at_most_half_of_physical_ram():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = _mb(session.default_driver_memory())
    assert 0 < mb * 2**20 <= physical // 2
    assert mb <= 16 * 1024


def test_default_driver_memory_caps_at_16g(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 64 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == "16384m"
    pages["SC_PHYS_PAGES"] = 6 * 2**30 // 4096
    assert session.default_driver_memory() == "3072m"
