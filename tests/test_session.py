"""Session defaults that must fit the host, checked without a JVM."""

import os

from fgcspark import session


def _host(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (gib << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_driver_memory_is_half_the_host_capped_at_48g(monkeypatch):
    monkeypatch.delenv("FGC_DRIVER_MEM", raising=False)
    for gib, want in ((15, "7680m"), (4, "2048m"), (96, "49152m"), (512, "49152m")):
        _host(monkeypatch, gib)
        assert session.driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    _host(monkeypatch, 15)
    monkeypatch.setenv("FGC_DRIVER_MEM", "8g")
    assert session.driver_memory() == "8g"


def test_driver_memory_fits_this_host(monkeypatch):
    monkeypatch.delenv("FGC_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = int(session.driver_memory().removesuffix("m"))
    assert 0 < mib << 20 <= phys // 2
