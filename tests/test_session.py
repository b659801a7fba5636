"""session.default_memory: JVM pool sizes follow the machine's RAM."""

import os

from web_scraper_spark.session import default_memory


def _fake_ram(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("WSS_TEST_MEM", "3g")
    _fake_ram(monkeypatch, 16)
    assert default_memory("WSS_TEST_MEM", 48, 3 / 8) == "3g"


def test_share_of_ram_on_a_small_box(monkeypatch):
    # a 16 GiB box: heap + off-heap stay within half of RAM, never the
    # fixed 48g + 16g that let the JVM grow until it was OOM-killed
    monkeypatch.delenv("WSS_TEST_MEM", raising=False)
    _fake_ram(monkeypatch, 16)
    assert default_memory("WSS_TEST_MEM", 48, 3 / 8) == "6144m"
    assert default_memory("WSS_TEST_MEM", 16, 1 / 8) == "2048m"


def test_capped_on_a_large_box(monkeypatch):
    monkeypatch.delenv("WSS_TEST_MEM", raising=False)
    _fake_ram(monkeypatch, 512)
    assert default_memory("WSS_TEST_MEM", 48, 3 / 8) == "49152m"
    assert default_memory("WSS_TEST_MEM", 16, 1 / 8) == "16384m"
