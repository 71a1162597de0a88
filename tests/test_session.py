"""Session factory defaults that need no JVM."""

from __future__ import annotations

import os

from dask_traj_spark import session

PAGE = 4096


def _fake_sysconf(ram_bytes):
    values = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": ram_bytes // PAGE}
    return lambda name: values[name]


def test_default_driver_mem_is_quarter_of_ram(monkeypatch):
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(15 * 2**30))
    assert session._default_driver_mem() == f"{15 * 1024 // 4}m"
    assert session._xms_opt(session._default_driver_mem()) == "-Xms1920m"


def test_default_driver_mem_capped_at_48g(monkeypatch):
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(1024 * 2**30))
    assert session._default_driver_mem() == f"{48 * 1024}m"


def test_default_driver_mem_fits_this_host():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = session._default_driver_mem()
    assert mem.endswith("m") and 0 < int(mem[:-1]) * 2**20 <= ram // 4
