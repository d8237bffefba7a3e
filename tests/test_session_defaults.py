"""session.py — the driver-memory default follows the machine."""

from __future__ import annotations

import pytest

from img2dataset_spark import session


def _machine(monkeypatch, phys_bytes: int, page: int = 4096) -> None:
    pages = {"SC_PHYS_PAGES": phys_bytes // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])


@pytest.mark.parametrize(
    "phys_gib, expected",
    [(15, "7680m"), (16, "8192m"), (2, "1024m"), (96, "49152m"), (512, "49152m")],
)
def test_default_driver_memory_is_half_of_physical_capped_at_48g(
    monkeypatch, phys_gib, expected
):
    _machine(monkeypatch, phys_gib * 2**30)
    assert session.default_driver_memory() == expected

