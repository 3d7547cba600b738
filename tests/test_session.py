"""Session defaults derived from the host."""

from __future__ import annotations

import os

import pytest

from zmaxion_spark import session

_PAGE = 4096


@pytest.mark.parametrize(
    "phys_gib, expected",
    [(15, "7680m"), (1, "512m"), (32, "16384m"), (256, "16384m")],
)
def test_default_driver_mem_is_half_of_physical_capped_at_16g(
    monkeypatch, phys_gib, expected
):
    pages = phys_gib * 2**30 // _PAGE
    sysconf = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": _PAGE}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    assert session._default_driver_mem() == expected
