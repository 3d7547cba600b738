"""Session defaults derived from the host, and scoped session confs."""

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


# A key nothing else sets, so the test session starts without it.
_KEY = "spark.zmx.test.scoped"


@pytest.fixture
def outer(spark):
    spark.conf.set(_KEY, "outer")
    yield
    spark.conf.unset(_KEY)


def test_scoped_conf_restores_the_prior_value(spark, outer):
    with session.scoped_conf(spark, {_KEY: "inner"}):
        assert spark.conf.get(_KEY) == "inner"
    assert spark.conf.get(_KEY) == "outer"


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(_KEY, None) is None
    with session.scoped_conf(spark, {_KEY: "inner"}):
        assert spark.conf.get(_KEY) == "inner"
    assert spark.conf.get(_KEY, None) is None


def test_scoped_conf_restores_when_the_body_raises(spark, outer):
    with pytest.raises(RuntimeError, match="boom"):
        with session.scoped_conf(spark, {_KEY: "inner"}):
            raise RuntimeError("boom")
    assert spark.conf.get(_KEY) == "outer"
