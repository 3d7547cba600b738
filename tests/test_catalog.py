"""Catalog loader robustness — the events.ts type changed between
testdata generations (int64 epoch-ns in round 1-2, parquet
timestamp[us] in round 3) and broke 14 graded queries; these tests
pin normalize_events_ts to produce identical values for EVERY format
a generator has shipped, so the next regeneration cannot break the
loader silently.

The second half pins the keying of fixture-derived caches
(``fixture_cache_dir``): one key per fixture file identity, rooted
wherever ``tempfile.gettempdir()`` points at call time."""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zmaxion_spark.catalog import (
    fixture_cache_dir,
    fixture_stamp,
    load_table,
    normalize_events_ts,
    table_path,
)
from tests.conftest import SF_SMOKE

_UTC = datetime.timezone.utc
_POINTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456, tzinfo=_UTC),
    datetime.datetime(2024, 6, 15, 23, 59, 59, 999999, tzinfo=_UTC),
    datetime.datetime(2025, 12, 31, 12, 30, 0, 1, tzinfo=_UTC),
]


def _micros(dt: datetime.datetime) -> int:
    return int(dt.timestamp() * 1_000_000)


def test_normalize_events_ts_all_generator_formats(spark):
    naive = [p.replace(tzinfo=None) for p in _POINTS]
    as_long_ns = spark.createDataFrame(
        [(_micros(p) * 1000,) for p in _POINTS],
        T.StructType([T.StructField("ts", T.LongType())]),
    )
    as_ts = spark.createDataFrame(
        [(p,) for p in naive],
        T.StructType([T.StructField("ts", T.TimestampType())]),
    )
    as_ntz = spark.createDataFrame(
        [(p,) for p in naive],
        T.StructType([T.StructField("ts", T.TimestampNTZType())]),
    )
    outs = [
        sorted(r["ts"] for r in normalize_events_ts(df).collect())
        for df in (as_long_ns, as_ts, as_ntz)
    ]
    assert outs[0] == outs[1] == outs[2] == sorted(naive)
    for df in (as_long_ns, as_ts, as_ntz):
        assert isinstance(
            normalize_events_ts(df).schema["ts"].dataType, T.TimestampType
        )


def test_events_loader_matches_duckdb_timestamps(spark):
    """The loaded events.ts must equal DuckDB's naive view of the same
    file to the microsecond — the invariant every oracle pair rests on."""
    import duckdb

    con = duckdb.connect()
    got_all = load_table(spark, SF_SMOKE, "events").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]
    want_all = con.execute(
        f"SELECT MIN(CAST(ts AS TIMESTAMP)), MAX(CAST(ts AS TIMESTAMP)) "
        f"FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()
    assert got_all["mn"] == want_all[0]
    assert got_all["mx"] == want_all[1]


# ---------------------------------------------------------------------------
# Fixture-derived cache keying (catalog.fixture_cache_dir)
# ---------------------------------------------------------------------------

_MTIME_NS = 1_700_000_000 * 1_000_000_000


def _fixture(root, name="orders", payload=b"PAR1"):
    """A stand-in fixture file with a pinned whole-second mtime."""
    sf = root / "sf"
    sf.mkdir(exist_ok=True)
    path = sf / f"{name}.parquet"
    path.write_bytes(payload)
    os.utime(path, ns=(_MTIME_NS, _MTIME_NS))
    return sf, path


@pytest.fixture
def cache_tmp(tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return tmp


def test_cache_dir_same_for_relative_and_absolute_sf_dir(
    tmp_path, cache_tmp, monkeypatch
):
    sf, _ = _fixture(tmp_path)
    monkeypatch.chdir(tmp_path)
    assert fixture_cache_dir("sf", "orders", "t") == fixture_cache_dir(
        str(sf), "orders", "t"
    )
    assert fixture_cache_dir("./sf", "orders", "t") == fixture_cache_dir(
        str(sf), "orders", "t"
    )


def test_cache_dir_changes_with_size(tmp_path, cache_tmp):
    sf, path = _fixture(tmp_path)
    before = fixture_cache_dir(str(sf), "orders", "t")
    path.write_bytes(b"PAR1PAR1")
    os.utime(path, ns=(_MTIME_NS, _MTIME_NS))
    assert fixture_cache_dir(str(sf), "orders", "t") != before


def test_cache_dir_changes_with_sub_second_mtime(tmp_path, cache_tmp):
    sf, path = _fixture(tmp_path)
    before = fixture_cache_dir(str(sf), "orders", "t")
    # Same size, same whole second: only the ns mtime moves.
    os.utime(path, ns=(_MTIME_NS, _MTIME_NS + 1000))
    assert os.stat(path).st_mtime_ns == _MTIME_NS + 1000
    assert fixture_cache_dir(str(sf), "orders", "t") != before


def test_cache_dir_separates_versions_tables_and_tags(tmp_path, cache_tmp):
    sf, _ = _fixture(tmp_path)
    _fixture(tmp_path, "events")
    dirs = {
        fixture_cache_dir(str(sf), "orders", "t"),
        fixture_cache_dir(str(sf), "orders", "t", version="f2"),
        fixture_cache_dir(str(sf), "orders", "t", version="f3"),
        fixture_cache_dir(str(sf), "events", "t"),
        fixture_cache_dir(str(sf), "orders", "u"),
    }
    assert len(dirs) == 5


def test_cache_dir_is_stable_and_not_created(tmp_path, cache_tmp):
    sf, _ = _fixture(tmp_path)
    d = fixture_cache_dir(str(sf), "orders", "t")
    assert d == fixture_cache_dir(str(sf), "orders", "t")
    assert os.path.basename(d) == "t"
    assert not os.path.exists(d)


def test_cache_dir_missing_fixture_keys_on_path(tmp_path, cache_tmp):
    missing = str(tmp_path / "nowhere")
    assert fixture_stamp(missing, "orders") == os.path.abspath(
        table_path(missing, "orders")
    )
    assert fixture_cache_dir(missing, "orders", "t") != fixture_cache_dir(
        missing, "events", "t"
    )


def test_cache_root_follows_tempfile_gettempdir(tmp_path, monkeypatch):
    sf, _ = _fixture(tmp_path)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(a))
    assert fixture_cache_dir(str(sf), "orders", "t").startswith(
        os.path.join(str(a), "zmx-cache") + os.sep
    )
    # TMPDIR set after import (perfbench's per-run isolation) is honoured.
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.setenv("TMPDIR", str(b))
    assert fixture_cache_dir(str(sf), "orders", "t").startswith(
        os.path.join(str(b), "zmx-cache") + os.sep
    )


def test_half_built_cache_is_rebuilt(spark, duck, tmp_path, monkeypatch):
    """A cache dir left behind by a build killed partway (no
    ``_SUCCESS`` marker) is rebuilt, not served with missing rows."""
    from zmaxion_spark.queries import REGISTRY
    from zmaxion_spark.testing import run_query_pair

    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    os.makedirs(fixture_cache_dir(SF_SMOKE, "nation", "nation_csv"))
    res = run_query_pair(spark, duck, REGISTRY["q_scan_csv"], SF_SMOKE)
    assert res.ok, res.detail
