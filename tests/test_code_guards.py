"""Source guards: ``zmaxion_spark.catalog`` is the one owner of the
fixture layout and of fixture-derived cache keys,
``zmaxion_spark.txlog`` the one owner of the transaction log's record
layout and commit rule, ``zmaxion_spark.streaming.pipeline`` the
one place that starts a bounded (availableNow) stream run, and
``zmaxion_spark.session`` the one place that puts a session conf back.
These checks parse the package with ``ast`` and fail if a copy of any
of those decisions comes back elsewhere: a per-module table loader
alias, a hard-coded ``/tmp/`` path, a hand-rolled stat-based cache key,
a spelled-out ``{sf_dir}/<table>.parquet`` path, a log record read or
raw commit outside ``txlog.py``, a hand-built availableNow run, or a
hand-written conf save/set/restore block."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "zmaxion_spark"
CATALOG = PKG / "catalog.py"
TXLOG = PKG / "txlog.py"
PIPELINE = PKG / "streaming" / "pipeline.py"
SESSION = PKG / "session.py"
SOURCES = sorted(PKG.rglob("*.py"))


@pytest.fixture(scope="module")
def trees() -> dict[Path, ast.AST]:
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in SOURCES}


def _where(path: Path, node: ast.AST) -> str:
    return f"{path.relative_to(PKG.parent)}:{node.lineno}"


def test_package_is_scanned():
    assert CATALOG in SOURCES
    assert len(SOURCES) > 50


def test_no_tmp_literals(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        for n in ast.walk(trees[p])
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.startswith("/tmp/")
    ]
    assert not hits, f"use catalog.fixture_cache_dir or tempfile: {hits}"


def test_no_table_loader_aliases_in_queries(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        if p.parent.name == "queries"
        for n in ast.walk(trees[p])
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == "_t"
    ]
    assert not hits, f"call catalog.load_table directly: {hits}"


def _is_stat_keying(node: ast.AST) -> bool:
    """``os.stat``/``os.lstat``/``os.path.getmtime`` or any ``st_mtime*``."""
    if isinstance(node, ast.alias):
        return node.name in {"stat", "lstat", "getmtime"}
    if not isinstance(node, ast.Attribute):
        return False
    if node.attr.startswith("st_mtime") or node.attr == "getmtime":
        return True
    return (
        node.attr in {"stat", "lstat"}
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def test_no_file_stat_keying_outside_catalog(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        if p != CATALOG
        for n in ast.walk(trees[p])
        if _is_stat_keying(n)
    ]
    assert not hits, f"use catalog.fixture_stamp/fixture_cache_dir: {hits}"
    assert any(_is_stat_keying(n) for n in ast.walk(trees[CATALOG]))


def _spells_fixture_path(node: ast.JoinedStr) -> bool:
    """An f-string like ``f"{sf_dir}/{name}.parquet"``."""
    names = {
        v.value.id
        for v in node.values
        if isinstance(v, ast.FormattedValue) and isinstance(v.value, ast.Name)
    }
    tail = node.values[-1] if node.values else None
    return (
        "sf_dir" in names
        and isinstance(tail, ast.Constant)
        and str(tail.value).endswith(".parquet")
    )


def test_fixture_path_spelled_only_in_catalog(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        if p != CATALOG
        for n in ast.walk(trees[p])
        if isinstance(n, ast.JoinedStr) and _spells_fixture_path(n)
    ]
    assert not hits, f"use catalog.table_path: {hits}"
    assert any(
        isinstance(n, ast.JoinedStr) and _spells_fixture_path(n)
        for n in ast.walk(trees[CATALOG])
    )


def _touches_log_layout(node: ast.AST) -> bool:
    """``x._read_record(...)``, ``x._commit(...)`` or ``rec["actions"]``."""
    if isinstance(node, ast.Call):
        f = node.func
        return isinstance(f, ast.Attribute) and f.attr in {"_read_record", "_commit"}
    return (
        isinstance(node, ast.Subscript)
        and isinstance(node.slice, ast.Constant)
        and node.slice.value == "actions"
    )


def test_log_layout_known_only_to_txlog(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        if p != TXLOG
        for n in ast.walk(trees[p])
        if _touches_log_layout(n)
    ]
    assert not hits, f"use TxTable.live_files/added_files/commit_retry: {hits}"
    assert any(_touches_log_layout(n) for n in ast.walk(trees[TXLOG]))


def _starts_bounded_run(node: ast.AST) -> bool:
    """An ``availableNow=`` keyword, a ``"checkpointLocation"`` option, or
    an import of a private name of ``streaming.pipeline``."""
    if isinstance(node, ast.keyword):
        return node.arg == "availableNow"
    if isinstance(node, ast.ImportFrom):
        return node.module == "zmaxion_spark.streaming.pipeline" and any(
            a.name.startswith("_") for a in node.names
        )
    return isinstance(node, ast.Constant) and node.value == "checkpointLocation"


def test_bounded_runs_start_only_in_pipeline(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        if p != PIPELINE
        for n in ast.walk(trees[p])
        if _starts_bounded_run(n)
    ]
    assert not hits, f"use streaming.pipeline.run_stream or its run_* entry points: {hits}"
    assert any(_starts_bounded_run(n) for n in ast.walk(trees[PIPELINE]))


def _unsets_conf(node: ast.AST) -> bool:
    """``<x>.conf.unset(...)``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "unset"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )


def test_conf_restored_only_in_session(trees):
    hits = [
        _where(p, n)
        for p in SOURCES
        if p != SESSION
        for n in ast.walk(trees[p])
        if _unsets_conf(n)
    ]
    assert not hits, f"use session.scoped_conf: {hits}"
    assert any(_unsets_conf(n) for n in ast.walk(trees[SESSION]))
