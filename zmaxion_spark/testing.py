"""Spark-vs-DuckDB differential comparator (mirrors the driver gate).

The driver compares row-count + schema + order-insensitive value-hash
(`__spark_entry__.py` docstring). This module reproduces that check
locally so a query cannot land without passing the same bar: both
results are canonicalized (columns sorted by name, rows sorted by all
columns, timestamps to µs int64), then compared cell-exact — floats
must match to ~1e-12 relative (the decimal-sum discipline in
queries/helpers.py makes them bit-exact in practice).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

from zmaxion_spark.catalog import TABLES, table_path


def duckdb_connect(sf_dir: str):
    """Register fixture views exactly as the driver does (plain parquet).

    Driver fixtures are single files (`<t>.parquet`); Spark-written
    fixtures (tools/make_sfn.py scale-ups) are DIRECTORIES of part
    files under the same name — glob those."""
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        src = table_path(sf_dir, t)
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )
    return con


def _canon_cell(v):
    """Order-preserving canonical string for nested cells (arrays/structs).

    Float elements are rounded to 6dp so float32-vs-float64 transport
    differences (DuckDB list<float> → numpy float32, Spark → python
    float) don't produce spurious mismatches. Queries that emit
    set-valued arrays (collect_set) must sort them (sort_array)
    themselves — order is part of the comparison.
    """
    if isinstance(v, (list, np.ndarray, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (float, np.floating)):
        return format(round(float(v), 6), ".6f")
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows deterministically."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64") if s.isna().any() else s.astype("int64")
        elif isinstance(s.dtype, pd.CategoricalDtype):
            df[c] = s.astype(str)
        elif s.dtype == object:
            probe = s.dropna()
            if len(probe) and isinstance(probe.iloc[0], _dt.date) and not isinstance(
                probe.iloc[0], _dt.datetime
            ):
                # Spark DateType → python date objects; DuckDB DATE →
                # datetime64. Normalize both to µs int64.
                df[c] = pd.to_datetime(s).astype("datetime64[us]").astype("int64")
            else:
                df[c] = s.apply(_canon_cell)
    # Sort rows on a rounded view so float noise can't permute ties.
    key = df.copy()
    for c in key.columns:
        if pd.api.types.is_float_dtype(key[c]):
            key[c] = key[c].round(6)
    order = key.sort_values(list(key.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str

    def __bool__(self) -> bool:
        return self.ok


def _dtype_family(s: pd.Series) -> str:
    """Coarse dtype family for driver-parity checks.

    The driver's canonicalizer hashes values dtype-sensitively: int64 vs
    float64 of identical values hash differently (bit round 1:
    q_text_stats, DuckDB HUGEINT → float64 vs Spark int64), while
    integer *widths* don't (int32 Spark `size()` vs DuckDB BIGINT
    passed). So the family — not the width — must agree."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if s.dtype == object:
        probe = s.dropna()
        if len(probe) and isinstance(probe.iloc[0], _dt.date):
            # Spark DateType → python date objects; the driver canon
            # normalizes them against DuckDB's datetime64 (round-1
            # evidence: q_dedup_keyed's date column was hash-exact).
            return "datetime"
    return "object"


def find_array_cells(pdf: pd.DataFrame) -> list[str]:
    """Columns whose cells would crash the driver canonicalizer.

    The driver sorts rows with pandas ``sort_values`` over raw cells;
    any list/ndarray/dict cell raises ``unhashable type`` (bit round 1:
    q_text_tokenize, q_agg_filtered_collect, q_agg_approx). Graded
    queries must emit scalars only."""
    bad = []
    for c in pdf.columns:
        s = pdf[c].dropna()
        if len(s) and isinstance(s.iloc[0], (list, tuple, dict, np.ndarray)):
            bad.append(c)
    return bad


def driver_canon_hazards(name: str, spark_pdf: pd.DataFrame,
                         oracle_pdf: pd.DataFrame | None) -> CompareResult | None:
    """Checks the driver gate enforces but a value-compare would miss."""
    arr = find_array_cells(spark_pdf)
    if arr:
        return CompareResult(
            name, False, f"ARRAY output columns (driver canon crash): {arr}"
        )
    if oracle_pdf is not None:
        arr_o = find_array_cells(oracle_pdf)
        if arr_o:
            return CompareResult(
                name, False, f"ARRAY oracle columns (driver canon crash): {arr_o}"
            )
        for c in sorted(set(spark_pdf.columns) & set(oracle_pdf.columns)):
            fs, fo = _dtype_family(spark_pdf[c]), _dtype_family(oracle_pdf[c])
            if fs != fo:
                return CompareResult(
                    name, False,
                    f"dtype family mismatch col={c}: spark={spark_pdf[c].dtype} "
                    f"({fs}) vs oracle={oracle_pdf[c].dtype} ({fo}) — identical "
                    "values would still hash-fail the driver gate",
                )
    return None


def compare_frames(
    name: str,
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    strict: bool = True,
) -> CompareResult:
    """Compare Spark vs oracle results.

    strict=True (the default — this gate's job is to predict the
    driver's BIT-EXACT value hash) fails any float divergence > 0:
    round 8 proved the old 1e-9 tolerance green-lights latent driver
    failures (q_anova_oneway: local "close (2.3e-15)", driver FAIL).
    strict=False restores the 1e-9 tolerance for exploratory use."""
    if set(spark_pdf.columns) != set(oracle_pdf.columns):
        return CompareResult(
            name, False,
            f"schema mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}",
        )
    if len(spark_pdf) != len(oracle_pdf):
        return CompareResult(
            name, False, f"row count mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    worst = 0.0
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            av = a[c].astype("float64").to_numpy()
            bv = b[c].astype("float64").to_numpy()
            both_nan = np.isnan(av) & np.isnan(bv)
            denom = np.maximum(np.maximum(np.abs(av), np.abs(bv)), 1.0)
            rel = np.abs(av - bv) / denom
            rel[both_nan] = 0.0
            m = float(np.nanmax(rel)) if len(rel) else 0.0
            worst = max(worst, m)
            if m > (0.0 if strict else 1e-9):
                i = int(np.nanargmax(rel))
                return CompareResult(
                    name, False,
                    f"float mismatch col={c} rel={m:.3e} spark={av[i]!r} oracle={bv[i]!r}"
                    + (" (strict: driver hashes bits)" if strict and m <= 1e-9 else ""),
                )
            if strict and len(av):
                # The driver hashes the raw float64 BITS, so values that
                # compare numerically equal can still fail it: -0.0 vs
                # +0.0 (round-9 driver FAIL q_ransac_line) and any NaN
                # payload drift. Compare packed-double bit patterns,
                # excusing only matched-NaN pairs (any-payload NaN
                # canonicalizes identically through Arrow/parquet).
                bits_ne = av.view(np.uint64) != bv.view(np.uint64)
                bits_ne &= ~both_nan
                if bool(np.any(bits_ne)):
                    i = int(np.argmax(bits_ne))
                    return CompareResult(
                        name, False,
                        f"float BIT mismatch col={c} row={i} "
                        f"spark={av[i]!r} (0x{av.view(np.uint64)[i]:016x}) "
                        f"oracle={bv[i]!r} (0x{bv.view(np.uint64)[i]:016x})"
                        " — numerically equal but the driver hashes bits"
                        " (sign-of-zero / NaN canonicalization class)",
                    )
        else:
            eq = a[c].to_numpy() == b[c].to_numpy()
            na = a[c].isna().to_numpy() & b[c].isna().to_numpy()
            if not bool(np.all(eq | na)):
                i = int(np.argmin(eq | na))
                return CompareResult(
                    name, False,
                    f"value mismatch col={c} row={i} spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}",
                )
    tag = "exact" if worst == 0.0 else f"close (max rel {worst:.1e})"
    return CompareResult(name, True, f"{len(a)} rows, {len(a.columns)} cols, {tag}")


def run_query_pair(
    spark, con, q, sf_dir: str, strict: bool = True
) -> CompareResult:
    """Execute one registry Query on both engines and compare.

    Enforces the driver's stricter canon on top of the value compare:
    no ARRAY output cells (either side), matching dtype families, and
    (strict=True, default) bit-exact float equality."""
    sdf = q.fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        hazard = driver_canon_hazards(q.name, sdf, None)
        if hazard is not None:
            return hazard
        return CompareResult(q.name, True, f"rows-only: {len(sdf)} rows")
    odf = con.execute(q.oracle).fetchdf()
    hazard = driver_canon_hazards(q.name, sdf, odf)
    if hazard is not None:
        return hazard
    return compare_frames(q.name, sdf, odf, strict=strict)
