"""Fixture-table catalog (FIXTURES.md schemas).

Load pattern per TESTDATA.md: one parquet file per table under
``{sf_dir}/{name}.parquet``. The only special case is ``events``:
depending on the generator version its ``ts`` column is either a
native parquet timestamp (current data: timestamp[us]) or an int64
of epoch-nanoseconds (older data). We normalize both to a µs
TIMESTAMP_NTZ — identical to DuckDB's view of the same file, so
oracle SQL pairs stay bit-exact (verified in tests).

This module is the single owner of the fixture layout and of the
caches derived from fixtures:

- ``table_path`` is the only place that spells where a table lives.
- ``fixture_cache_dir`` is the only place that keys a derived cache
  (stream symlink dirs, format round-trips, logged txlog tables).
  Caches live under ``$TMPDIR/zmx-cache`` (``tempfile.gettempdir()``,
  read at call time), keyed by the source file's identity, so a
  regenerated fixture is never served a stale copy.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from zmaxion_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables we always broadcast in star joins.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part"})


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a µs TIMESTAMP (session tz, pinned UTC)
    regardless of how the generator wrote it: int64 epoch-ns in older
    data, parquet timestamp[us] (read as TIMESTAMP or TIMESTAMP_NTZ
    depending on inferTimestampNTZ) in current data. With UTC session
    tz this is value-identical to DuckDB's naive TIMESTAMP view of the
    same column, so oracle SQL pairs stay bit-exact."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # epoch-ns long -> µs timestamp (matches DuckDB CAST(ts AS TIMESTAMP))
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif not isinstance(ts_type, TimestampType):
        # TIMESTAMP_NTZ (or date-like) -> session-tz TIMESTAMP; UTC session
        # tz makes the cast a pure type change, values preserved
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def table_path(sf_dir: str, name: str) -> str:
    """Where fixture table ``name`` lives: a parquet file, or (for
    Spark-written scale-ups, tools/make_sfn.py) a directory of part
    files under the same name."""
    return f"{sf_dir}/{name}.parquet"


def fixture_stamp(sf_dir: str, table: str) -> str:
    """Identity of a fixture file: absolute path + size + ns mtime.
    Relative and absolute spellings of one fixture share a stamp; a
    regenerated fixture gets a new one. A missing file stamps as its
    path alone."""
    src = os.path.abspath(table_path(sf_dir, table))
    try:
        st = os.stat(src)
    except OSError:
        return src
    return f"{src}|{st.st_size}|{st.st_mtime_ns}"


def fixture_cache_dir(sf_dir: str, table: str, tag: str, version: str = "") -> str:
    """Cache dir for data derived from fixture ``table``, named ``tag``.
    ``version`` is the derivation's format generation: bumping it
    orphans caches an older derivation wrote. The root is read from
    ``tempfile.gettempdir()`` on every call, so a caller that points
    TMPDIR elsewhere gets its own caches. The dir is not created."""
    ident = f"{fixture_stamp(sf_dir, table)}|{version}"
    key = hashlib.md5(ident.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), "zmx-cache", key, tag)


def cache_built(path: str) -> bool:
    """Whether the Spark write that builds cache dir ``path`` finished.
    Its ``_SUCCESS`` marker lands last, so a build killed partway is
    redone instead of being served with missing rows."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes events.ts to µs timestamp."""
    tune(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Fan a narrow input across the cluster before expensive per-row
    derivation work (explode fan-outs, hash cascades, n-gram chains).

    Guide §2.5 "input skew": a single unsplittable file (or a single
    parquet row group) yields a 1-partition scan, so every map-side
    transformation downstream of it runs on one core while the rest of
    the cluster idles. Round-robin repartition to
    ``factor × defaultParallelism`` — but ONLY when the plan's current
    parallelism is below that target, so at production scale (many
    files/row groups per table) this is a no-op and adds no exchange.

    Costs to be aware of (ADVICE r11):
    - The guard calls ``df.rdd.getNumPartitions()``, which converts the
      plan to an RDD — pure driver-side planning work per call (cheap
      at these plan sizes, and the count it sees is pre-AQE).
    - The shuffle moves whatever columns the projection carries. Keep
      it to keys + the columns the downstream derivation actually
      consumes. When that unavoidably includes a heavy payload (the
      minhash/BPE callers shuffle the document text because the
      derivation IS over the text), the spread is only worth it when
      the derivation is much more expensive than the payload shuffle —
      measured per call site, e.g. the round-12 bm25/rrf A/B rejected
      exactly this spread (tokenize is cheaper than moving the text).
    """
    spark = df.sparkSession
    target = factor * spark.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        cur = 1
    return df.repartition(target) if cur < target else df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register temp views so ``spark.sql`` (entry point EP2) works."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
