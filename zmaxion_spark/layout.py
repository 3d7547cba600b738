"""Storage layout & skew tooling — the SCALE.md §Storage/§Joins notes
as executable code.

At 100 TB the wins are decided before the first operator runs: facts
partitioned on the pruning column, bucketed on the join key (co-located
sort-merge joins with NO exchange), and explicit salting for the keys
AQE's skew splitting can't save (e.g. a skewed build side that must
not be replicated wholesale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet layout: one directory level per partition
    column (dynamic partition pruning target), rows sorted within
    files on `sort_by` so row-group min/max skip on those keys."""
    out = df
    if sort_by:
        out = df.repartition(*[F.col(c) for c in partition_by]).sortWithinPartitions(
            *sort_by
        )
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table layout: pre-shuffled on the join key at write
    time, so every later equi-join/groupBy on that key runs with NO
    exchange (asserted in tests/test_layout.py). This is the batch
    equivalent of co-partitioned stream state."""
    # A fresh session's catalog knows nothing of tables written by a
    # previous process, but their warehouse directories survive on disk;
    # saveAsTable(overwrite) then fails with LOCATION_ALREADY_EXISTS.
    # Reconcile: drop any catalog entry (which clears its location),
    # then remove an orphan directory left behind without an entry.
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    orphan = os.path.join(warehouse, table.lower())
    if os.path.isdir(orphan):
        shutil.rmtree(orphan, ignore_errors=True)

    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.format("parquet").saveAsTable(table)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    salt_from: Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with explicit key salting for pathological skew.

    The skewed side's hot keys are spread over n_salts sub-keys using
    a DETERMINISTIC salt derived from one of its own columns (no
    rand() — plans must replay identically); the small side replicates
    n_salts×. Result is row-identical to the plain join. Use when one
    key dominates so hard that even AQE's skew split leaves a straggler
    — n_salts bounds the biggest task at 1/n of the hot key."""
    salted_left = skewed.withColumn("_salt", F.pmod(F.xxhash64(salt_from), F.lit(n_salts)))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    replicated = small.select("*", salts).withColumn(
        "_salt", F.col("_salt").cast("bigint")
    )
    return salted_left.join(replicated, [on, "_salt"], how).drop("_salt")


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (optionally re-sorted for row-group
    min/max skipping), replacing the original atomically-enough for a
    single-writer pipeline (write to a sibling temp dir, then swap).

    The small-file problem is the silent killer of long-running
    ingest at scale — thousands of KB-sized files per partition turn
    every scan into a metadata storm. Streaming sinks and per-batch
    appends should schedule this over closed partitions. Returns
    (files_before, files_after)."""
    import glob
    import os
    import shutil

    before = len(glob.glob(os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    if sort_by:
        df = df.repartition(target_files).sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(target_files)
    tmp = path.rstrip("/") + ".compact-tmp"
    df.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".compact-old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len(glob.glob(os.path.join(path, "*.parquet")))
    return before, after
