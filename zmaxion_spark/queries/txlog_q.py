"""Transaction-log table-format graded queries — SURVEY.md §2.18
(#175–#177).

A logged orders table is built once per fixture generation (cached by
the source parquet's identity, the round-2→3 lesson) with this commit
history:

    v0  append  orders WHERE o_orderstatus = 'O'   (range-laid-out)
    v1  append  orders WHERE o_orderstatus = 'F'   (range-laid-out)
    v2  compact entire live set into 4 files       (layout-only)

Each graded query then proves one table-format guarantee against a
DuckDB oracle stated over the ORIGINAL orders fixture — the table
format must be a transparent layer over the data:

- #175 snapshot read at head: compaction changed bytes on disk but
  must not change a single value.
- #176 time travel to v0: the pre-append world, reconstructed from
  the log prefix.
- #177 manifest data skipping at v1: file-level min/max pruning +
  residual predicate == the plain WHERE — skipping is a superset
  guarantee, never a filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import fixture_cache_dir, load_table
from zmaxion_spark.queries.helpers import dsum, sql_dsum
from zmaxion_spark.queries.registry import query
from zmaxion_spark.txlog import TxTable

# Price band for the skipping query: inside the populated range at
# every SF, so both engines see rows and several files fall outside.
_LO, _HI = 50_000.0, 150_000.0
_FMT = "f2"  # txlog protocol generation (see orders_tx)


def orders_tx(spark: SparkSession, sf_dir: str) -> TxTable:
    """Build (or reuse) the logged orders table for this fixture
    generation. The three-commit history above; idempotent — a
    complete build is detected by its exact version set."""
    # _FMT is the table-format protocol generation: bumping it orphans
    # caches built by an older txlog (e.g. pre-dataChange markers) so a
    # protocol change can never read a stale-format cache.
    root = fixture_cache_dir(sf_dir, "orders", "orders_tx", version=_FMT)
    t = TxTable(root, stat_cols=("o_totalprice",))
    if t.versions() == [0, 1, 2]:
        return t
    # (Re)build from scratch — wipe any partial prior state.
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    t = TxTable(root, stat_cols=("o_totalprice",))
    orders = load_table(spark, sf_dir, "orders")
    t.append(
        orders.filter(F.col("o_orderstatus") == "O"),
        n_files=8,
        range_col="o_totalprice",
    )
    t.append(
        orders.filter(F.col("o_orderstatus") == "F"),
        n_files=8,
        range_col="o_totalprice",
    )
    t.compact(spark, n_files=4)
    return t


def _priority_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


_ORACLE_AGG = f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    {{where}}
    GROUP BY o_orderpriority
"""


@query(
    "q_txlog_snapshot",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus IN ('O', 'F')"),
    operators=(175,),
    doc="Table-format snapshot read (#175): head of the commit log "
    "after append+append+compact. The compaction commit rewrote every "
    "byte of data layout; the snapshot must still equal the plain SQL "
    "over the source rows — the format is metadata, not data. Planning "
    "cost is O(log size): live files resolve from JSON manifests, the "
    "scan is a stock pushdown-capable parquet read.",
)
def q_txlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _priority_agg(orders_tx(spark, sf_dir).read(spark))


@query(
    "q_txlog_time_travel",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus = 'O'"),
    operators=(176,),
    doc="Time travel (#176): snapshot at version 0 replays only the "
    "first commit — the 'O'-status world before the second append "
    "existed, although those files still sit in the same data/ dir "
    "and a later commit logically removed-and-rewrote everything. "
    "Reproducibility for training-data pipelines: a run pinned to a "
    "version reads identical bytes forever (until vacuum).",
)
def q_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _priority_agg(orders_tx(spark, sf_dir).read(spark, version=0))


@query(
    "q_txlog_skipping",
    oracle=_ORACLE_AGG.format(
        where="WHERE o_orderstatus IN ('O', 'F') "
        f"AND o_totalprice BETWEEN {_LO} AND {_HI}"
    ),
    operators=(177,),
    doc="Manifest data skipping (#177): at v1 the table is 16 "
    "range-laid-out files whose per-file [min,max] o_totalprice stats "
    "live in the commit log; a banded read prunes non-intersecting "
    "files from the MANIFEST before Spark lists a single path, then "
    "applies the residual predicate (skipping is a superset "
    "guarantee). tests/test_txlog.py pins that files were actually "
    "skipped; this query grades that pruning never changes the "
    "answer. At 100 TB this is the difference between planning over "
    "stats and scanning to discover you could have skipped.",
)
def q_txlog_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = orders_tx(spark, sf_dir).read(
        spark, version=1, prune=("o_totalprice", _LO, _HI)
    )
    return _priority_agg(df.filter(F.col("o_totalprice").between(_LO, _HI)))


# ---------------------------------------------------------------------------
# #178 streaming ingestion into the log (exactly-once foreachBatch)
# ---------------------------------------------------------------------------

_INGEST_SOURCE = "events_ingest"


def events_ingest_table(spark: SparkSession, sf_dir: str) -> TxTable:
    """Replay the chunked events topic into a logged table, one
    atomic commit per micro-batch, (source, batchId)-idempotent.

    On a COMPLETE prior build this re-delivers every batch and
    append_batch skips each one — the graded path itself re-proves
    replay idempotence on every run after the first. An incomplete
    build (fewer than EVENT_CHUNKS ingest commits) is wiped and redone."""
    from zmaxion_spark.streaming.pipeline import run_foreach_batch
    from zmaxion_spark.streaming.sources import EVENT_CHUNKS, stream_event_chunks

    root = fixture_cache_dir(sf_dir, "events", "events_tx")
    t = TxTable(root)
    if t.applied_batches(_INGEST_SOURCE) != EVENT_CHUNKS - 1:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        t = TxTable(root)
    if t.applied_batches(_INGEST_SOURCE) == EVENT_CHUNKS - 1:
        return t
    run_foreach_batch(
        stream_event_chunks(spark, sf_dir),
        lambda df, bid: t.append_batch(df, _INGEST_SOURCE, bid),
    )
    return t


@query(
    "q_stream_to_txlog",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
    operators=(7, 57, 178),
    doc="Streaming ingestion into the transaction log (#178): the "
    "chunked event 'topic' drains through foreachBatch, each "
    "micro-batch one atomic commit carrying its (source, batchId) txn "
    "marker — a replayed batch (retry, checkpoint recovery, or a full "
    "re-run of this query) is detected in the log and skipped, the "
    "Delta txnAppId pattern. End-to-end exactly-once from stream to "
    "table without a sink-side dedup column; the oracle is the batch "
    "aggregate of the original events.",
)
def q_stream_to_txlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = events_ingest_table(spark, sf_dir)
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "total_value"),
        )
    )


# ---------------------------------------------------------------------------
# #179 vacuum / retention
# ---------------------------------------------------------------------------


@query(
    "q_txlog_vacuum",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus = 'F'"),
    operators=(179,),
    doc="Vacuum (#179): after an overwrite, the previous snapshot's "
    "files are dead at head but still on disk (that's what funds time "
    "travel); vacuum with a retention horizon at head physically "
    "deletes them. This query vacuums a freshly-built two-version "
    "table and grades that the HEAD read is byte-identical after the "
    "delete — vacuum reclaims storage, never answers. The lost-time-"
    "travel trade is pinned in tests/test_txlog.py.",
)
def q_txlog_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-vac-") + "/t")
    t.append(orders.filter(F.col("o_orderstatus") == "O"), n_files=4)
    t.overwrite(orders.filter(F.col("o_orderstatus") == "F"), n_files=4)
    t.vacuum(retain_from_version=t.latest_version())
    return _priority_agg(t.read(spark))


# ---------------------------------------------------------------------------
# #181–#183: schema evolution, MERGE INTO, change data feed
# ---------------------------------------------------------------------------


@query(
    "q_txlog_schema_evolution",
    oracle=f"""
        SELECT CASE WHEN o_orderstatus = 'F' THEN o_orderpriority
                    ELSE '(pre-evolution)' END AS priority,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
        GROUP BY 1
    """,
    operators=(181,),
    doc="Schema evolution (#181): commit v0 writes (o_orderkey, "
    "o_totalprice); commit v1 appends files that ALSO carry "
    "o_orderpriority. A merge-schema snapshot read unions the file "
    "schemas by NAME — old files surface the new column as NULL, no "
    "rewrite of existing data (the only sane evolution cost model at "
    "100 TB: schema changes are metadata, backfill is a separate, "
    "explicit job). The graded output folds the NULLs into a "
    "'(pre-evolution)' bucket so the evolution boundary itself is "
    "hash-checked.",
)
def q_txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-evo-") + "/t")
    t.append(
        orders.filter(F.col("o_orderstatus") == "O").select(
            "o_orderkey", "o_totalprice"
        ),
        n_files=2,
    )
    t.append(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        n_files=2,
    )
    return (
        t.read(spark, merge_schema=True)
        .groupBy(
            F.coalesce("o_orderpriority", F.lit("(pre-evolution)")).alias(
                "priority"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@query(
    "q_txlog_merge",
    oracle=f"""
        WITH upserted AS (
            SELECT o_orderkey, o_orderpriority,
                   CASE WHEN o_totalprice > 150000 THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderstatus = 'F'
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM upserted GROUP BY o_orderpriority
    """,
    operators=(90, 182),
    doc="MERGE INTO the log (#182): the lakehouse upsert loop end-to-"
    "end — snapshot-read the base ('O' orders, committed v0), apply a "
    "change-set (10% price bump for orders over 150k = UPDATEs; the "
    "'F' orders = INSERTs) via latest-version-wins merge algebra "
    "(functions/merge.py, one shuffle on the key), and land the result "
    "as ONE atomic overwrite commit — readers see pre-merge or post-"
    "merge, never a torn state. Copy-on-write at file granularity, "
    "exactly Delta/Iceberg's default MERGE cost model.",
)
def q_txlog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from zmaxion_spark.functions.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-merge-") + "/t")
    t.append(orders.filter(F.col("o_orderstatus") == "O").select(*cols), n_files=4)

    base = t.read(spark).withColumn("_v", F.lit(0))
    updates = (
        base.filter(F.col("o_totalprice") > 150000)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("_v", F.lit(1))
    )
    inserts = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(*cols)
        .withColumn("_v", F.lit(1))
    )
    merged = merge_upsert(base, updates.unionByName(inserts), "o_orderkey", "_v")
    t.overwrite(merged.drop("_v"), n_files=4)
    return _priority_agg(t.read(spark))


@query(
    "q_txlog_change_feed",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus = 'F'"),
    operators=(183,),
    doc="Change data feed (#183): 'what changed after v0' on the "
    "graded orders table = the files added by the v1 append — and NOT "
    "the v2 compaction, whose commit rewrote every byte of the table "
    "but carries dataChange:false. A feed that ignored the marker "
    "would double the table here (compaction re-adds all rows); the "
    "hash-exact match against the plain 'F'-subset SQL proves layout "
    "maintenance is invisible to incremental consumers. This is how "
    "downstream jobs consume a 100 TB table incrementally: O(changed "
    "files), never a full-table diff.",
)
def q_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = orders_tx(spark, sf_dir)
    return _priority_agg(t.read_changes(spark, since_version=0))


# ---------------------------------------------------------------------------
# #184 the log as a streaming source (versions are offsets)
# ---------------------------------------------------------------------------


@query(
    "q_txlog_stream_source",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
    operators=(137, 184),
    doc="The log as a streaming source (#184): the table that #178 "
    "landed batch-by-batch is consumed back as a stream — commit "
    "versions are the offsets, each micro-batch's input partitions are "
    "the files those commits added (dataChange:false layout commits "
    "invisible, so compaction never re-emits), and replay of a version "
    "range re-reads identical immutable bytes. Full circle: "
    "stream → exactly-once commits → table → stream, with the batch "
    "aggregate of the original events as the oracle for the whole "
    "round trip. Partition discovery is metadata-only on the driver; "
    "data is read executor-side, one partition per committed file.",
)
def q_txlog_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.pipeline import run_available_now
    from zmaxion_spark.streaming.txlog_source import stream_txlog

    t = events_ingest_table(spark, sf_dir)
    sdf = stream_txlog(spark, t.path)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )
    return run_available_now(agg, name="txlog_stream", mode="complete")


# ---------------------------------------------------------------------------
# #187 Z-order re-clustering as a layout commit
# ---------------------------------------------------------------------------

_CK_LO, _CK_HI = 100, 400


@query(
    "q_txlog_cluster",
    oracle=f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM orders
        WHERE o_custkey BETWEEN {_CK_LO} AND {_CK_HI}
          AND o_totalprice BETWEEN {_LO} AND {_HI}
        GROUP BY o_orderpriority
    """,
    operators=(156, 187),
    doc="Z-order re-clustering of a logged table (#187): OPTIMIZE as a "
    "commit. The table lands round-robin (stats useless), then one "
    "dataChange:false commit rewrites it range-partitioned + sorted on "
    "the Morton interleave of (o_custkey, o_totalprice-bucket) — so "
    "BOTH dimensions' per-file [min,max] stats tighten at once, and a "
    "2-D banded read prunes on the two manifest stats columns together "
    "before any scan. Graded: pruned + residual == the plain 2-D WHERE "
    "on the source rows. Change feeds and streaming consumers never "
    "see the rewrite (dataChange:false, pinned in tests). This is the "
    "maintenance loop of a 100 TB table: ingest fast and messy, "
    "cluster asynchronously, skip forever.",
)
def q_txlog_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from zmaxion_spark.queries.scale_q import zorder_value

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(
        tempfile.mkdtemp(prefix="zmx-txlog-cluster-") + "/t",
        stat_cols=("o_custkey", "o_totalprice"),
    )
    t.append(orders, n_files=8)  # round-robin: stats overlap everywhere
    z = zorder_value(
        (F.col("o_custkey") % 65536).cast("long"),
        ((F.col("o_totalprice") / 10.0).cast("long") % 65536),
    )
    t.cluster(spark, z, n_files=8)
    df = t.read(
        spark,
        prune=[("o_custkey", _CK_LO, _CK_HI), ("o_totalprice", _LO, _HI)],
    )
    return _priority_agg(
        df.filter(
            F.col("o_custkey").between(_CK_LO, _CK_HI)
            & F.col("o_totalprice").between(_LO, _HI)
        )
    )


# ---------------------------------------------------------------------------
# #188 per-file bloom index, #189 deletion vectors
# ---------------------------------------------------------------------------

_BLOOM_KEYS = [k * 37 for k in range(10)]  # exist at every SF (keys 0..332)


@query(
    "q_txlog_bloom_lookup",
    oracle=f"""
        SELECT COUNT(*) AS n,
               {sql_dsum("o_totalprice", "total_price")},
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM orders
        WHERE o_orderstatus = 'O'
          AND o_orderkey IN ({", ".join(map(str, _BLOOM_KEYS))})
    """,
    operators=(188,),
    doc="Per-file bloom index (#188): the table is range-laid-out on "
    "o_totalprice, so o_orderkey point lookups get NOTHING from "
    "min/max stats — the write path therefore records a 4096-bit "
    "md5-hashed bloom bitset per file per indexed column (computed "
    "DISTRIBUTED over the staged files; only set-bit positions reach "
    "the manifest). A 10-key point lookup prunes every file whose "
    "bitset proves absence, then applies the residual IN — superset "
    "guarantee, graded hash-exact. Files actually skipped is pinned "
    "in tests. This is the secondary-index story for a 100 TB table: "
    "needle queries on non-layout columns stop scanning the haystack.",
)
def q_txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(
        tempfile.mkdtemp(prefix="zmx-txlog-bloom-") + "/t",
        stat_cols=("o_totalprice",),
        bloom_cols=("o_orderkey",),
    )
    t.append(
        orders.filter(F.col("o_orderstatus") == "O"),
        n_files=8,
        range_col="o_totalprice",
    )
    df = t.read(spark, bloom_point=("o_orderkey", _BLOOM_KEYS))
    return df.filter(F.col("o_orderkey").isin(_BLOOM_KEYS)).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "q_txlog_delete_vectors",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus <> 'P'"),
    operators=(189,),
    doc="Deletion vectors (#189): DELETE WHERE status='P' rewrites "
    "NOTHING — the commit records each affected file's matched row "
    "indices (found via the _metadata.row_index pseudo-column, one "
    "distributed scan), and every subsequent read subtracts them with "
    "a broadcast anti-join on (file, row_index). Merge-on-read "
    "deletes: a 100 TB table erases rows in seconds and pays rewrite "
    "cost only when compaction chooses to materialize (tests pin that "
    "compacting clears the vectors without changing the answer). The "
    "graded read must equal the plain <> 'P' SQL.",
)
def q_txlog_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-dv-") + "/t")
    t.append(orders, n_files=4)
    t.delete_where(spark, F.col("o_orderstatus") == "P")
    return _priority_agg(t.read(spark))


# ---------------------------------------------------------------------------
# #190 log checkpoints (long-log planning), #191 optimistic concurrency
# ---------------------------------------------------------------------------


@query(
    "q_txlog_checkpointed_log",
    oracle=f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM orders
        WHERE o_orderkey % 20 < 12
        GROUP BY o_orderpriority
    """,
    operators=(190, 191),
    doc="Checkpointed log replay (#190): the table accumulates 12 "
    "append commits (orders sharded by o_orderkey%20), a checkpoint "
    "manifest snapshots the live set mid-history, and MORE commits "
    "follow — the head read must replay checkpoint + suffix and equal "
    "the plain SQL over all 12 shards. This is what keeps planning "
    "O(commits-since-checkpoint) instead of O(commits-ever) on a "
    "table with years of history. Every append routes through the "
    "optimistic-concurrency retry path (#191, appends commute; "
    "conflict semantics pinned in tests/test_txlog.py).",
    bench=False,  # 12 tiny commits exercise the log, not a scan path
)
def q_txlog_checkpointed_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-chk-") + "/t")
    for shard in range(12):
        t.append(orders.filter(F.col("o_orderkey") % 20 == shard), n_files=1)
        if shard == 7:
            t.write_checkpoint()
    return _priority_agg(t.read(spark))


# ---------------------------------------------------------------------------
# #192 medallion pipeline, #193 validated commits
# ---------------------------------------------------------------------------


def _silver_table(spark: SparkSession, sf_dir: str) -> TxTable:
    """bronze (events ingest table) consumed AS A STREAM, filtered and
    landed exactly-once into a silver table — both hops idempotent."""
    from zmaxion_spark.streaming.pipeline import run_foreach_batch
    from zmaxion_spark.streaming.txlog_source import stream_txlog

    bronze = events_ingest_table(spark, sf_dir)
    root = fixture_cache_dir(sf_dir, "events", "events_silver")
    silver = TxTable(root)
    if silver.applied_batches("silver") >= 0:
        return silver  # the availableNow drain is a single batch
    sdf = stream_txlog(spark, bronze.path).filter(F.col("value") > 100.0)
    run_foreach_batch(
        sdf, lambda df, bid: silver.append_batch(df, "silver", bid)
    )
    return silver


@query(
    "q_medallion_pipeline",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        WHERE value > 100.0
        GROUP BY event_type
    """,
    operators=(178, 184, 192),
    doc="Medallion pipeline (#192): the full bronze->silver hop — the "
    "chunked event topic lands exactly-once into the bronze table "
    "(#178), bronze is consumed AS A STREAM (versions-as-offsets, "
    "#184), a quality filter drops low-value events, and the result "
    "lands exactly-once into silver — every hop an atomic, "
    "(source,batchId)-idempotent commit, so replaying ANY stage "
    "(including this whole graded query) adds nothing twice. The "
    "oracle states the end-to-end contract in one SQL sentence over "
    "the original events. This is the canonical 100 TB ingestion "
    "architecture: tables as durable topics, commits as the only "
    "coordination.",
)
def q_medallion_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = _silver_table(spark, sf_dir)
    return (
        silver.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
    )


@query(
    "q_txlog_validated_commit",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus = 'O'"),
    operators=(186, 193),
    doc="Validated commit (#193): the constraint suite (#186) wired "
    "into the commit path — append(validate=Check(...)) evaluates the "
    "gate BEFORE staging and aborts on violations, so no published "
    "version can ever contain data that failed its contract (the "
    "failing path + table-unchanged invariant are pinned in "
    "tests/test_txlog.py). Graded: a gated append that passes its "
    "checks must land byte-identically to an ungated one.",
)
def q_txlog_validated_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from zmaxion_spark.functions.quality import Check

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-gate-") + "/t")
    gate = (
        Check("orders_gate")
        .not_null("o_orderkey")
        .in_range("o_totalprice", 0, 1_000_000)
        .is_unique("o_orderkey")
    )
    t.append(
        orders.filter(F.col("o_orderstatus") == "O"), n_files=4, validate=gate
    )
    return _priority_agg(t.read(spark))


# ---------------------------------------------------------------------------
# #196 shallow clone, #197 restore, #198 metadata-only aggregates
# ---------------------------------------------------------------------------


@query(
    "q_txlog_clone_divergence",
    oracle=f"""
        WITH src AS (
            SELECT o_orderpriority, o_totalprice FROM orders
            WHERE o_orderstatus IN ('O', 'F')
        ),
        cl AS (
            SELECT o_orderpriority, o_totalprice FROM orders
            WHERE o_orderstatus IN ('O', 'F')
            UNION ALL
            SELECT o_orderpriority, o_totalprice FROM orders
            WHERE o_orderstatus = 'P'
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_clone,
               {sql_dsum("o_totalprice", "total_clone")}
        FROM cl GROUP BY o_orderpriority
    """,
    operators=(196,),
    doc="Zero-copy shallow clone (#196): the clone's first commit "
    "REFERENCES the source's data files — no byte copied, so cloning "
    "a 100 TB table is one metadata write (the dev/staging-env "
    "pattern). The graded path then DIVERGES the clone (appends the "
    "'P' orders) and must equal source+divergence while the source "
    "stays untouched (pinned in tests). Clone-local writes land in "
    "the clone's own data dir; only the log knows the difference.",
)
def q_txlog_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    src = orders_tx(spark, sf_dir)
    dest = tempfile.mkdtemp(prefix="zmx-txlog-clone-") + "/t"
    clone = src.clone(dest)
    clone.append(orders.filter(F.col("o_orderstatus") == "P"), n_files=2)
    return clone.read(spark).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_clone"),
        dsum("o_totalprice", "total_clone"),
    )


@query(
    "q_txlog_restore",
    oracle=_ORACLE_AGG.format(where="WHERE o_orderstatus = 'O'"),
    operators=(197,),
    doc="RESTORE (#197): the operational undo button — after a bad "
    "overwrite (the 'F' orders clobber the table), one metadata "
    "commit rolls the HEAD back to version 0's file set; the graded "
    "read at the NEW head must equal the original 'O' snapshot. "
    "History stays intact: the bad version and the restore are both "
    "still in the log, so the revert is itself auditable and "
    "revertible. On a 100 TB table this is seconds, not a rewrite.",
)
def q_txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-restore-") + "/t")
    t.append(orders.filter(F.col("o_orderstatus") == "O"), n_files=4)
    t.overwrite(orders.filter(F.col("o_orderstatus") == "F"), n_files=4)
    t.restore(spark, version=0)
    return _priority_agg(t.read(spark))


@query(
    "q_txlog_metadata_agg",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
    """,
    operators=(198,),
    doc="Metadata-only aggregates (#198): COUNT(*) is the sum of "
    "per-file row counts (minus deletion vectors), MIN/MAX fold the "
    "manifest's per-file stats — ZERO data files opened, the "
    "aggregation-pushdown endgame (what Delta/Iceberg do for "
    "SELECT COUNT(*)). Guard rails are part of the operator: with "
    "deletion vectors present, min/max correctly REFUSES (a deleted "
    "row might have been the extremum) and falls back to a scan — "
    "pinned in tests. Graded against the real aggregate over the "
    "source rows.",
    bench=False,  # the whole point is that nothing executes on Spark
)
def q_txlog_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = orders_tx(spark, sf_dir)
    n = t.metadata_count()
    lo, hi = t.metadata_min_max("o_totalprice")
    return spark.createDataFrame(
        [(n, float(lo), float(hi))], "n bigint, min_price double, max_price double"
    )


# ---------------------------------------------------------------------------
# #199 partitioned commits + dynamic partition overwrite (replaceWhere)
# ---------------------------------------------------------------------------


@query(
    "q_txlog_replace_where",
    oracle=f"""
        WITH restated AS (
            SELECT o_orderpriority,
                   o_totalprice * 1.05 AS o_totalprice
            FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT o_orderpriority, o_totalprice
            FROM orders WHERE o_orderstatus IN ('F', 'P')
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice", "total_price")}
        FROM restated GROUP BY o_orderpriority
    """,
    operators=(94, 199),
    doc="Dynamic partition overwrite (#199, Delta replaceWhere): the "
    "table is hive-partitioned on o_orderstatus (each file carries its "
    "partition value as a manifest marker), and a restatement swaps "
    "ONLY the 'O' partition (prices bumped 5%) in one atomic commit — "
    "the 'F' and 'P' partitions' files are untouched bytes. This is "
    "the daily-backfill pattern: recompute one day, swap it in, "
    "nothing else moves. Rows outside the predicate are REFUSED "
    "(pinned in tests) — a silently-widening overwrite is how "
    "backfills eat tables. Partition pruning (metadata equality) is "
    "also pinned in tests.",
)
def q_txlog_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    t = TxTable(tempfile.mkdtemp(prefix="zmx-txlog-rw-") + "/t")
    t.append_partitioned(orders, "o_orderstatus", files_per_part=2)
    restated = (
        t.read(spark, partitions={"o_orderstatus": ["O"]})
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.05)
    )
    t.replace_where(restated, "o_orderstatus", ["O"], files_per_part=2)
    return _priority_agg(t.read(spark))


# ---------------------------------------------------------------------------
# #200 capstone: corpus -> quality gates -> dedup -> chunks -> shards
# ---------------------------------------------------------------------------

_CAP_CHUNK = 64  # tokens per training chunk
_N_SHARDS = 8


@query(
    "q_corpus_to_shards",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source, text,
                   STRING_SPLIT(text, ' ') AS w,
                   LEN(STRING_SPLIT(text, ' ')) AS n
            FROM documents
        ),
        gated AS (
            SELECT * FROM d
            WHERE n BETWEEN 10 AND 100000
              AND LEN(LIST_FILTER(w, t -> t IN ('the', 'a', 'of', 'to', 'and')))
                  * 100 >= n
        ),
        dedup AS (
            SELECT * FROM gated
            WHERE doc_id = (SELECT MIN(g2.doc_id) FROM gated g2
                            WHERE MD5(g2.text) = MD5(gated.text))
        ),
        chunks AS (
            SELECT doc_id % {_N_SHARDS} AS shard, source,
                   UNNEST(generate_series(0, CAST(n - 1 AS BIGINT), {_CAP_CHUNK}))
                       AS start,
                   n
            FROM dedup
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(LEAST(start + {_CAP_CHUNK}, n) - start) AS BIGINT)
                   AS n_tokens,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM chunks GROUP BY shard
    """,
    operators=(69, 125, 174, 193, 199, 200),
    doc="Capstone corpus pipeline (#200): documents flow through "
    "quality gates (word-count bounds + stopword floor, #174), exact "
    "content dedup (md5, lowest-doc-id-wins, #69), fixed-window "
    f"chunking ({_CAP_CHUNK} tokens, #125), and land as training "
    f"shards in a hive-partitioned tx-table ({_N_SHARDS} shards, "
    "#199) behind a validated commit (#193: chunk lengths in-range, "
    "shard not-null). The graded result reads BACK from the committed "
    "table — so the oracle's single SQL sentence checks the whole "
    "pipeline INCLUDING the storage round-trip. Every stage is "
    "JVM-side DataFrame algebra; the only shuffles are the dedup "
    "group-by and the final shard aggregation. This is the full "
    "100 TB training-data path: gate, dedup, chunk, shard, publish — "
    "with the publish atomic and quality-gated.",
    bench=True,
)
def q_corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql.window import Window

    from zmaxion_spark.functions.quality import Check

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("n"),
    )
    stop = F.size(
        F.filter("w", lambda t: t.isin("the", "a", "of", "to", "and"))
    )
    gated = d.filter(
        F.col("n").between(10, 100000) & (stop * 100 >= F.col("n"))
    )
    keep = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    dedup = (
        gated.withColumn("_keep", F.min("doc_id").over(keep))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
    )
    chunks = dedup.select(
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        "source",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CAP_CHUNK))
        ).alias("start"),
        "n",
    ).select(
        "shard",
        "source",
        "start",
        (F.least(F.col("start") + _CAP_CHUNK, F.col("n")) - F.col("start"))
        .alias("chunk_tokens"),
    )
    gate = (
        Check("shard_publish_gate")
        .not_null("shard")
        .in_range("chunk_tokens", 1, _CAP_CHUNK)
    )
    # The gate report and the partitioned publish both consume chunks;
    # materialize the gate→dedup→chunk chain once so neither pass
    # (nor the per-shard staging jobs) re-runs the window dedup.
    chunks = chunks.localCheckpoint(eager=True)
    t = TxTable(tempfile.mkdtemp(prefix="zmx-corpus-shards-") + "/t")
    # validated, hive-partitioned publish (gate BEFORE the commit)
    report = gate.run(chunks)
    failed = [
        r["constraint_name"] for r in report.filter(~F.col("passed")).collect()
    ]
    if failed:
        raise ValueError(f"shard publish gate failed: {failed}")
    t.append_partitioned(chunks, "shard", files_per_part=1)
    return (
        t.read(spark)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("n_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


# ---------------------------------------------------------------------------
# #311 bitemporal as-of (valid time × transaction time)
# ---------------------------------------------------------------------------

# Short network jitter for most events, plus a deterministic 5% cohort
# arriving a week late (the batch-backfill pattern that actually causes
# restatements; 600 s of jitter alone almost never straddles a
# mid-corpus cutoff with a different prior state).
_SQL_NET_DELAY = (
    "(CASE WHEN CAST(('0x' || SUBSTR(MD5('net:' ||"
    " CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0"
    " THEN 604800 ELSE CAST(('0x' || SUBSTR(MD5('net:' ||"
    " CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 600 END) * 1000000"
)


def _events_bt(spark: SparkSession, sf_dir: str) -> TxTable:
    """Two-commit bitemporal event log: commit 0 holds what had
    ARRIVED by the wall-clock cutoff H (event time + the #308 md5
    network delay), commit 1 appends the stragglers — so transaction
    version 0 is the state of knowledge at H and version 1 the
    corrected record."""
    root = fixture_cache_dir(
        sf_dir, "events", "events_bt", version=f"{_FMT}:bitemporal2"
    )
    t = TxTable(root)
    if t.versions() == [0, 1]:
        return t
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    t = TxTable(root)
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    word = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("net:"), F.col("event_id").cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    delay = (
        F.when(word % 20 == 0, F.lit(604_800)).otherwise(word % 600)
        * 1_000_000
    )
    e = e.withColumn("arrival_us", F.col("us") + delay)
    bounds = e.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).collect()[0]
    h = (bounds.mn + bounds.mx) // 2
    t.append(e.filter(F.col("arrival_us") <= h), n_files=4)
    t.append(e.filter(F.col("arrival_us") > h), n_files=4)
    return t


@query(
    "q_bitemporal_asof",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) + {_SQL_NET_DELAY}
                       AS arrival_us
            FROM events
        ),
        h AS (SELECT (MIN(us) + MAX(us)) // 2 AS h FROM e),
        vers AS (SELECT UNNEST([0, 1]) AS version),
        known AS (
            SELECT v.version, e.user_id, e.event_type, e.us, e.event_id
            FROM e CROSS JOIN h CROSS JOIN vers v
            WHERE e.us <= h.h
              AND (v.version = 1 OR e.arrival_us <= h.h)
        ),
        state AS (
            SELECT version, user_id, event_type FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY version, user_id
                              ORDER BY us DESC, event_id DESC) AS rn
                FROM known
            ) WHERE rn = 1
        )
        SELECT CAST(version AS BIGINT) AS version, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM state GROUP BY version, event_type
    """,
    operators=(99, 176, 311),
    doc="Bitemporal as-of (#311): user state at VALID time H as known "
    "at each TRANSACTION version — the two-axis time question (what "
    "did we believe at H, before the late data arrived?) that "
    "single-axis time travel (#176) and SCD2 validity (#99) each "
    "answer only half of. The log's commit 0 holds events that had "
    "ARRIVED by wall-clock H under the #308 md5 network delays; "
    "commit 1 appends the stragglers, so reading version 0 vs 1 at "
    "the SAME valid time exposes exactly the restatement late data "
    "causes — the regulatory/audit shape (as-reported vs as-restated) "
    "every finance warehouse carries. State per user is the latest "
    "event at-or-before H by (event time, id); the census is exact "
    "integers. Scale: per-version reads are manifest-pruned txlog "
    "scans; the state pass is one per-user rank window each.",
    bench=False,
)
def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _events_bt(spark, sf_dir)
    outs = []
    for v in (0, 1):
        df = t.read(spark, version=v)
        bounds = (
            load_table(spark, sf_dir, "events")
            .agg(
                F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mn"),
                F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx"),
            )
            .collect()[0]
        )
        h = (bounds.mn + bounds.mx) // 2
        w = Window.partitionBy("user_id").orderBy(
            F.desc("us"), F.desc("event_id")
        )
        st = (
            df.filter(F.col("us") <= h)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        outs.append(
            st.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_users")
            ).select(F.lit(v).cast("bigint").alias("version"), "event_type", "n_users")
        )
    return outs[0].unionAll(outs[1])
