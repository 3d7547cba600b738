"""ECS-layer graded query — the reference's Entity–Component–System
model (/root/reference/README.md:2) exercised end-to-end through
zmaxion_spark.ecs.World and verified against a plain-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.ecs import World
from zmaxion_spark.queries.helpers import dsum, sql_dsum
from zmaxion_spark.queries.registry import query


@query(
    "q_ecs_world",
    oracle=f"""
        WITH b AS (SELECT c_custkey AS entity_id,
                          CASE WHEN c_acctbal > 0 THEN c_acctbal * 1.05
                               ELSE c_acctbal END AS balance
                   FROM customer),
             s AS (SELECT c_custkey AS entity_id, c_mktsegment AS segment
                   FROM customer)
        SELECT s.segment,
               COUNT(*) AS n_entities,
               {sql_dsum('b.balance', 'total_balance')}
        FROM b JOIN s ON b.entity_id = s.entity_id
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = b.entity_id
                            AND o.o_totalprice > 300000)
        GROUP BY s.segment
    """,
    operators=(10, 13, 23, 83),
    doc="ECS world tick: customers are entities; `balance` and `segment` "
    "are components; `big_spender` is a marker component (an order "
    "above 300k). "
    "A system credits 5% interest to positive balances, then the "
    "archetype query With(balance, segment) Without(big_spender) "
    "aggregates per segment. Compiles to an inner-join + anti-join "
    "chain that Catalyst fuses — the ECS scheduler is the DAG "
    "scheduler (SURVEY §1.1).",
)
def q_ecs_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = (
        World()
        .register("balance", cust, key="c_custkey", cols={"c_acctbal": "balance"})
        .register("segment", cust, key="c_custkey", cols={"c_mktsegment": "segment"})
        .register(
            "big_spender",
            orders.filter(F.col("o_totalprice") > 300000)
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
    )
    w.run_system(
        "balance",
        lambda df: df.withColumn(
            "balance",
            F.when(F.col("balance") > 0, F.col("balance") * 1.05).otherwise(
                F.col("balance")
            ),
        ),
    )
    return (
        w.query("balance", "segment", without=("big_spender",))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_entities"), dsum("balance", "total_balance"))
    )


@query(
    "q_ecs_selective_tick",
    oracle=f"""
        WITH active AS (SELECT DISTINCT o_custkey AS entity_id FROM orders
                        WHERE o_orderpriority = '1-URGENT'),
             big AS (SELECT DISTINCT o_custkey AS entity_id FROM orders
                     WHERE o_totalprice > 300000),
             t1 AS (SELECT c_custkey AS entity_id, c_mktsegment AS segment,
                           CASE WHEN c_acctbal > 0 THEN c_acctbal * 1.05
                                ELSE c_acctbal END AS balance
                    FROM customer),
             t2 AS (SELECT t1.entity_id, t1.segment,
                           CASE WHEN t1.entity_id IN (SELECT entity_id FROM active)
                                 AND t1.entity_id NOT IN (SELECT entity_id FROM big)
                                THEN t1.balance * 0.9 ELSE t1.balance END AS balance
                    FROM t1)
        SELECT segment,
               COUNT(*) AS n_entities,
               {sql_dsum('balance', 'total_balance')}
        FROM t2 GROUP BY segment
    """,
    operators=(10, 13, 23, 83),
    doc="ECS SELECTIVE tick: two systems run in sequence over the same "
    "component — interest (+5%) for every positive balance, then a "
    "-10% decay only for entities With(urgent_buyer) Without("
    "big_spender). Unlike q_ecs_world (whose system touches every "
    "entity), this grades run_system's untouched ∪ updated union "
    "semantics byte-for-byte: entities outside the archetype must pass "
    "through the tick with their previous component values intact, "
    "and the two ticks must compose in order.",
)
def q_ecs_selective_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = (
        World()
        .register("balance", cust, key="c_custkey", cols={"c_acctbal": "balance"})
        .register("segment", cust, key="c_custkey", cols={"c_mktsegment": "segment"})
        .register(
            "urgent_buyer",
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
        .register(
            "big_spender",
            orders.filter(F.col("o_totalprice") > 300000)
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
    )
    w.run_system(
        "balance",
        lambda df: df.withColumn(
            "balance",
            F.when(F.col("balance") > 0, F.col("balance") * 1.05).otherwise(
                F.col("balance")
            ),
        ),
    )
    w.run_system(
        "balance",
        lambda df: df.withColumn("balance", F.col("balance") * 0.9),
        with_=("urgent_buyer",),
        without=("big_spender",),
    )
    return (
        w.query("balance", "segment")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_entities"), dsum("balance", "total_balance"))
    )


@query(
    "q_ecs_schedule",
    oracle=f"""
        WITH spend AS (
            SELECT o_custkey AS entity_id,
                   {sql_dsum('o_totalprice', 'spend')}
            FROM orders GROUP BY o_custkey
        ),
        urgent AS (SELECT DISTINCT o_custkey AS entity_id FROM orders
                   WHERE o_orderpriority = '1-URGENT'),
        -- stage 0 (parallel): debit runs on balance, score runs on credit
        s0_balance AS (
            SELECT c.c_custkey AS entity_id, c.c_mktsegment AS segment,
                   CASE WHEN sp.entity_id IS NOT NULL
                        THEN c.c_acctbal - 0.5 * sp.spend
                        ELSE c.c_acctbal END AS balance
            FROM customer c LEFT JOIN spend sp ON sp.entity_id = c.c_custkey
        ),
        s0_credit AS (
            SELECT c.c_custkey AS entity_id,
                   CASE WHEN u.entity_id IS NOT NULL THEN 100.0
                        ELSE 0.0 END AS credit
            FROM customer c LEFT JOIN urgent u ON u.entity_id = c.c_custkey
        ),
        -- stage 1: settle reads credit and writes balance (conflicts
        -- with BOTH stage-0 systems, so it must see their output)
        s1_balance AS (
            SELECT b.entity_id, b.segment,
                   CASE WHEN cr.credit > 0.0 THEN b.balance + cr.credit
                        ELSE b.balance END AS balance
            FROM s0_balance b JOIN s0_credit cr ON cr.entity_id = b.entity_id
        )
        SELECT segment,
               COUNT(*) AS n_entities,
               {sql_dsum('balance', 'total_balance')}
        FROM s1_balance GROUP BY segment
    """,
    operators=(13, 23, 83, 111),
    doc="ECS conflict-staged scheduler tick: three systems — debit "
    "(writes balance, reads spend), score (writes credit, reads "
    "urgent_buyer), settle (writes balance, reads credit). The "
    "Schedule proves debit and score touch disjoint components and "
    "stages them TOGETHER (double-buffered snapshot reads), while "
    "settle conflicts with both and lands in stage 1 — the staging "
    "[[debit, score], [settle]] is asserted in tests/test_ecs.py. "
    "The oracle replays the same two-stage dataflow in SQL, so the "
    "grade pins both the scheduler's ordering semantics AND the "
    "untouched-pass-through union. Floats: 0.5*spend and +100.0 are "
    "exact IEEE ops on decimal-exact operands. Scale: every join is "
    "on the entity key — bucket component tables by it and no stage "
    "shuffles.",
)
def q_ecs_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.ecs import Schedule, System

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = (
        World()
        .register("balance", cust, key="c_custkey", cols={"c_acctbal": "balance"})
        .register("segment", cust, key="c_custkey", cols={"c_mktsegment": "segment"})
        .register(
            "spend",
            orders.groupBy(F.col("o_custkey").alias("entity_id")).agg(
                dsum("o_totalprice", "spend")
            ),
        )
        .register(
            "urgent_buyer",
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
        .register("credit", cust.select(F.col("c_custkey").alias("entity_id"),
                                        F.lit(0.0).alias("credit")))
    )
    debit = System(
        "debit",
        writes="balance",
        with_=("spend",),
        fn=lambda df: df.withColumn(
            "balance", F.col("balance") - 0.5 * F.col("spend")
        ),
    )
    score = System(
        "score",
        writes="credit",
        with_=("urgent_buyer",),
        fn=lambda df: df.withColumn("credit", F.lit(100.0)),
    )
    settle = System(
        "settle",
        writes="balance",
        with_=("credit",),
        fn=lambda df: df.withColumn(
            "balance",
            F.when(
                F.col("credit") > 0.0, F.col("balance") + F.col("credit")
            ).otherwise(F.col("balance")),
        ),
    )
    # checkpoint=True materializes each stage boundary: without it the
    # final plan re-derives every component from the base scans once
    # per consumer (36 scans in the r03 plan audit); with it a tick
    # reads each input once and later stages read ExistingRDD.
    Schedule(debit, score, settle).run(w, checkpoint=True)
    return (
        w.query("balance", "segment")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_entities"), dsum("balance", "total_balance"))
    )


# ---------------------------------------------------------------------------
# #143 ecs_stream_tick — the full zmaxion loop: topic → system → world state
# ---------------------------------------------------------------------------


@query(
    "q_ecs_stream_tick",
    oracle="""
        WITH e AS (SELECT UNNEST(generate_series(0, 99)) AS entity),
        last AS (SELECT entity, 1900 + entity AS off FROM e),
        comp AS (SELECT entity,
                        ['click','view','purchase','signup','refund']
                            [((off * 7) % 5) + 1] AS etype,
                        CAST((off * 31) % 1000 AS BIGINT) AS amount
                 FROM last)
        SELECT etype,
               COUNT(*) AS n_entities,
               CAST(SUM(amount) AS BIGINT) AS total_amount
        FROM comp GROUP BY etype
    """,
    operators=(53, 83, 137, 143),
    doc="The full zmaxion loop (#143): topic → system → world state, "
    "ticked per micro-batch. The custom Python streaming source "
    "(#137) delivers 2000 messages in four 500-message batches; each "
    "batch is a WORLD TICK — a foreachBatch system folds the batch "
    "into the entity component store (entity = offset % 100, "
    "latest-offset-wins) with an atomic read-merge-swap, exactly the "
    "SCD1 upsert a component table needs. After four ticks the store "
    "holds each entity's final component (provably the max-offset "
    "message: offsets 1900..1999), and its aggregate must hash-match "
    "the oracle's closed-form arithmetic. Scale: the component store "
    "is entity-keyed parquet; each tick shuffles only the batch's "
    "per-entity maxima (500 rows -> 100 entities here), and the merge "
    "is a broadcast-size union at any realistic entity cardinality — "
    "at 10^9 entities you'd partition the store by entity bucket and "
    "merge only touched buckets.",
    bench=False,  # multi-tick streaming + file writes; correctness demo
)
def q_ecs_stream_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from zmaxion_spark.streaming.pipeline import run_foreach_batch
    from zmaxion_spark.streaming.pytopic import stream_topic

    base = tempfile.mkdtemp(prefix="zmx-ecs-tick-")
    store = base + "/components"

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        """One world tick: fold the batch into the component store."""
        batch = batch_df.withColumn("entity", F.col("offset") % 100)
        # per-entity latest within the batch (max offset wins)
        w_latest = batch.groupBy("entity").agg(
            F.max(F.struct("offset", "etype", "amount")).alias("s")
        ).select("entity", "s.offset", "s.etype", "s.amount")
        if os.path.exists(store):
            prev = batch_df.sparkSession.read.parquet(store)
            merged = (
                prev.unionByName(w_latest)
                .groupBy("entity")
                .agg(F.max(F.struct("offset", "etype", "amount")).alias("s"))
                .select("entity", "s.offset", "s.etype", "s.amount")
            )
        else:
            merged = w_latest
        tmp = store + ".tick-tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = store + ".tick-old"
        if os.path.exists(store):
            os.rename(store, old)
        os.rename(tmp, store)
        shutil.rmtree(old, ignore_errors=True)

    # The simple stream reader serves one prefetched step per
    # availableNow run; five checkpoint-shared runs drain all four
    # ticks (the scheduled batch-over-stream pattern, as in #137).
    for _ in range(5):
        run_foreach_batch(
            stream_topic(spark, rows=2000, step=500), tick, checkpoint=base + "/ckpt"
        )
    comp = spark.read.parquet(store)
    return comp.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum("amount").cast("bigint").alias("total_amount"),
    )


@query(
    "q_ecs_snapshot_restore",
    oracle=f"""
        WITH t1 AS (SELECT c_custkey AS entity_id, c_mktsegment AS segment,
                           CASE WHEN c_acctbal > 0 THEN c_acctbal * 1.05
                                ELSE c_acctbal END AS balance
                    FROM customer),
             urg AS (SELECT DISTINCT o_custkey AS entity_id FROM orders
                     WHERE o_orderpriority = '1-URGENT'),
             t2 AS (SELECT entity_id, segment,
                           CASE WHEN entity_id IN (SELECT entity_id FROM urg)
                                THEN balance * 0.9 ELSE balance END AS balance
                    FROM t1)
        SELECT segment,
               COUNT(*) AS n_entities,
               {sql_dsum('balance', 'total_balance')}
        FROM t2 GROUP BY segment
    """,
    operators=(83, 175, 176, 180),
    doc="ECS world persistence (#180): tick 1 (+5% interest) runs, the "
    "whole world saves as one transaction-logged table per component "
    "(#175 — an atomic, versioned, durable tick boundary), a FRESH "
    "world restores from disk, and tick 2 (-10% decay for "
    "With(urgent_buyer)) continues from the restored state. Graded "
    "against the straight two-tick SQL: the save/restore boundary must "
    "be invisible — doubles round-trip parquet exactly. Repeated saves "
    "stack versions, so any historical tick time-travels back (#176): "
    "the streaming world's checkpoint/restore story (SURVEY §3.2 "
    "boundary #4) re-expressed for the batch world.",
)
def q_ecs_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = (
        World()
        .register("balance", cust, key="c_custkey", cols={"c_acctbal": "balance"})
        .register("segment", cust, key="c_custkey", cols={"c_mktsegment": "segment"})
        .register(
            "urgent_buyer",
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
    )
    w.run_system(
        "balance",
        lambda df: df.withColumn(
            "balance",
            F.when(F.col("balance") > 0, F.col("balance") * 1.05).otherwise(
                F.col("balance")
            ),
        ),
    )
    root = tempfile.mkdtemp(prefix="zmx-ecs-world-") + "/world"
    w.save(root)
    restored = World.load(spark, root)
    restored.run_system(
        "balance",
        lambda df: df.withColumn("balance", F.col("balance") * 0.9),
        with_=("urgent_buyer",),
    )
    return (
        restored.query("balance", "segment")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_entities"), dsum("balance", "total_balance"))
    )


@query(
    "q_ecs_despawn",
    oracle=f"""
        SELECT c_mktsegment AS segment,
               COUNT(*) AS n_entities,
               {sql_dsum('c_acctbal', 'total_balance')}
        FROM customer
        WHERE c_custkey % 10 <> 3
        GROUP BY c_mktsegment
    """,
    operators=(83, 189, 194),
    doc="ECS despawn (#194): entities c_custkey%10==3 are removed from "
    "EVERY component table of a persisted world via one deletion-"
    "vector commit per component (#189) — no file rewritten, the "
    "GDPR-erasure shape applied world-wide. The doomed set is a "
    "Column PREDICATE pushed straight into the DV delete (no driver-"
    "side id list — despawn-by-predicate stays distributed at any "
    "scale; World.despawn also accepts a DataFrame for semi-join "
    "deletes). The restored world's archetype query must equal the "
    "plain NOT-predicate SQL; the pre-despawn world version still "
    "time-travels back intact (versioned erasure: auditable until "
    "vacuum).",
)
def q_ecs_despawn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    cust = load_table(spark, sf_dir, "customer")
    w = (
        World()
        .register("balance", cust, key="c_custkey", cols={"c_acctbal": "balance"})
        .register("segment", cust, key="c_custkey", cols={"c_mktsegment": "segment"})
    )
    root = tempfile.mkdtemp(prefix="zmx-ecs-despawn-") + "/world"
    w.save(root)
    World.despawn(spark, root, F.col("entity_id") % 10 == 3)
    restored = World.load(spark, root)
    return (
        restored.query("balance", "segment")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_entities"), dsum("balance", "total_balance"))
    )


@query(
    "q_ecs_tick_history",
    oracle=f"""
        WITH t1 AS (
            SELECT user_id, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
            FROM events WHERE event_id % 2 = 0 GROUP BY user_id
        ),
        t2 AS (
            SELECT user_id, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
            FROM events GROUP BY user_id
        )
        SELECT 0 AS tick, user_id % 8 AS bucket,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(CAST(total AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM t1 GROUP BY 2
        UNION ALL
        SELECT 1 AS tick, user_id % 8 AS bucket,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(CAST(total AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM t2 GROUP BY 2
    """,
    operators=(83, 180, 201),
    doc="Versioned world-tick history (#201): the ECS/streaming/"
    "lakehouse triangle closed. Tick 1 folds half the event stream "
    "(event_id%2=0) into a per-user counters component and SAVES the "
    "world (version 0); tick 2 folds the rest and saves again "
    "(version 1). The graded result reads BOTH historical worlds back "
    "from the log and reports per-bucket totals tagged by tick — so "
    "the oracle checks that every world version is a faithful, "
    "durable, time-travelable snapshot of cumulative state. This is "
    "the reference's 'world tick' made auditable: any past tick of a "
    "100 TB world is one metadata replay away.",
)
def q_ecs_tick_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def fold(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total"),
        )

    root = tempfile.mkdtemp(prefix="zmx-ecs-history-") + "/world"
    w = World().register(
        "counters", fold(events.filter(F.col("event_id") % 2 == 0)),
        key="user_id",
    )
    w.save(root)  # version 0: the tick-1 world
    w2 = World().register("counters", fold(events), key="user_id")
    w2.save(root)  # version 1: cumulative world after tick 2

    out = []
    for tick in (0, 1):
        state = World.load(spark, root, version=tick).component("counters")
        out.append(
            state.groupBy((F.col("entity_id") % 8).alias("bucket")).agg(
                F.sum("n").alias("n_events"),
                F.sum(F.col("total").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_value"),
            ).select(F.lit(tick).alias("tick"), "bucket", "n_events", "total_value")
        )
    return out[0].unionByName(out[1])


# ---------------------------------------------------------------------------
# #326 archetype migration census (the ECS storage concept, graded)
# ---------------------------------------------------------------------------


@query(
    "q_ecs_archetype_census",
    oracle="""
        WITH spender AS (SELECT DISTINCT o_custkey AS e FROM orders
                         WHERE o_totalprice > 300000),
        active AS (SELECT DISTINCT o_custkey AS e FROM orders
                   WHERE o_orderpriority = '1-URGENT'),
        t0 AS (
            SELECT c_custkey AS e,
                   'balance'
                   || CASE WHEN a.e IS NOT NULL THEN '+active' ELSE '' END
                   || CASE WHEN s.e IS NOT NULL THEN '+spender' ELSE '' END
                       AS arch
            FROM customer c
            LEFT JOIN active a ON a.e = c.c_custkey
            LEFT JOIN spender s ON s.e = c.c_custkey
        ),
        t1 AS (
            SELECT c_custkey AS e,
                   'balance'
                   || CASE WHEN a.e IS NOT NULL THEN '+active' ELSE '' END
                   || CASE WHEN c.c_acctbal < 0 THEN '+flagged' ELSE '' END
                   || CASE WHEN s.e IS NOT NULL AND a.e IS NOT NULL
                           THEN '+spender' ELSE '' END AS arch
            FROM customer c
            LEFT JOIN active a ON a.e = c.c_custkey
            LEFT JOIN spender s ON s.e = c.c_custkey
        ),
        census AS (
            SELECT 0 AS tick, arch, COUNT(*) AS n FROM t0 GROUP BY arch
            UNION ALL
            SELECT 1, arch, COUNT(*) FROM t1 GROUP BY arch
        ),
        moved AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_migrated
            FROM t0 JOIN t1 ON t1.e = t0.e AND t1.arch <> t0.arch
        )
        SELECT CAST(tick AS BIGINT) AS tick, arch,
               CAST(n AS BIGINT) AS n_entities, moved.n_migrated
        FROM census CROSS JOIN moved
    """,
    operators=(14, 83, 326),
    doc="Archetype migration census (#326): an entity's ARCHETYPE is "
    "the set of components it carries — THE storage concept of "
    "archetype-ECS engines (zmaxion's 'stream processing framework "
    "with ECS'), where adding/removing a component moves the entity "
    "between tables. Tick 1 runs two structural systems — FLAG "
    "negative balances (component add) and revoke spender status "
    "from inactive entities (conditional component remove) — and the "
    "census counts entities per (tick, archetype) plus how many "
    "entities MIGRATED, the number that sizes an archetype engine's "
    "move traffic (and, here, how many rows change partitions). "
    "Archetype strings concatenate fixed-order membership flags; "
    "everything else is integer counts. Scale: memberships are "
    "semi-join flags on the entity key; the census is one groupBy "
    "per tick; the migration join is entity-co-located.",
)
def q_ecs_archetype_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = (
        World()
        .register(
            "balance", cust, key="c_custkey", cols={"c_acctbal": "balance"}
        )
        .register(
            "spender",
            orders.filter(F.col("o_totalprice") > 300000)
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
        .register(
            "active",
            orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey")
            .distinct(),
            key="o_custkey",
        )
    )
    ent = w.component("balance").withColumnRenamed("entity_id", "e")
    has_a = w.component("active").withColumnRenamed("entity_id", "e").withColumn(
        "in_a", F.lit(1)
    )
    has_s = w.component("spender").withColumnRenamed(
        "entity_id", "e"
    ).withColumn("in_s", F.lit(1))
    base = (
        ent.join(has_a, "e", "left")
        .join(has_s, "e", "left")
        .select(
            "e",
            "balance",
            F.coalesce(F.col("in_a"), F.lit(0)).alias("a"),
            F.coalesce(F.col("in_s"), F.lit(0)).alias("s"),
        )
        .localCheckpoint(eager=True)  # both ticks + migration reuse it
    )
    arch0 = F.concat(
        F.lit("balance"),
        F.when(F.col("a") == 1, "+active").otherwise(""),
        F.when(F.col("s") == 1, "+spender").otherwise(""),
    )
    arch1 = F.concat(
        F.lit("balance"),
        F.when(F.col("a") == 1, "+active").otherwise(""),
        F.when(F.col("balance") < 0, "+flagged").otherwise(""),
        F.when((F.col("s") == 1) & (F.col("a") == 1), "+spender").otherwise(""),
    )
    both = base.select("e", arch0.alias("a0"), arch1.alias("a1"))
    census = (
        both.groupBy(F.col("a0").alias("arch"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
        .select(F.lit(0).cast("bigint").alias("tick"), "arch", "n_entities")
        .unionAll(
            both.groupBy(F.col("a1").alias("arch"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
            .select(
                F.lit(1).cast("bigint").alias("tick"), "arch", "n_entities"
            )
        )
    )
    moved = both.filter(F.col("a0") != F.col("a1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_migrated")
    )
    return census.crossJoin(F.broadcast(moved))
