"""Subquery / CDC-history query patterns — SURVEY §2.13 operators.

The decision-support patterns the relational core (§2.1–§2.7) does not
yet exercise: correlated scalar subqueries (decorrelated into
agg-joins the way Catalyst itself rewrites them), HAVING with a join
back to the fact table, a global scalar subquery feeding an anti-join
gate, period-over-period lag analytics, and SCD2 validity-interval
construction (the history-keeping complement of q_merge_upsert's
latest-wins CDC merge).

Scale posture, common to all five: every subquery is expressed as a
first-class DataFrame so Catalyst sees one plan — per-key aggregates
shuffle on the key they join back on (one exchange, reused by AQE),
single-row global aggregates are broadcast (never collected to the
driver), and window passes share one sort per partition key. Float
discipline follows helpers.py: decimal(38,6) sums, single IEEE
divisions — every emitted double is bit-exact vs the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import DEC, davg, dsum, sql_davg, sql_dsum
from zmaxion_spark.queries.registry import query
from zmaxion_spark.session import scoped_conf


# ---------------------------------------------------------------------------
# #95 correlated scalar subquery (TPC-H Q17 shape)
# ---------------------------------------------------------------------------


@query(
    "q17_small_qty_revenue",
    oracle=f"""
        WITH pa AS (
            SELECT l_partkey AS pa_partkey,
                   {sql_davg('l_quantity', 'avg_qty')}
            FROM lineitem GROUP BY l_partkey
        )
        SELECT {sql_dsum('l_extendedprice', 'total_small_qty_price')},
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
                    AS DOUBLE) AS avg_yearly,
               COUNT(*) AS n_small
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN pa   ON pa_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < 0.2 * avg_qty
    """,
    operators=(16, 23, 95),
    doc="TPC-H Q17 shape: revenue from below-average-quantity orders of "
    "one brand's parts — a correlated scalar subquery (per-part AVG) "
    "written as the agg-join Catalyst decorrelates to. Scale: the "
    "per-part average shuffles lineitem once on l_partkey and joins "
    "back on the same key (AQE reuses the exchange); the brand dim "
    "filter is a broadcast. 0.2*avg and /7.0 are single IEEE ops on "
    "bit-identical operands, so the result hashes exactly.",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == per_part.pa_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice", "total_small_qty_price"),
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0)
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# ---------------------------------------------------------------------------
# #96 HAVING subquery + join back (TPC-H Q18 shape)
# ---------------------------------------------------------------------------


@query(
    "q18_large_volume_orders",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey AS b_orderkey,
                   {sql_dsum('l_quantity', 'sum_qty')}
            FROM lineitem
            GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM big
        JOIN orders   ON o_orderkey = b_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    operators=(16, 23, 36, 96),
    doc="TPC-H Q18 shape: customers behind the largest-volume orders — "
    "a HAVING aggregate subquery joined back to orders and customer. "
    "Scale: lineitem aggregates to |orders| rows BEFORE any join "
    "(map-side partial agg), the surviving big-order key set is tiny "
    "so both joins broadcast under AQE; top-k plans as "
    "TakeOrderedAndProject, never a global sort.",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.b_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# #97 global scalar subquery + anti-join gate (TPC-H Q22 shape)
# ---------------------------------------------------------------------------


@query(
    "q22_wealthy_inactive",
    oracle=f"""
        WITH avg_bal AS (
            SELECT {sql_davg('c_acctbal', 'global_avg')}
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_custs,
               {sql_dsum('c_acctbal', 'total_bal')}
        FROM customer, avg_bal
        WHERE c_acctbal > global_avg
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    operators=(15, 24, 97),
    doc="TPC-H Q22 shape: above-average-balance customers with no "
    "large order — a global scalar subquery (broadcast single-row "
    "aggregate, never a driver collect) gating an anti-join. Scale: "
    "the scalar AVG reduces map-side to one row per partition; the "
    "anti-join probe side is pre-filtered to large orders only, so "
    "its build set broadcasts.",
)
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal", "global_avg"))
    big_orders = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("global_avg"))
        .join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_custs"), dsum("c_acctbal", "total_bal"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# #98 period-over-period lag analytics
# ---------------------------------------------------------------------------


@query(
    "q_period_over_period",
    oracle="""
        WITH m AS (
            SELECT o_orderstatus,
                   DATE_TRUNC('month', o_orderdate) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM orders
            GROUP BY o_orderstatus, DATE_TRUNC('month', o_orderdate)
        )
        SELECT o_orderstatus, month, revenue,
               LAG(revenue) OVER w AS prev_revenue,
               revenue - LAG(revenue) OVER w AS mom_delta,
               (revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w AS mom_pct
        FROM m
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY month)
    """,
    operators=(23, 31, 98),
    doc="Month-over-month revenue delta and pct-change per order "
    "status: agg to month grain, then lag analytics over the tiny "
    "aggregate. Scale: the window runs over |status × months| rows "
    "(thousands at 100 TB), not the fact table — the shuffle-heavy "
    "work is the two-phase hash agg. Each monthly revenue is a "
    "decimal-exact double, so delta (one subtract) and pct (one "
    "divide) are bit-exact.",
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        "o_orderstatus", F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice", "revenue"))
    w = Window.partitionBy("o_orderstatus").orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "o_orderstatus",
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        (F.col("revenue") - prev).alias("mom_delta"),
        ((F.col("revenue") - prev) / prev).alias("mom_pct"),
    )


# ---------------------------------------------------------------------------
# #99 SCD2 validity intervals (history-keeping CDC)
# ---------------------------------------------------------------------------


@query(
    "q_scd2_intervals",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN event_type IS DISTINCT FROM
                             LAG(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                        THEN 1 ELSE 0 END AS is_change
            FROM events
        ),
        changes AS (SELECT * FROM marked WHERE is_change = 1)
        SELECT user_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER w AS valid_to,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               (LEAD(ts) OVER w IS NULL) AS is_current
        FROM changes
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    operators=(31, 99),
    doc="SCD2 dimension build from a change stream: collapse "
    "consecutive same-value runs per user, then assign "
    "[valid_from, valid_to) validity intervals and version numbers — "
    "the history-keeping complement of q_merge_upsert's latest-wins "
    "merge. Scale: both window passes share ONE shuffle+sort on "
    "(user_id; ts, event_id) — the second window runs on the "
    "change-rows subset, already partitioned correctly.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w_all))
    changes = ev.select(
        "user_id", "event_type", "ts", "event_id", changed.alias("is_change")
    ).filter("is_change")
    valid_to = F.lead("ts").over(w_all)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w_all).cast("bigint").alias("version"),
        valid_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# #104 recursive CTE — iterative graph traversal inside the engine
# ---------------------------------------------------------------------------


def _recursion_confs(n_nodes: int) -> dict[str, str]:
    """The confs both Spark-side ``WITH RECURSIVE`` walks here (#104,
    #309) run under, set through ``session.scoped_conf`` around their
    own materialization so they never leak into other recursive CTEs on
    a shared session.

    - ``cteRecursionRowLimit``: a walk visits each of ``n_nodes`` parts
      once, but Spark's runaway valve defaults to 1M rows and killed the
      (correct, terminating) walk past ~1M parts at the sf10 smoke. It
      is sized from the domain rather than disabled, so termination
      keeps a real bound.
    - ``cteRecursionAnchorRowsLimitToConvertToLocalRelation``: Spark
      4.1's ``UnionLoopExec`` collects every level of at most 100 rows
      to the driver and plans the next level over that
      ``LocalRelation``: one more job per level on top of the level's
      own count job. At 0 a level stays the materialized DataFrame it
      already is (54 -> 42 jobs for #104, 89 -> 65 for #309 at
      sf0.01)."""
    return {
        "spark.sql.cteRecursionRowLimit": str(max(1_000_000, 2 * n_nodes)),
        "spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation": "0",
    }


@query(
    "q_recursive_bom",
    oracle="""
        WITH RECURSIVE maxk AS (SELECT MAX(p_partkey) AS mk FROM part),
        walk(p_partkey, depth) AS (
            SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT c.child, w.depth + 1
            FROM walk w
            JOIN (
                SELECT p_partkey AS parent, p_partkey * 2 AS child FROM part
                UNION ALL
                SELECT p_partkey, p_partkey * 2 + 1 FROM part
            ) c ON c.parent = w.p_partkey
            JOIN maxk ON c.child <= maxk.mk
        )
        SELECT depth, COUNT(*) AS n_nodes,
               MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
        FROM walk GROUP BY depth
    """,
    operators=(104,),
    doc="Recursive CTE (WITH RECURSIVE, new in Spark 4.x): bill-of-"
    "materials-style descent over a derived edge set (part k -> parts "
    "2k, 2k+1 — a deterministic binary assembly tree), rolled up to "
    "nodes-per-depth. Exercises the engine's iterative fixpoint "
    "execution: each step is one equi-join of the frontier against "
    "the edge table, O(log n) rounds. The edge list is derived once "
    "and materialized outside the recursion; every level is one Spark "
    "job (its row count), with no driver collect between levels "
    "(the small-level LocalRelation conversion is turned off while "
    "the walk runs, and the row valve is sized from |part|; both "
    "confs are restored after). Scale: the frontier, not the corpus, "
    "is the iterated state, so the job count grows with the depth, "
    "log2|part|, not with the data.",
)
def q_recursive_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    # One cheap dimension pass sizes the recursion row valve and
    # fetches MAX(p_partkey) for the edge bound.
    n, mk = part.agg(
        F.count(F.lit(1)), F.max("p_partkey")
    ).first()
    # Hoist the edge derivation OUT of the recursion: the fixpoint
    # engine re-evaluates the recursive term's plan every round, so the
    # inline `part UNION ALL part` + scalar-subquery bound cost two
    # parquet scans + one subquery per depth level (~109 stages
    # measured for ~14 levels, all scheduling overhead). The child
    # bound `child <= MAX(p_partkey)` depends only on the edge row, so
    # pre-filtering the materialized edge list is equivalent; each
    # round now joins the frontier against an in-memory id-pair RDD
    # (guide §2.4 / §3.3: materialize the loop invariant).
    pk = part.select(F.col("p_partkey").alias("parent"))
    edges = (
        pk.select("parent", (F.col("parent") * 2).alias("child"))
        .unionAll(pk.select("parent", (F.col("parent") * 2 + 1).alias("child")))
        .filter(F.col("child") <= F.lit(mk))
        .localCheckpoint(eager=True)
    )
    # Per-invocation view name (ADVICE r11): a session-global
    # "bom_edges" could be swapped mid-recursion by a concurrent build
    # on the shared session; unique name + drop in finally.
    import uuid

    view = f"bom_edges_{uuid.uuid4().hex[:12]}"
    edges.createOrReplaceTempView(view)
    # The recursion confs are read at execution time, so the (tiny,
    # depth-rows) result is materialized inside their scope.
    try:
        with scoped_conf(spark, _recursion_confs(n)):
            return spark.sql(
                f"""
            WITH RECURSIVE walk(p_partkey, depth) AS (
                SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT c.child, w.depth + 1
                FROM walk w
                JOIN {view} c ON c.parent = w.p_partkey
            )
            SELECT depth, COUNT(*) AS n_nodes,
                   MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
            FROM walk GROUP BY depth
            """
            ).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(view)


# ---------------------------------------------------------------------------
# #105 distribution ranks: ntile / percent_rank / cume_dist
# ---------------------------------------------------------------------------


@query(
    "q_curriculum_ntile",
    oracle="""
        SELECT doc_id,
               CAST(NTILE(10) OVER w AS BIGINT) AS decile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               CASE WHEN NTILE(10) OVER w <= 3 THEN 'easy'
                    WHEN NTILE(10) OVER w <= 7 THEN 'medium'
                    ELSE 'hard' END AS phase
        FROM documents
        WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
    """,
    operators=(30, 105),
    doc="Curriculum binning: per-language length deciles (ntile) plus "
    "percent_rank/cume_dist, mapped to an easy/medium/hard training "
    "phase — how curriculum-ordered corpus schedules are cut. One "
    "shuffle on lang. percent_rank and cume_dist are single IEEE "
    "divisions of identical integer operands in both engines, so the "
    "doubles hash exactly.",
)
def q_curriculum_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    decile = F.ntile(10).over(w)
    return d.select(
        "doc_id",
        decile.cast("bigint").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.when(decile <= 3, "easy")
        .when(decile <= 7, "medium")
        .otherwise("hard")
        .alias("phase"),
    )


# ---------------------------------------------------------------------------
# #106 bag-semantics set operations (ALL variants)
# ---------------------------------------------------------------------------


@query(
    "q_set_ops_all",
    oracle="""
        WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             ex AS (SELECT o_custkey FROM f EXCEPT ALL SELECT o_custkey FROM o),
             ia AS (SELECT o_custkey FROM f INTERSECT ALL SELECT o_custkey FROM o)
        SELECT 'except_all' AS op, COUNT(*) AS n,
               CAST(COALESCE(SUM(o_custkey), 0) AS BIGINT) AS key_sum FROM ex
        UNION ALL
        SELECT 'intersect_all', COUNT(*),
               CAST(COALESCE(SUM(o_custkey), 0) AS BIGINT) FROM ia
    """,
    operators=(37, 38, 39, 106),
    doc="Bag-semantics set operations: EXCEPT ALL / INTERSECT ALL keep "
    "multiplicities (one copy per unmatched/matched duplicate), unlike "
    "the set-semantics variants in q_set_operations. Spark plans both "
    "as a count-aggregate + generate (replicate) pattern — one shuffle "
    "on the value, never a row-by-row anti join. Outputs are "
    "order-free count/checksum summaries.",
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")

    def summarize(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.lit(op).alias("op"),
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("o_custkey"), F.lit(0)).cast("bigint").alias("key_sum"),
        ).select("op", "n", "key_sum")

    return summarize(f.exceptAll(o), "except_all").unionAll(
        summarize(f.intersectAll(o), "intersect_all")
    )


# ---------------------------------------------------------------------------
# #138 JOIN LATERAL — correlated derived table per outer row
# ---------------------------------------------------------------------------


@query(
    "q_lateral_topk",
    oracle="""
        SELECT r_name, n_name, n_custs
        FROM region r
        JOIN LATERAL (
            SELECT n_name, COUNT(c_custkey) AS n_custs
            FROM nation n JOIN customer c ON c_nationkey = n_nationkey
            WHERE n_regionkey = r.r_regionkey
            GROUP BY n_name
            ORDER BY n_custs DESC, n_name
            LIMIT 2
        ) t ON TRUE
    """,
    operators=(33, 138),
    doc="JOIN LATERAL (#138): a correlated derived table evaluated per "
    "outer row — each region pulls its top-2 nations by customer "
    "count, the SQL-standard alternative to the rank-window top-k "
    "idiom (q_win_topk_per_group computes the same family the window "
    "way). Catalyst decorrelates the lateral subquery into a "
    "join+aggregate — the plan has no per-row re-execution; the "
    "deterministic ORDER BY (count DESC, name) makes the LIMIT "
    "hash-stable across engines. Scale: after decorrelation this is "
    "one agg shuffle + one broadcast join, identical cost to the "
    "window formulation.",
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.catalog import register_views

    register_views(spark, sf_dir, ["region", "nation", "customer"])
    return spark.sql(
        """
        SELECT r_name, n_name, n_custs
        FROM region r
        JOIN LATERAL (
            SELECT n_name, COUNT(c_custkey) AS n_custs
            FROM nation n JOIN customer c ON c_nationkey = n_nationkey
            WHERE n_regionkey = r.r_regionkey
            GROUP BY n_name
            ORDER BY n_custs DESC, n_name
            LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# #140 HLL sketch distinct counting (DataSketches, mergeable)
# ---------------------------------------------------------------------------


@query(
    "q_hll_sketch",
    oracle="""
        SELECT c_mktsegment,
               COUNT(DISTINCT c_custkey) AS exact_distinct,
               CAST(1 AS INT) AS est_within_2pct,
               CAST(1 AS INT) AS union_consistent
        FROM customer
        GROUP BY c_mktsegment
    """,
    operators=(26, 140),
    doc="DataSketches HLL distinct counting (#140, Spark 4 "
    "hll_sketch_agg / hll_union_agg): per-segment customer sketches "
    "are built in ONE pass, then unioned into a global sketch — the "
    "mergeable-summary pattern that replaces exact COUNT(DISTINCT) at "
    "100 TB (sketches travel executor→executor as ~KB binaries; no "
    "row-level shuffle). Round 6 (closing VERDICT r5 ask #5): "
    "formerly rows-only; now a GRADED-CONTRACT query — per-segment "
    "estimates (lgConfigK=16, the q_hll_bounds finding: default lgK "
    "12 breaches 2% at sf1 cardinalities) must land within 2% of the "
    "exact anchor, AND the MERGEABILITY contract is graded in-query: "
    "hll_union_agg over the per-segment sketches must estimate "
    "within 0.5% of one whole-corpus sketch — the property that "
    "makes sketches shuffle-free at 1000 executors. (Within, not "
    "equal: the round-10 sf0.1 bit sweep caught a 0.21% gap — "
    "DataSketches' union promotes to a different target HLL type "
    "than a direct build, so estimator corrections can differ at "
    "mode-boundary cardinalities; equality held at sf0.01/sf1 by "
    "luck of the register population.)",
)
def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    per_seg = cust.groupBy("c_mktsegment").agg(
        F.expr("hll_sketch_agg(c_custkey, 16)").alias("sk"),
        F.countDistinct("c_custkey").cast("bigint").alias("exact_distinct"),
    )
    unioned = per_seg.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_union")
    )
    whole = cust.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(c_custkey, 16))").alias(
            "est_whole"
        )
    )
    merge_ok = (
        unioned.crossJoin(whole)
        .select(
            (
                F.abs(F.col("est_union") - F.col("est_whole"))
                / F.col("est_whole")
                < 0.005
            )
            .cast("int")
            .alias("union_consistent")
        )
    )
    return (
        per_seg.select(
            "c_mktsegment",
            F.expr("hll_sketch_estimate(sk)").cast("double").alias("est"),
            "exact_distinct",
        )
        .crossJoin(F.broadcast(merge_ok))
        .select(
            "c_mktsegment",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                < 0.02
            )
            .cast("int")
            .alias("est_within_2pct"),
            "union_consistent",
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_hll_bounds",
    oracle="""
        SELECT c_mktsegment,
               COUNT(DISTINCT c_custkey) AS exact_distinct,
               CAST(1 AS INT) AS est_within_2pct
        FROM customer
        GROUP BY c_mktsegment
    """,
    operators=(26, 140),
    doc="Accuracy contract of the DataSketches HLL path (#140), graded "
    "by the driver: every per-segment hll_sketch_estimate must land "
    "within 2% of the exact distinct count. lgConfigK=16 (rsd ~0.4%) "
    "makes 2% a ~5-sigma bound — the default lgK 12 is ~1.6% rsd and "
    "measurably BREACHES 2% at sf1 cardinalities (worst 2.7% observed "
    "on the 10x fixture; 0.55% at lgK 16). 64 KB of sketch per group "
    "buys a contract that holds at every scale. The Spark side builds "
    "the sketches and emits the bound CHECK next to the exact anchor; "
    "the oracle states the contract. Complements the informative "
    "rows-only q_hll_sketch (raw estimates) with a driver-checkable "
    "guarantee.",
)
def q_hll_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(c_custkey, 16))")
        .cast("double")
        .alias("est"),
        F.countDistinct("c_custkey").cast("bigint").alias("exact_distinct"),
    )
    return g.select(
        "c_mktsegment",
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            < 0.02
        )
        .cast("int")
        .alias("est_within_2pct"),
    )


# ---------------------------------------------------------------------------
# #309 PERT critical path (weighted longest path over the assembly DAG)
# ---------------------------------------------------------------------------

_CP_DUR = (
    "CAST(('0x' || SUBSTR(MD5('dur:' || CAST({k} AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100 + 1"
)


@query(
    "q_critical_path",
    oracle=f"""
        WITH RECURSIVE walk(p_partkey, depth, cum) AS (
            SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                   {_CP_DUR.format(k="CAST(1 AS BIGINT)")}
            UNION ALL
            SELECT c.child, w.depth + 1,
                   w.cum + {_CP_DUR.format(k="c.child")}
            FROM walk w
            JOIN (
                SELECT p_partkey AS parent, p_partkey * 2 AS child FROM part
                UNION ALL
                SELECT p_partkey, p_partkey * 2 + 1 FROM part
            ) c ON c.parent = w.p_partkey
            JOIN (SELECT MAX(p_partkey) AS mk FROM part) m
              ON c.child <= m.mk
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(cum) AS BIGINT) AS max_cum,
               CAST(MIN(CASE WHEN cum = mc THEN p_partkey END) AS BIGINT)
                   AS critical_key
        FROM (SELECT *, MAX(cum) OVER (PARTITION BY depth) AS mc FROM walk)
        GROUP BY depth
    """,
    operators=(30, 104, 309),
    doc="PERT critical path (#309) over the binary assembly DAG of "
    "#104: every part carries a deterministic md5 task duration "
    "(1–100), the recursive walk accumulates root-to-node duration "
    "(a tree has one path per node, so the longest-path DP is the "
    "walk itself), and per depth the query emits the frontier size, "
    "the critical (max) cumulative duration, and the min node id "
    "achieving it — the schedule-length/critical-chain question "
    "behind build systems, ETL DAG planning, and project scheduling, "
    "which plain reachability (#104) cannot answer. Durations and "
    "sums stay BIGINT; argmax ties break on node id via the "
    "window-max filter. Scale: the frontier is the iterated state "
    "(O(log n) rounds, one count job each and no driver collect "
    "between them); the recursion confs of #104 (row valve sized from "
    "the part-domain count, no small-level LocalRelation conversion) "
    "are set around the materialization and restored after.",
    bench=False,
)
def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.catalog import register_views

    register_views(spark, sf_dir, ["part"])
    n = spark.table("part").count()
    dur_root = (
        "CAST(CONV(SUBSTRING(MD5(CAST(CONCAT('dur:', "
        "CAST(CAST(1 AS BIGINT) AS STRING)) AS BINARY)), 1, 8), 16, 10) "
        "AS BIGINT) % 100 + 1"
    )
    dur_child = (
        "CAST(CONV(SUBSTRING(MD5(CAST(CONCAT('dur:', "
        "CAST(c.child AS STRING)) AS BINARY)), 1, 8), 16, 10) "
        "AS BIGINT) % 100 + 1"
    )
    with scoped_conf(spark, _recursion_confs(n)):
        return spark.sql(
            f"""
        WITH RECURSIVE walk(p_partkey, depth, cum) AS (
            SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), {dur_root}
            UNION ALL
            SELECT c.child, w.depth + 1, w.cum + {dur_child}
            FROM walk w
            JOIN (
                SELECT p_partkey AS parent, p_partkey * 2 AS child FROM part
                UNION ALL
                SELECT p_partkey, p_partkey * 2 + 1 FROM part
            ) c ON c.parent = w.p_partkey
            WHERE c.child <= (SELECT MAX(p_partkey) FROM part)
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MAX(cum) AS BIGINT) AS max_cum,
               CAST(MIN(CASE WHEN cum = mc THEN p_partkey END) AS BIGINT)
                   AS critical_key
        FROM (SELECT *, MAX(cum) OVER (PARTITION BY depth) AS mc FROM walk)
        GROUP BY depth
        """
        ).localCheckpoint(eager=True)
