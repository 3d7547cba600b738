"""Relational batch core — SURVEY.md §2.1–§2.7 operators.

Each query is a thin DataFrame pipeline (the operator layer IS the
DataFrame API — SURVEY §7 architecture) paired with its DuckDB oracle.
Scale notes are attached per query: these plans are written so the
same code runs on a 1000-executor cluster — broadcast dims, partial
aggregation, pushed-down predicates (verified by plan-shape tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import DEC, davg, dsum, sql_davg, sql_dsum
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #1 scan, #8 project, #9 filter, #23 grouped agg, #34 sort — flagship
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity', 'sum_qty')},
               {sql_dsum('l_extendedprice', 'sum_base_price')},
               {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
               {sql_davg('l_quantity', 'avg_qty')},
               {sql_davg('l_extendedprice', 'avg_price')},
               {sql_davg('l_discount', 'avg_disc')},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    operators=(1, 8, 9, 23, 34),
    doc="TPC-H Q1-style pricing summary: scan→filter→group→agg→sort. "
    "Scale: predicate+projection push to parquet scan; two-phase hash agg "
    "(partial map-side) keeps the shuffle at |groups| not |rows|.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# #13 inner join, #16 broadcast join, #36 global top-k
# ---------------------------------------------------------------------------


@query(
    "q03_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    operators=(13, 16, 36),
    doc="TPC-H Q3-style: filtered 3-way star join, agg, global top-k. "
    "Scale: customer filter is broadcast into the orders join; top-k plans "
    "as TakeOrderedAndProject (no full sort shuffle).",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q05_local_supplier_volume",
    oracle="""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    operators=(13, 16),
    doc="TPC-H Q5-style 6-way star join. Scale: region/nation/supplier are "
    "broadcast (no shuffle for dim joins); only fact-fact orders⋈lineitem "
    "shuffles, on the join key.",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# #9 predicate algebra, #11 case_when, #12 null handling — row-level
# ---------------------------------------------------------------------------


@query(
    "q_filter_predicates",
    oracle="""
        SELECT o_orderkey,
               o_totalprice,
               CASE WHEN o_totalprice >= 300000 THEN 'large'
                    WHEN o_totalprice >= 100000 THEN 'medium'
                    ELSE 'small' END AS size_bucket,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
               (o_orderpriority LIKE '1%') AS is_urgent
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
          AND o_totalprice BETWEEN 50000 AND 400000
          AND o_orderpriority LIKE '%-%'
          AND o_orderdate IS NOT NULL
    """,
    operators=(8, 9, 11, 12),
    doc="Predicate algebra (IN/BETWEEN/LIKE/IS NOT NULL) + CASE WHEN + "
    "COALESCE/NULLIF, row-level. Scale: every predicate is "
    "Catalyst-pushable into the parquet scan.",
)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_totalprice").between(50000, 400000)
            & F.col("o_orderpriority").like("%-%")
            & F.col("o_orderdate").isNotNull()
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_totalprice") >= 300000, "large")
            .when(F.col("o_totalprice") >= 100000, "medium")
            .otherwise("small")
            .alias("size_bucket"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
                "status_label"
            ),
            F.col("o_orderpriority").like("1%").alias("is_urgent"),
        )
    )


# ---------------------------------------------------------------------------
# #10/#15 semi & anti join (ECS With/Without)
# ---------------------------------------------------------------------------


@query(
    "q_exists_semi_anti",
    oracle="""
        SELECT c_custkey, 'has_order' AS tag FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        UNION ALL
        SELECT c_custkey, 'no_order' AS tag FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    operators=(10, 15, 37),
    doc="ECS With<Orders>/Without<Orders> semantics as left-semi/left-anti "
    "joins. Scale: semi/anti joins shuffle only keys, never payload rows.",
)
def q_exists_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    has = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", F.lit("has_order").alias("tag"))
    )
    hasnot = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", F.lit("no_order").alias("tag"))
    )
    return has.unionByName(hasnot)


# ---------------------------------------------------------------------------
# #14 outer join
# ---------------------------------------------------------------------------


@query(
    "q_join_outer_counts",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               COUNT(o_orderkey) AS order_cnt,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 0) AS DOUBLE) AS total_spend
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment
    """,
    operators=(14, 23),
    doc="Left outer join preserving customers with zero orders; COUNT over "
    "nullable side. Scale: shuffle on c_custkey only; agg is partial+final.",
)
def q_join_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.coalesce(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# #30 ranking windows, #33 top-k per group
# ---------------------------------------------------------------------------


@query(
    "q_win_topk_per_group",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                   RANK() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderstatus) AS status_rank
            FROM orders
        ) WHERE rn <= 3
    """,
    operators=(30, 33),
    doc="Top-3 orders per customer via row_number window; deterministic "
    "tie-break on orderkey. Scale: single shuffle on the partition key; "
    "rank filter applied before any downstream exchange.",
)
def q_win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("status_rank"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# #24 global agg, #25 distinct agg
# ---------------------------------------------------------------------------


@query(
    "q_agg_global_distinct",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_returnflag) AS n_flags,
               CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_distinct_qty,
               MIN(l_shipdate) AS min_ship,
               MAX(l_shipdate) AS max_ship
        FROM lineitem
    """,
    operators=(24, 25),
    doc="Global (ungrouped) aggregate incl. DISTINCT inputs. Scale: "
    "count-distinct expands to a two-level agg; partials keep it bounded.",
)
def q_agg_global_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.sum_distinct(F.col("l_quantity").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_distinct_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


# ---------------------------------------------------------------------------
# #37/#38/#39 set operations
# ---------------------------------------------------------------------------


@query(
    "q_set_operations",
    oracle="""
        WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
             rich   AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
        SELECT 'union' AS op, k FROM (SELECT k FROM buyers UNION SELECT k FROM rich)
        UNION ALL
        SELECT 'intersect' AS op, k FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich)
        UNION ALL
        SELECT 'except' AS op, k FROM (SELECT k FROM buyers EXCEPT SELECT k FROM rich)
    """,
    operators=(37, 38, 39),
    doc="union/intersect/except over two key sets, tagged. Scale: all three "
    "plan as hash aggregates/joins on the key — one shuffle each.",
)
def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    buyers = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    u = buyers.union(rich).distinct().select(F.lit("union").alias("op"), "k")
    i = buyers.intersect(rich).select(F.lit("intersect").alias("op"), "k")
    e = buyers.subtract(rich).select(F.lit("except").alias("op"), "k")
    return u.unionByName(i).unionByName(e)


# ---------------------------------------------------------------------------
# #34 sort, #35 limit, #36 global top-k
# ---------------------------------------------------------------------------


@query(
    "q_sort_limit_topk",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    operators=(34, 35, 36),
    doc="Global top-k with deterministic tie-break. Scale: plans as "
    "TakeOrderedAndProject — per-partition heap + driver merge, no sort "
    "shuffle of the full table.",
)
def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H-style classics: q6 forecast-revenue filter-agg, q14 promo share
# ---------------------------------------------------------------------------


@query(
    "q06_forecast_revenue",
    oracle=f"""
        SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    operators=(1, 9, 24),
    doc="TPC-H Q6 analog: tight filter + global aggregate. The whole "
    "query is a single codegen'd scan - every predicate reaches "
    "PushedFilters, no shuffle at all (global agg is partial+final "
    "over one exchange of one row per partition).",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q14_promo_share",
    oracle="""
        SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                   ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE) AS promo_share,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    operators=(11, 16, 24),
    doc="TPC-H Q14 analog: promo revenue share for one month. part is "
    "explicitly broadcast (dimension); the conditional aggregate is a "
    "filtered sum, exact through decimal on both engines.",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(F.lit(0).cast(DEC))).cast("double")
                / F.sum(net).cast("double")
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# #121 disjunctive-predicate join (TPC-H Q19 shape)
# ---------------------------------------------------------------------------


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
        SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
               AND l_quantity BETWEEN 20 AND 40)
    """,
    operators=(9, 16, 121),
    doc="TPC-H Q19 shape: revenue under a DISJUNCTION of brand/size/"
    "quantity clauses that spans both join sides. The planner test: "
    "Catalyst must still extract the p_partkey equi-join (hash join, "
    "part side broadcast) and evaluate the OR as a residual filter — "
    "a naive reading degenerates to a nested-loop over the "
    "disjunction. Single-table conjuncts (quantity bounds, size "
    "bounds) are pushed to their scans as derived filters.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 40)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(clause).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# #122 correlated EXISTS / NOT EXISTS chain (TPC-H Q21 shape)
# ---------------------------------------------------------------------------


@query(
    "q21_blocking_suppliers",
    oracle="""
        SELECT s_name,
               COUNT(*) AS n_blocking
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        ORDER BY n_blocking DESC, s_name
        LIMIT 10
    """,
    operators=(10, 15, 122),
    doc="TPC-H Q21 shape: suppliers whose lineitem shipped LAST in a "
    "multi-supplier finalized order — a correlated EXISTS plus a "
    "correlated NOT EXISTS over the SAME fact table. The Spark "
    "formulation decorrelates both subqueries into per-order "
    "aggregates computed in ONE pass (count distinct suppliers + "
    "arg-max of (shipdate, suppkey)): semantically, 'no other "
    "supplier shipped later' with the suppkey tie-break means this "
    "row ships at-or-after the MAX ship date among the order's OTHER "
    "suppliers. That max-of-others is computed without correlated "
    "probes: per-(order, supplier) maxes, then per-order (top max, "
    "how many suppliers tie at it, runner-up max) — for a row of "
    "supplier s, max-of-others is the runner-up exactly when s alone "
    "holds the top. Two chained aggregates on one lineitem shuffle "
    "replace two correlated scans of the fact table — the "
    "decorrelation a 100 TB plan needs.",
)
def q21_blocking_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = load_table(spark, sf_dir, "supplier")
    # Pass 1: per-(order, supplier) max ship date.
    per_supp = li.groupBy(
        F.col("l_orderkey").alias("ps_orderkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.max("l_shipdate").alias("s_max"))
    # Pass 2: per-order stats as unordered partition windows — they
    # reuse pass 1's hash partitioning on the order key (no sort, no
    # extra shuffle): top max, how many suppliers tie at it, runner-up.
    w = Window.partitionBy("ps_orderkey")
    stats = per_supp.select(
        "ps_orderkey",
        "ps_suppkey",
        "s_max",
        F.count(F.lit(1)).over(w).alias("n_supps"),
        F.max("s_max").over(w).alias("m1"),
    ).select(
        "*",
        F.sum(F.when(F.col("s_max") == F.col("m1"), 1).otherwise(0))
        .over(w)
        .alias("cnt_at_m1"),
        F.max(F.when(F.col("s_max") < F.col("m1"), F.col("s_max")))
        .over(w)
        .alias("m2"),
    )
    max_other = F.when(
        (F.col("s_max") == F.col("m1")) & (F.col("cnt_at_m1") == 1), F.col("m2")
    ).otherwise(F.col("m1"))
    gate = stats.filter(F.col("n_supps") > 1).select(
        "ps_orderkey", "ps_suppkey", max_other.alias("max_other")
    )
    blocking = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            gate,
            (li.l_orderkey == gate.ps_orderkey)
            & (li.l_suppkey == gate.ps_suppkey),
        )
        .filter(F.col("l_shipdate") >= F.col("max_other"))
    )
    return (
        blocking.join(F.broadcast(supplier), blocking.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_blocking"))
        .orderBy(F.col("n_blocking").desc(), "s_name")
        .limit(10)
    )
