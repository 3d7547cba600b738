"""TPC-H completion wave (round 6) — SURVEY §2 relational depth.

The registry carried 10 TPC-H query shapes (q01/03/05/06/14/17/18/19/
21/22); this module adds the remaining shapes the fixture's schema can
express — q04, q07, q08, q09, q10, q12, q13, q15, q16, q20 — so a
relational user finds the full dialect exercised. The synthetic
fixture (TESTDATA.md) omits ``partsupp`` and several columns
(l_shipmode, l_commitdate/receiptdate, comments), so the affected
queries are ADAPTED: the documented intent, join topology, and
operator shape are preserved with stand-in predicates over existing
columns; queries whose columns all exist (q07/q08/q10/q13/q15) follow
the public spec closely. All shapes are reimplementations of the
public TPC-H specification [PUB].

Parity discipline: revenue sums through DECIMAL(38,6) (helpers.dsum);
ranks order on decimal-exact doubles with key tiebreaks; date
predicates use TIMESTAMP literals inside the fixture's 1995–2001 span.

Scale notes per query are in each doc; the common themes: dimension
broadcasts (supplier/nation/region/part at dim scale), partial
aggregation before every exchange, and semi/anti joins instead of
DISTINCT-after-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import dsum, sql_dsum
from zmaxion_spark.queries.registry import query


_REV = "l_extendedprice * (1 - l_discount)"


def _rev_col():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Q4: order-priority checking (EXISTS)
# ---------------------------------------------------------------------------


@query(
    "q04_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM read_parquet_orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """.replace("read_parquet_orders", "orders"),
    operators=(10, 15, 23),
    doc="TPC-H Q4 shape (order-priority checking): quarterly orders "
    "with at least one LATE lineitem, censused by priority. ADAPTED: "
    "the fixture has no l_commitdate/l_receiptdate, so 'late' is "
    "l_shipdate more than 30 days after o_orderdate — same EXISTS "
    "semi-join topology as the spec. Scale: the semi-join keeps one "
    "probe row per order (no fan-out), and the quarter filter pushes "
    "to the orders scan.",
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations
# ---------------------------------------------------------------------------


@query(
    "q07_volume_shipping",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {sql_dsum('volume', 'revenue')}
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   YEAR(l.l_shipdate) AS l_year,
                   {_REV} AS volume
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                   AND TIMESTAMP '1997-12-31'
        )
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    operators=(13, 16, 23, 34),
    doc="TPC-H Q7 (volume shipping): bilateral trade revenue between "
    "two nations by year — the canonical star join with a DISJUNCTIVE "
    "cross-dimension predicate. Scale: supplier/customer/nation are "
    "broadcast; the disjunction evaluates post-join on dimension "
    "columns (no fact-side fan-out); two-year filter pushes to the "
    "lineitem scan.",
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            _rev_col().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8: national market share
# ---------------------------------------------------------------------------


@query(
    "q08_market_share",
    oracle=f"""
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                             THEN CAST(volume AS DECIMAL(38,6))
                             ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
               / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)
                   AS mkt_share
        FROM (
            SELECT YEAR(o.o_orderdate) AS o_year,
                   {_REV} AS volume,
                   n1.n_name AS supp_nation
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = n2.n_regionkey
            WHERE r.r_name = 'ASIA'
              AND p.p_type = 'ECONOMY'
              AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                    AND TIMESTAMP '1997-12-31'
        )
        GROUP BY o_year
        ORDER BY o_year
    """,
    operators=(11, 13, 16, 23),
    doc="TPC-H Q8 (national market share): NATION_3's share of ECONOMY-"
    "part revenue sold into ASIA by order year — an 8-table star join "
    "feeding a conditional-sum ratio. Parity: numerator and "
    "denominator are each exact DECIMAL sums cast to double, the "
    "share one IEEE division of identical operands. Scale: all five "
    "dimensions broadcast; only lineitem and orders shuffle, and only "
    "on their join keys.",
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
    )
    dec = "decimal(38,6)"
    vol = _rev_col()
    return (
        j.select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3",
                        F.col("volume").cast(dec),
                    ).otherwise(F.lit(0).cast(dec))
                ).cast("double")
                / F.sum(F.col("volume").cast(dec)).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit (adapted cost model)
# ---------------------------------------------------------------------------


@query(
    "q09_product_profit",
    oracle="""
        SELECT nation, o_year,
               CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
        FROM (
            SELECT n.n_name AS nation,
                   YEAR(o.o_orderdate) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount)
                       - p.p_retailprice * 0.6 * l.l_quantity AS amount
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            WHERE p.p_type = 'PROMO'
        )
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    operators=(13, 16, 23, 34),
    doc="TPC-H Q9 shape (product-type profit): per supplier nation and "
    "order year, profit on PROMO parts. ADAPTED: the fixture has no "
    "partsupp, so supply cost is modeled as 60% of p_retailprice — "
    "the join topology (lineitem against part, supplier, orders, "
    "nation) and the profit-expression aggregate match the spec. "
    "Scale: part/supplier/nation broadcast; profit computed row-local "
    "pre-aggregation so the shuffle carries (nation, year) partials.",
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = _rev_col() - F.col("p_retailprice") * 0.6 * F.col("l_quantity")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q10: returned-item reporting (top 20 customers)
# ---------------------------------------------------------------------------


@query(
    "q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        FROM (
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   {sql_dsum(_REV, 'revenue')}
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        )
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    operators=(13, 16, 23, 36),
    doc="TPC-H Q10 (returned items): the 20 customers who returned the "
    "most revenue in a quarter — fact join, per-customer rollup, "
    "global top-k. Parity: revenue is a DECIMAL-exact double, so both "
    "engines rank identical values; ties break by c_custkey. Scale: "
    "global top-20 is a TakeOrderedAndProject (per-partition heaps, "
    "no full sort); nation broadcasts.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev_col(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12: shipping-lag priority census (adapted shipmode)
# ---------------------------------------------------------------------------


@query(
    "q12_ship_lag_priority",
    oracle="""
        SELECT lag_class,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM (
            SELECT o.o_orderpriority,
                   CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                        THEN 'SLOW' ELSE 'FAST' END AS lag_class
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'
        )
        GROUP BY lag_class
        ORDER BY lag_class
    """,
    operators=(11, 13, 23),
    doc="TPC-H Q12 shape (shipping modes and priority): lineitems "
    "classed by delivery speed, counting high- vs low-priority orders "
    "in each class. ADAPTED: no l_shipmode/receiptdate in the "
    "fixture, so the class is the ship LAG (>60 days = SLOW) — the "
    "same join + dual-conditional-count census as the spec. Scale: "
    "the year filter pushes to the lineitem scan; the census shuffles "
    "two partial counters per class.",
)
def q12_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    lag_class = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
        "SLOW",
    ).otherwise("FAST")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.select(lag_class.alias("lag_class"), "o_orderpriority")
        .groupBy("lag_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("lag_class")
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution
# ---------------------------------------------------------------------------


@query(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                              AND o.o_orderstatus <> 'P'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    operators=(14, 23, 34),
    doc="TPC-H Q13 (customer distribution): the histogram of per-"
    "customer order counts INCLUDING zero-order customers — the "
    "canonical outer-join-with-filtered-join-predicate shape (the "
    "status filter must sit in the JOIN condition, not a WHERE, or "
    "zero-order customers vanish; the fixture's 'P' status stands in "
    "for the spec's comment exclusion). Scale: two cascaded rollups, "
    "each map-side combined; the second operates on |distinct "
    "counts| rows.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "P")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q15: top supplier (scalar-max gate over an aggregated view)
# ---------------------------------------------------------------------------


@query(
    "q15_top_supplier",
    oracle=f"""
        WITH revenue0 AS (
            SELECT l_suppkey AS supplier_no,
                   {sql_dsum(_REV, 'total_revenue')}
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue0 r ON r.supplier_no = s.s_suppkey
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
        ORDER BY s.s_suppkey
    """,
    operators=(13, 16, 23, 97),
    doc="TPC-H Q15 (top supplier): quarterly revenue per supplier as a "
    "derived view, gated by its own global MAX — the scalar-subquery-"
    "over-aggregate shape (#97). Parity: revenues are DECIMAL-exact "
    "doubles, so the equality gate is safe cross-engine. Scale: the "
    "view is one map-side-combined rollup; the MAX is a 1-row "
    "broadcast, not a driver collect.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_rev_col(), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16: supplier count by part attributes (NOT IN gate, adapted)
# ---------------------------------------------------------------------------


@query(
    "q16_part_supplier_counts",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    operators=(13, 15, 16, 25),
    doc="TPC-H Q16 shape (parts/supplier relationship): how many "
    "qualified suppliers ship each (brand, type, size) bucket, "
    "EXCLUDING flagged suppliers via NOT IN. ADAPTED: no partsupp, so "
    "supply relationships come from lineitem; 'complaint' suppliers "
    "are those with negative account balance. Scale: the exclusion is "
    "a broadcast anti-join (never a NOT-IN nested loop); COUNT "
    "(DISTINCT suppkey) per small group rides the one fact shuffle.",
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(bad), "l_suppkey", "left_anti"
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q20: dominant-share suppliers (nested aggregate gate, adapted)
# ---------------------------------------------------------------------------


@query(
    "q20_dominant_suppliers",
    oracle="""
        WITH shipped AS (
            SELECT l.l_partkey, l.l_suppkey,
                   CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6)))
                        AS DOUBLE) AS qty
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_type = 'STANDARD'
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l.l_partkey, l.l_suppkey
        ),
        totals AS (
            SELECT l_partkey, CAST(SUM(CAST(qty AS DECIMAL(38,6)))
                                   AS DOUBLE) AS part_qty
            FROM shipped GROUP BY l_partkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
        FROM supplier s
        JOIN shipped sh ON sh.l_suppkey = s.s_suppkey
        JOIN totals t ON t.l_partkey = sh.l_partkey
        WHERE sh.qty > 0.5 * t.part_qty
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY s.s_suppkey
    """,
    operators=(13, 16, 17, 23),
    doc="TPC-H Q20 shape (potential part promotion): suppliers who "
    "shipped MORE THAN HALF of a STANDARD part's 1996 volume, with "
    "how many parts they dominate. ADAPTED: no partsupp availability, "
    "so the spec's 'excess stock' gate becomes a dominant-share gate "
    "over shipped quantities — the same nested-aggregate-then-"
    "threshold topology (per-(part,supplier) rollup vs per-part "
    "rollup). Parity: both quantity rollups are DECIMAL-exact "
    "doubles; 0.5*total is exact (scale by a power of two). Scale: "
    "the theta comparison joins co-keyed rollups on l_partkey — "
    "co-partitioned, no fan-out.",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select(
        "p_partkey"
    )
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double").alias("qty"))
    )
    totals = shipped.groupBy("l_partkey").agg(
        F.sum(F.col("qty").cast("decimal(38,6)")).cast("double").alias("part_qty")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dom = shipped.join(totals, "l_partkey").filter(
        F.col("qty") > 0.5 * F.col("part_qty")
    )
    return (
        dom.join(F.broadcast(s), dom.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dominated_parts"))
        .orderBy("s_suppkey")
    )
