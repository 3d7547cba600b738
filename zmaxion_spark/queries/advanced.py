"""Advanced relational operators — SURVEY.md §2 #17–#22, #26–#33, #40.

The as-of and interval joins are the stream-enrichment primitives the
reference's scope implies (SURVEY §2.3 #19–#20): Spark has no native
batch as-of join, so they are formulated as compositions Catalyst
optimizes well — union+running-window for as-of, coarse-bucket
equi-join + residual filter for interval (the bucket join is what
scales: at 100 TB the interval side shuffles once on the bucket key
instead of exploding a theta BNLJ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import DEC, dsum, sql_dsum
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #17 theta / non-equi join (equi key + range residual)
# ---------------------------------------------------------------------------


@query(
    "q_join_theta_range",
    oracle=f"""
        SELECT s_nationkey AS nationkey,
               COUNT(*) AS n_pairs,
               {sql_dsum('s_acctbal - c_acctbal', 'bal_gap')}
        FROM supplier JOIN customer
          ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
        GROUP BY s_nationkey
    """,
    operators=(17,),
    doc="Equi + range-predicate join (supplier richer than customer, same "
    "nation). Scale: hash join on the equi key, residual filter applied "
    "post-match — never a BNLJ.",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum(F.col("s_acctbal") - F.col("c_acctbal"), "bal_gap"),
        )
    )


# ---------------------------------------------------------------------------
# #18 cross join
# ---------------------------------------------------------------------------


@query(
    "q_join_cross",
    oracle="""
        SELECT r_name, seg, CONCAT(r_name, '/', seg) AS cell
        FROM region
        CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    """,
    operators=(18,),
    doc="Cartesian product of two tiny dimension sets (5×5). Scale: only "
    "ever used dim×dim; Spark broadcasts the smaller side.",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_name")
    seg = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("seg"))
        .distinct()
    )
    return r.crossJoin(seg).select(
        "r_name", "seg", F.concat(F.col("r_name"), F.lit("/"), F.col("seg")).alias("cell")
    )


# ---------------------------------------------------------------------------
# #19 as-of join: latest click at-or-before each purchase, per user
# ---------------------------------------------------------------------------


@query(
    "q_join_asof",
    oracle="""
        WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
               (SELECT MAX(c.ts) FROM c
                WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
        FROM p
        WHERE EXISTS (SELECT 1 FROM c
                      WHERE c.user_id = p.user_id AND c.ts <= p.ts)
    """,
    operators=(19, 31),
    doc="Batch as-of join via union + running last_value(ignorenulls) "
    "window — one shuffle on user_id, no range explosion. Oracle uses "
    "the equivalent MAX-correlated-subquery formulation.",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.lit(None).cast("bigint").alias("p_event_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.col("event_id").alias("p_event_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    # At equal ev_ts the click sorts first (nulls last) → inclusive <=.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ev_ts"), F.col("click_ts").desc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("p_event_id").isNotNull() & F.col("last_click_ts").isNotNull())
        .select(
            F.col("p_event_id").alias("event_id"),
            "user_id",
            F.col("ev_ts").alias("purchase_ts"),
            "last_click_ts",
        )
    )


# ---------------------------------------------------------------------------
# #20 interval join: events within derived time windows (bucketed)
# ---------------------------------------------------------------------------


@query(
    "q_join_interval",
    oracle=f"""
        WITH w AS (SELECT DISTINCT DATE_TRUNC('month', l_shipdate) AS w_start FROM lineitem),
             w2 AS (SELECT w_start, w_start + INTERVAL 7 DAY AS w_end FROM w)
        SELECT w_start,
               COUNT(*) AS n_items,
               {sql_dsum('l_extendedprice', 'revenue')}
        FROM w2 JOIN lineitem
          ON l_shipdate >= w_start AND l_shipdate < w_end
        GROUP BY w_start
    """,
    operators=(20,),
    doc="Interval join (shipments in the first week of each month) via "
    "coarse-bucket equi-join + residual range filter. Scale: the fact "
    "side shuffles once on the month bucket; windows broadcast.",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    windows = (
        li.select(F.date_trunc("month", "l_shipdate").alias("w_start"))
        .distinct()
        .select("w_start", (F.col("w_start") + F.expr("INTERVAL 7 DAYS")).alias("w_end"))
        .withColumn("bucket", F.col("w_start"))
    )
    return (
        li.withColumn("bucket", F.date_trunc("month", "l_shipdate"))
        .join(F.broadcast(windows), "bucket")
        .filter((F.col("l_shipdate") >= F.col("w_start")) & (F.col("l_shipdate") < F.col("w_end")))
        .groupBy("w_start")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice", "revenue"))
    )


# ---------------------------------------------------------------------------
# #27 rollup / cube with grouping ids
# ---------------------------------------------------------------------------


@query(
    "q_rollup",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n,
               {sql_dsum('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    operators=(27,),
    doc="ROLLUP with GROUPING id disambiguating subtotal nulls. Scale: "
    "Spark expands to a single Expand+agg — one shuffle for all levels.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity", "sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@query(
    "q_sql_grouping_sets",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n,
               {sql_dsum('l_extendedprice', 'revenue')}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    operators=(27,),
    doc="Explicit GROUPING SETS through the SQL entry point (SURVEY "
    "§3.2 EP2: spark.sql over registered views — same Catalyst pipeline "
    "as the DataFrame API, parsed by ANTLR instead of built by Py4J). "
    "The only graded query exercising the SQL front door end-to-end.",
)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.catalog import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_cube",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus, o_orderpriority) AS gid,
               COUNT(*) AS n,
               {sql_dsum('o_totalprice', 'spend')}
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    operators=(27,),
    doc="CUBE over two dimensions with grouping id.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "spend"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "spend")
    )


# ---------------------------------------------------------------------------
# #28 filtered aggregates + collect_list/set
# ---------------------------------------------------------------------------


@query(
    "q_agg_filtered_collect",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_finished,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               {sql_dsum('l_extendedprice', 'rev_all')},
               CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                    FILTER (WHERE l_discount > 0.05), 0) AS DOUBLE) AS rev_discounted,
               ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linestatus)), ',') AS statuses
        FROM lineitem
        GROUP BY l_returnflag
    """,
    operators=(23, 28),
    doc="FILTER-clause aggregates as count/sum over CASE WHEN, plus "
    "sorted collect_set joined to a scalar (driver canon rejects ARRAY "
    "cells; sort fixes the order so hashes agree).",
)
def q_agg_filtered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
        dsum("l_extendedprice", "rev_all"),
        F.coalesce(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).cast(DEC)),
            F.lit(0),
        )
        .cast("double")
        .alias("rev_discounted"),
        F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias("statuses"),
    )


# ---------------------------------------------------------------------------
# #29 pivot
# ---------------------------------------------------------------------------


@query(
    "q_pivot",
    oracle="""
        SELECT l_returnflag,
               CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                    FILTER (WHERE l_linestatus = 'F'), 0) AS DOUBLE) AS qty_f,
               CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                    FILTER (WHERE l_linestatus = 'O'), 0) AS DOUBLE) AS qty_o
        FROM lineitem
        GROUP BY l_returnflag
    """,
    operators=(29,),
    doc="Pivot l_linestatus into columns with explicit value list (no "
    "extra distinct-values job — the scale-correct form).",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
    )
    return p.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_f"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_o"),
    )


# ---------------------------------------------------------------------------
# #31 analytic windows (lag/lead/first/last/nth)
# ---------------------------------------------------------------------------


@query(
    "q_win_analytic",
    oracle="""
        SELECT event_id, user_id,
               LAG(value) OVER w AS prev_value,
               LEAD(event_type) OVER w AS next_type,
               FIRST_VALUE(event_id) OVER w AS first_event,
               NTH_VALUE(value, 2) OVER w AS second_value,
               LAST_VALUE(event_id)
                 OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
    operators=(31,),
    doc="lag/lead/first/last/nth_value per user ordered by event time — "
    "the sessionization building block. One shuffle on user_id.",
)
def q_win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_id").over(w).alias("first_event"),
        F.nth_value("value", 2).over(w).alias("second_value"),
        F.last("event_id").over(wfull).alias("last_event"),
    )


# ---------------------------------------------------------------------------
# #32 framed window aggregates (rows + range frames)
# ---------------------------------------------------------------------------


@query(
    "q_win_frames",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg3_spend,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                       RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000
        FROM orders
    """,
    operators=(32,),
    doc="Running and sliding frames (ROWS) plus a numeric RANGE frame. "
    "Decimal-exact running sums keep parity with the oracle.",
)
def q_win_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w3 = wo.rowsBetween(-2, Window.currentRow)
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    dec_price = F.col("o_totalprice").cast(DEC)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(dec_price).over(run).cast("double").alias("running_spend"),
        (F.sum(dec_price).over(w3).cast("double") / F.count(F.lit(1)).over(w3)).alias(
            "avg3_spend"
        ),
        F.count(F.lit(1)).over(wr).alias("n_within_1000"),
    )


# ---------------------------------------------------------------------------
# #40 deterministic exact dedup (documented tie-break)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_keyed",
    oracle="""
        SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_date
        FROM (
            SELECT o_custkey, o_orderkey, o_orderdate,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS rn
            FROM orders
        ) WHERE rn = 1
    """,
    operators=(30, 40),
    doc="Key-level dedup with deterministic tie-break (earliest date, then "
    "lowest key) — dropDuplicates() keeps an arbitrary row, so the engine's "
    "dedup_exact is row_number()=1 (SURVEY #40 tie-break note).",
)
def q_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_date"),
        )
    )


# ---------------------------------------------------------------------------
# #26 approximate aggregates (rows-only: approx ≠ oracle)
# ---------------------------------------------------------------------------


@query(
    "q_agg_approx",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(1 AS INT) AS distinct_within_5pct,
               CAST(1 AS INT) AS p50_within_2pct_rank,
               CAST(1 AS INT) AS p90_within_2pct_rank
        FROM lineitem
        GROUP BY l_returnflag
    """,
    operators=(26,),
    doc="HLL count-distinct + approximate percentiles — the interactive "
    "path at 100 TB (no exact distinct shuffle, bounded sketch "
    "memory). Round 6 (closing VERDICT r5 ask #5): formerly rows-only; "
    "now a GRADED-CONTRACT query in the #264 pattern — the Spark side "
    "computes the sketch estimates AND the exact anchors, and emits "
    "the bound checks: approx_count_distinct(rsd=0.01) within 5% of "
    "exact (5-sigma margin), and BOTH approx percentiles (p50 AND "
    "p90, extending the p50-only q_approx_bounds twin) inside their "
    "exact ±2%-rank brackets — the rank-error guarantee of "
    "percentile_approx at accuracy 10000. Exact brackets come from "
    "the value-histogram + running-count discipline (shuffle scales "
    "with |distinct prices|, not rows), split from the distinct pass "
    "because COUNT(DISTINCT) + object aggregates in one Aggregate "
    "plans the 25x-slower Expand.",
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.9], 10000)
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.element_at(pcts, 1).alias("p50a"),
        F.element_at(pcts, 2).alias("p90a"),
        F.count(F.lit(1)).alias("n"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "l_returnflag", "l_extendedprice", F.sum("c").over(w).alias("cum")
    )

    def _rank_val(frac):
        return F.min(
            F.when(F.col("cum") >= frac, F.col("l_extendedprice"))
        )

    brackets = (
        cum.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag", "approx_orders", "p50a", "p90a", "n")
        .agg(
            _rank_val(F.ceil(0.48 * F.col("n"))).alias("p48"),
            _rank_val(F.floor(0.52 * F.col("n"))).alias("p52"),
            _rank_val(F.ceil(0.88 * F.col("n"))).alias("p88"),
            _rank_val(F.floor(0.92 * F.col("n"))).alias("p92"),
        )
    )
    g = brackets.join(exact, "l_returnflag")
    return g.select(
        "l_returnflag",
        "exact_orders",
        "n",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
            < 0.05
        )
        .cast("int")
        .alias("distinct_within_5pct"),
        ((F.col("p50a") >= F.col("p48")) & (F.col("p50a") <= F.col("p52")))
        .cast("int")
        .alias("p50_within_2pct_rank"),
        ((F.col("p90a") >= F.col("p88")) & (F.col("p90a") <= F.col("p92")))
        .cast("int")
        .alias("p90_within_2pct_rank"),
    )


# ---------------------------------------------------------------------------
# #13/#16 salted join (skew tooling graded end-to-end)
# ---------------------------------------------------------------------------


@query(
    "q_join_salted",
    oracle=f"""
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               {sql_dsum('value', 'total_value')}
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    operators=(13, 16, 84),
    doc="Skew-salted equi-join graded end-to-end: the (potentially "
    "power-law) event stream joins the customer dim through "
    "layout.salted_join — hot keys spread over 8 deterministic salts, "
    "the small side replicated 8x — and the oracle is the PLAIN join, "
    "proving row-identity of the salted rewrite. This is the explicit "
    "fallback for keys so hot that AQE's skew split still leaves a "
    "straggler.",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.layout import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", F.col("event_id"), n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


# ---------------------------------------------------------------------------
# #91 exact quantiles + histogram, two-phase distributed rank
# ---------------------------------------------------------------------------


@query(
    "q_quantile_hist",
    oracle=f"""
        WITH s AS (
            SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
                   COUNT(*) AS n_total
            FROM orders
        ),
        b AS (
            SELECT o_orderkey, o_totalprice,
                   LEAST(19, CAST(FLOOR(
                       (o_totalprice - s.mn) / (s.mx - s.mn) * 20
                   ) AS BIGINT)) AS bucket
            FROM orders, s
        ),
        hist AS (
            SELECT bucket, COUNT(*) AS n_orders,
                   {sql_dsum('o_totalprice', 'price_sum')}
            FROM b GROUP BY bucket
        ),
        r AS (
            SELECT o_totalprice,
                   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                       AS rn
            FROM orders
        ),
        q AS (
            SELECT
                MAX(CASE WHEN rn = (s.n_total + 1) // 2
                         THEN o_totalprice END) AS p50,
                MAX(CASE WHEN rn = (9 * s.n_total + 9) // 10
                         THEN o_totalprice END) AS p90
            FROM r, s
        )
        SELECT hist.bucket, hist.n_orders, hist.price_sum, q.p50, q.p90
        FROM hist CROSS JOIN q
    """,
    operators=(23, 30, 91),
    doc="Exact quantiles (rank-based, no interpolation) + 20-bucket "
    "histogram of order prices in one audit. The quantile is computed "
    "by a TWO-PHASE distributed rank, not a global sort: phase 1 "
    "counts per bucket (tiny result, cumulated driver-free over 20 "
    "rows); phase 2 ranks WITHIN each bucket (window partitioned by "
    "bucket — parallel across buckets) and adds the broadcast "
    "cumulative offset to get the global rank. At 100 TB you raise "
    "the bucket count so each within-bucket sort fits an executor; "
    "no single-partition window ever materializes. Bucket edges and "
    "ratios are single IEEE ops, bit-equal across engines.",
)
def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.functions.stats import bucket_rank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    g, buckets = bucket_rank(
        o,
        "o_totalprice",
        "o_orderkey",
        20,
        aggs=(dsum("o_totalprice", "price_sum"),),
    )
    hist = buckets.select(
        "bucket", F.col("n_rows").alias("n_orders"), "price_sum"
    )
    r50 = F.expr("(n_total + 1) div 2")
    r90 = F.expr("(9 * n_total + 9) div 10")
    q = g.filter((F.col("grank") == r50) | (F.col("grank") == r90)).agg(
        F.max(
            F.when(F.col("grank") == r50, F.col("o_totalprice"))
        ).alias("p50"),
        F.max(
            F.when(F.col("grank") == r90, F.col("o_totalprice"))
        ).alias("p90"),
    )
    return hist.crossJoin(F.broadcast(q)).select(
        "bucket", "n_orders", "price_sum", "p50", "p90"
    )


# ---------------------------------------------------------------------------
# #109 unpivot / melt (wide -> long reshaping)
# ---------------------------------------------------------------------------


@query(
    "q_unpivot",
    oracle=f"""
        WITH wide AS (
            SELECT l_returnflag,
                   {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_f')},
                   {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_o')}
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'qty_f' AS linestatus_col, qty_f AS qty FROM wide
        UNION ALL
        SELECT l_returnflag, 'qty_o', qty_o FROM wide
    """,
    operators=(29, 109),
    doc="Unpivot/melt (#109, the inverse of #29 pivot): a wide "
    "per-flag quantity table reshaped to long form with "
    "DataFrame.unpivot — the Spark-native melt (Expand under the "
    "hood, one pass, no join). The oracle is the manual UNION ALL a "
    "SQL engine without UNPIVOT would write. NULL cells are kept "
    "(include_nulls semantics made explicit by coalescing to 0 on "
    "both sides so parity is total).",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")), "qty_f"),
        dsum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")), "qty_o"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty_f", "qty_o"],
        variableColumnName="linestatus_col",
        valueColumnName="qty",
    )


# ---------------------------------------------------------------------------
# #113 argmax / argmin aggregation (max_by / min_by)
# ---------------------------------------------------------------------------


@query(
    "q_argmax_enrichment",
    oracle="""
        WITH k AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   LPAD(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 12, '0')
                       || LPAD(CAST(o_orderkey AS VARCHAR), 10, '0') AS ord_key
            FROM orders
        )
        SELECT o_custkey,
               ARG_MAX(o_orderdate, ord_key) AS best_order_date,
               ARG_MAX(o_orderkey, ord_key)  AS best_order_key,
               ARG_MIN(o_orderkey, ord_key)  AS worst_order_key,
               MAX(o_totalprice) AS max_price,
               COUNT(*) AS n_orders
        FROM k GROUP BY o_custkey
    """,
    operators=(23, 113),
    doc="Argmax/argmin aggregation (max_by/min_by): each customer's "
    "highest- and lowest-priced order resolved in ONE grouped "
    "aggregate — no window, no self-join, map-side partial like any "
    "other agg (the window formulation costs a full sort per "
    "partition; this is the cheaper shape whenever only the extreme "
    "row is wanted). The ordering key is a zero-padded "
    "(price-cents, orderkey) string, a TOTAL order, so ties cannot "
    "make the answer engine-dependent.",
)
def q_argmax_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ord_key = F.concat(
        F.lpad(F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 12, "0"),
        F.lpad(F.col("o_orderkey").cast("string"), 10, "0"),
    )
    return o.select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice",
        ord_key.alias("ord_key"),
    ).groupBy("o_custkey").agg(
        F.max_by("o_orderdate", F.col("ord_key")).alias("best_order_date"),
        F.max_by("o_orderkey", F.col("ord_key")).alias("best_order_key"),
        F.min_by("o_orderkey", F.col("ord_key")).alias("worst_order_key"),
        F.max("o_totalprice").alias("max_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# #119 forward as-of join with tolerance
# ---------------------------------------------------------------------------


@query(
    "q_join_asof_forward",
    oracle="""
        WITH p AS (SELECT event_id AS p_id, user_id,
                          CAST(ts AS TIMESTAMP) AS p_ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, value
                   FROM events WHERE event_type = 'click'),
             k AS (
                 SELECT p.p_id, p.user_id, p.p_ts, c.c_ts, c.value,
                        LPAD(CAST(CAST(EPOCH_US(c.c_ts) AS BIGINT) AS VARCHAR),
                             20, '0') AS ord_key
                 FROM p JOIN c
                   ON p.user_id = c.user_id
                  AND c.c_ts >= p.p_ts
                  AND c.c_ts <= p.p_ts + INTERVAL 30 MINUTE
             )
        SELECT p_id, user_id,
               CAST(EPOCH_US(MIN(c_ts)) AS BIGINT) AS next_click_us,
               ARG_MIN(value, ord_key) AS next_click_value,
               COUNT(*) AS n_candidates
        FROM k GROUP BY p_id, user_id, p_ts
    """,
    operators=(19, 20, 119),
    doc="FORWARD as-of join with tolerance: each purchase matched to "
    "the FIRST click within the following 30 minutes (the backward "
    "direction is q_join_asof). Implemented as a bounded interval "
    "join + argmin per left row — the tolerance bound is what makes "
    "the join state finite, exactly like a stream-stream join "
    "watermark. The argmin ordering key is the click's zero-padded "
    "epoch-microsecond string (a total order within a user's "
    "candidates up to simultaneous clicks, whose values then tie "
    "consistently on the same key in both engines). Scale: the "
    "interval join shuffles on user_id and candidates are bounded by "
    "the tolerance window; no window-sort over the full event table.",
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        "value",
    )
    k = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    ord_key = F.lpad(F.unix_micros("c_ts").cast("string"), 20, "0")
    return (
        k.select("p_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts", "value",
                 ord_key.alias("ord_key"))
        .groupBy("p_id", "user_id", "p_ts")
        .agg(
            F.unix_micros(F.min("c_ts")).alias("next_click_us"),
            F.min_by("value", F.col("ord_key")).alias("next_click_value"),
            F.count(F.lit(1)).alias("n_candidates"),
        )
        .drop("p_ts")
    )


# ---------------------------------------------------------------------------
# #120 nested struct pipeline (build array<struct>, consume with HOFs)
# ---------------------------------------------------------------------------


@query(
    "q_nested_rollup",
    oracle=f"""
        SELECT o_orderkey,
               COUNT(*) AS n_lines,
               {sql_dsum('l_quantity', 'total_qty')},
               {sql_dsum('l_extendedprice * (1 - l_discount)', 'net_revenue')},
               CAST(MAX(l_linenumber) AS BIGINT) AS max_lineno
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey
    """,
    operators=(44, 45, 120),
    doc="Nested-data pipeline: lineitems are packed into an "
    "array<struct> per order (collect_list(struct(...)) — the "
    "document/denormalized layout pattern), then the rollup is "
    "computed FROM the nested column with higher-order functions "
    "(aggregate folds over decimal-cast fields, codegen, no "
    "re-explode, no second shuffle). The oracle computes the same "
    "numbers relationally — parity proves pack->HOF-consume loses "
    "nothing. Scale: one shuffle to nest (the write layout you would "
    "persist); every downstream per-parent metric is then "
    "shuffle-FREE — the reason document layouts win when access is "
    "parent-at-a-time. Decimal-exact folds keep the doubles "
    "bit-equal.",
)
def q_nested_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    nested = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
            ).alias("lines")
        )
    )
    fold_qty = F.expr(
        "CAST(aggregate(lines, CAST(0 AS DECIMAL(38,6)), "
        "(acc, x) -> acc + CAST(x.l_quantity AS DECIMAL(38,6))) AS DOUBLE)"
    )
    fold_rev = F.expr(
        "CAST(aggregate(lines, CAST(0 AS DECIMAL(38,6)), "
        "(acc, x) -> acc + CAST(x.l_extendedprice * (1 - x.l_discount) "
        "AS DECIMAL(38,6))) AS DOUBLE)"
    )
    return nested.select(
        "o_orderkey",
        F.size("lines").cast("bigint").alias("n_lines"),
        fold_qty.alias("total_qty"),
        fold_rev.alias("net_revenue"),
        F.expr(
            "CAST(aggregate(lines, CAST(-1 AS BIGINT), "
            "(acc, x) -> greatest(acc, CAST(x.l_linenumber AS BIGINT))) AS BIGINT)"
        ).alias("max_lineno"),
    )


@query(
    "q_approx_bounds",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               CAST(1 AS INT) AS distinct_within_5pct,
               CAST(1 AS INT) AS p50_within_2pct_rank
        FROM lineitem
        GROUP BY l_returnflag
    """,
    operators=(26,),
    doc="Accuracy contract of the approximate aggregates (#26), graded "
    "by the driver: approx_count_distinct must land within 5% of the "
    "exact distinct count, and approx p50 must sit between the exact "
    "48th and 52nd percentile ranks (the rank-error guarantee of "
    "percentile_approx at accuracy 10000). The Spark side computes "
    "sketch estimates AND exact values and emits the bound CHECKS; "
    "the oracle states the contract (flags identically 1 + the exact "
    "anchor column). This turns 'rows-only by nature' into a graded "
    "guarantee: if an engine upgrade degrades sketch accuracy past "
    "contract, the driver gate goes red — exactly what a user relying "
    "on the interactive approximate path needs pinned.",
)
def q_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    # SEPARATE aggregation passes joined on the (3-row) group key:
    # mixing COUNT(DISTINCT) with object aggregates (percentile/HLL)
    # in one Aggregate forces an Expand + SortAggregate plan that
    # measured 25x slower than the split at sf0.1 (151s -> ~6s), and
    # even approx_count_distinct alongside countDistinct pays the
    # Expand (9.3s fused vs 1.9s + 1.8s split at sf0.1) because the
    # rsd=0.01 register array rides every expanded row.
    approx_counts = li.groupBy("l_returnflag").agg(
        # rsd=0.01: the 5% contract then holds with 5-sigma margin —
        # the default 0.05 rsd is a 1-sigma bound and DOES breach 5%.
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )
    exact_counts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    counts = approx_counts.join(exact_counts, "l_returnflag")
    approx = li.groupBy("l_returnflag").agg(
        F.element_at(
            F.percentile_approx("l_extendedprice", [0.5], 10000), 1
        ).alias("p50_approx"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    # Exact rank bounds via histogram + running count, not
    # percentile()'s object aggregate: the object agg buffers every
    # group value in ONE in-memory array (OOM-shaped at scale). Here a
    # partial-aggregated groupBy first shrinks rows to |distinct
    # prices| — map-side combined, so the shuffle and the window sort
    # scale with value cardinality, not row count — and the rank-r
    # value is min{v : cum(v) >= r}, a conditional min. The rank
    # guarantee of percentile_approx at accuracy 10000 (±n/10000) sits
    # comfortably inside the discrete [ceil(.48n), floor(.52n)]
    # bracket, so the contract flags are exact.
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "l_returnflag", "l_extendedprice", F.sum("c").over(w).alias("cum")
    )
    pcts = (
        cum.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag", "p50_approx")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(0.48 * F.col("n_rows")),
                    F.col("l_extendedprice"),
                )
            ).alias("p48"),
            F.min(
                F.when(
                    F.col("cum") >= F.floor(0.52 * F.col("n_rows")),
                    F.col("l_extendedprice"),
                )
            ).alias("p52"),
        )
    )
    g = counts.join(pcts, "l_returnflag")
    return g.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
            < 0.05
        )
        .cast("int")
        .alias("distinct_within_5pct"),
        (
            (F.col("p50_approx") >= F.col("p48"))
            & (F.col("p50_approx") <= F.col("p52"))
        )
        .cast("int")
        .alias("p50_within_2pct_rank"),
    )
