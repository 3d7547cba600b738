"""Round-9 wave 10 — SURVEY.md §2.28 (#469–#474).

Inventory economics and survey-design closure: the newsvendor
critical-fractile stocking election (the ur-problem of inventory
theory, solved entirely in integers), Lorenz-curve decile coordinates
(the curve behind #252's Gini scalar), Hoover + Palma inequality
indices (the policy-facing complements to Gini/Theil #445), a binned
Pareto tail MLE on top-5% order values (the power-law companion to
Gumbel #452's block maxima), ANOVA effect sizes eta²/omega² (the
variance-explained reading of #307), and the Kish design effect with
intraclass correlation (what clustering does to effective sample
size — the survey-sampling constant behind every #287 allocation).

Parity disciplines reused from the repo:

- Row-scale ranks (Lorenz deciles, the Pareto threshold) go through
  functions/ranks.bucketed_row_number — no single-partition sort —
  and NTILE is the closed-form integer function of (rn, n).
- Expected newsvendor costs are PURE INTEGER sums over the demand
  census; effect sizes and deff are 1-row IEEE trees over integer
  moments (y² in div/mod-1e9 limbs).
- The Pareto MLE's ln terms collapse onto 500-dollar value bins
  (domain-bounded cells) before any libm call, 1e-12-quantized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.functions.ranks import bucketed_row_number, ntile_from_rn
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #469 newsvendor — critical-fractile stocking with integer cost audit
# ---------------------------------------------------------------------------

_NV_CU = 3  # underage cost (lost margin per unmet unit)
_NV_CO = 1  # overage cost (holding per excess unit)


@query(
    "q_newsvendor",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS dem
            FROM orders GROUP BY 1
        ),
        census AS (
            SELECT dem, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM daily GROUP BY dem
        ),
        cum AS (
            SELECT dem, cnt,
                   SUM(cnt) OVER (ORDER BY dem) AS c,
                   SUM(cnt) OVER () AS n
            FROM census
        ),
        qstar AS (
            SELECT MIN(dem) AS q FROM cum
            WHERE c * ({_NV_CU} + {_NV_CO}) >= n * {_NV_CU}
        ),
        grid AS (
            SELECT UNNEST([
                (SELECT (q * 9) // 10 FROM qstar),
                (SELECT q FROM qstar),
                (SELECT (q * 11 + 9) // 10 FROM qstar)
            ]) AS q
        ),
        costs AS (
            SELECT g.q,
                   CAST(SUM(c.cnt * ({_NV_CU} * GREATEST(c.dem - g.q, 0)
                            + {_NV_CO} * GREATEST(g.q - c.dem, 0)))
                        AS BIGINT) AS total_cost,
                   CAST(SUM(c.cnt * LEAST(c.dem, g.q)) AS BIGINT) AS served,
                   CAST(SUM(c.cnt * c.dem) AS BIGINT) AS demand
            FROM grid g CROSS JOIN census c
            GROUP BY g.q
        )
        SELECT q AS stock_level, total_cost,
               ROUND(CAST(served AS DOUBLE) / demand, 9) AS fill_rate
        FROM costs ORDER BY q
    """,
    operators=(24, 30, 469),
    doc=f"Newsvendor stocking election (#469): the critical fractile "
    f"cu/(cu+co) = {_NV_CU}/{_NV_CU + _NV_CO} of the daily-demand "
    "distribution picks the optimal stock q* (the ur-result of "
    "inventory theory: the optimal quantile is a COST RATIO, not a "
    "forecast), graded with the exact expected cost and fill rate "
    "at q* and ±10% — the audit that shows the cost curve is flat "
    "near the optimum but asymmetric away from it. Parity: the "
    "quantile election is an integer cross-multiplication "
    "(c·(cu+co) ≥ n·cu — no division), costs and served units are "
    "PURE INTEGER sums over the bounded demand-value census, and "
    "the only double is the final fill-rate division. Scale: one "
    "day rollup → value census; the grid is a 3-row broadcast.",
    bench=False,
)
def q_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("dem"))
    )
    census = daily.groupBy("dem").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint()
    w = Window.orderBy("dem").rowsBetween(Window.unboundedPreceding, 0)
    n = census.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = census.crossJoin(F.broadcast(n)).select(
        "dem", "cnt", F.sum("cnt").over(w).alias("c"), "n"
    )
    qstar = cum.filter(
        F.col("c") * (_NV_CU + _NV_CO) >= F.col("n") * _NV_CU
    ).agg(F.min("dem").alias("q"))
    grid = qstar.select(
        F.explode(
            F.array(
                F.expr("(q * 9) div 10"),
                F.col("q"),
                F.expr("(q * 11 + 9) div 10"),
            )
        ).alias("q")
    )
    costs = (
        census.crossJoin(F.broadcast(grid))
        .groupBy("q")
        .agg(
            F.sum(
                F.col("cnt")
                * (
                    _NV_CU * F.greatest(F.col("dem") - F.col("q"), F.lit(0).cast("bigint"))
                    + _NV_CO * F.greatest(F.col("q") - F.col("dem"), F.lit(0).cast("bigint"))
                )
            )
            .cast("bigint")
            .alias("total_cost"),
            F.sum(F.col("cnt") * F.least(F.col("dem"), F.col("q")))
            .cast("bigint")
            .alias("served"),
            F.sum(F.col("cnt") * F.col("dem")).cast("bigint").alias("demand"),
        )
    )
    return costs.select(
        F.col("q").alias("stock_level"),
        "total_cost",
        F.round(F.col("served").cast("double") / F.col("demand"), 9).alias(
            "fill_rate"
        ),
    ).orderBy("stock_level")


# ---------------------------------------------------------------------------
# #470 lorenz_points — decile Lorenz coordinates of order revenue
# ---------------------------------------------------------------------------


@query(
    "q_lorenz_points",
    oracle="""
        WITH v AS (
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        tiled AS (
            SELECT cents,
                   NTILE(10) OVER (ORDER BY cents, o_orderkey) AS tile
            FROM v
        ),
        deciles AS (
            SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS rev
            FROM tiled GROUP BY tile
        ),
        cum AS (
            SELECT tile, n_orders, rev,
                   SUM(rev) OVER (ORDER BY tile) AS crev,
                   SUM(rev) OVER () AS trev,
                   SUM(n_orders) OVER (ORDER BY tile) AS cn,
                   SUM(n_orders) OVER () AS tn
            FROM deciles
        )
        SELECT tile,
               n_orders,
               rev AS revenue_cents,
               ROUND(CAST(cn AS DOUBLE) / tn, 12) AS pop_share,
               ROUND(CAST(crev AS DOUBLE) / trev, 12) AS cum_revenue_share
        FROM cum ORDER BY tile
    """,
    operators=(23, 30, 252, 470),
    doc="Lorenz-curve decile coordinates (#470) of order revenue: "
    "orders ranked ascending by value, cut into SQL-standard "
    "deciles, cumulative revenue share per decile — the CURVE whose "
    "area defect Gini (#252) collapses to one number; the decile "
    "table is what a concentration review actually reads ('the "
    "bottom half of orders carries 18% of revenue'). Parity: cents "
    "are exact integers; the Spark rank is bucket-decomposed "
    "(functions/ranks.py — floor(cents/1e5) bucket census + "
    "broadcast offsets + per-bucket windows, no single-partition "
    "sort) with NTILE recovered by the closed-form integer function "
    "of (rn, n), matching the oracle's NTILE(10) exactly; shares "
    "are ROUND(12)-pinned divisions of exact integers. Scale: the "
    "decile census is 10 rows; all windows beyond the bucketed "
    "local ranks are on bounded frames.",
    bench=False,
)
def q_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    ranked = bucketed_row_number(
        v.withColumn("bkt", F.expr("cents div 100000")),
        "bkt",
        ["cents", "o_orderkey"],
        "rn",
    )
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tiled = ranked.crossJoin(F.broadcast(n)).select(
        "cents", ntile_from_rn("rn", "n", 10).alias("tile")
    )
    deciles = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("rev"),
    )
    wt = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("tile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = deciles.select(
        "tile",
        "n_orders",
        "rev",
        F.sum("rev").over(wt).alias("crev"),
        F.sum("rev").over(wall).alias("trev"),
        F.sum("n_orders").over(wt).alias("cn"),
        F.sum("n_orders").over(wall).alias("tn"),
    )
    return cum.select(
        "tile",
        "n_orders",
        F.col("rev").alias("revenue_cents"),
        F.round(F.col("cn").cast("double") / F.col("tn"), 12).alias("pop_share"),
        F.round(F.col("crev").cast("double") / F.col("trev"), 12).alias(
            "cum_revenue_share"
        ),
    ).orderBy("tile")


# ---------------------------------------------------------------------------
# #471 hoover_palma — policy-grade inequality indices
# ---------------------------------------------------------------------------


@query(
    "q_hoover_palma",
    oracle="""
        WITH cells AS (
            SELECT c.c_nationkey AS g,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(x) AS BIGINT) AS xt,
                       CAST(COUNT(*) AS BIGINT) AS k
                FROM cells),
        hoover AS (
            SELECT CAST(SUM(CAST(FLOOR(ABS(CAST(x AS DOUBLE) / xt
                                           - 1.0 / k) * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(38,12))) AS DOUBLE) / 2 AS h
            FROM cells, tot
        ),
        v AS (
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        tiled AS (
            SELECT cents,
                   NTILE(10) OVER (ORDER BY cents, o_orderkey) AS tile
            FROM v
        ),
        shares AS (
            SELECT CAST(SUM(CASE WHEN tile = 10 THEN cents ELSE 0 END)
                        AS BIGINT) AS top10,
                   CAST(SUM(CASE WHEN tile <= 4 THEN cents ELSE 0 END)
                        AS BIGINT) AS bot40
            FROM tiled
        )
        SELECT t.k AS n_nations,
               ROUND(h.h, 9) AS hoover_index,
               s.top10 AS top10_cents,
               s.bot40 AS bot40_cents,
               ROUND(CAST(s.top10 AS DOUBLE) / s.bot40, 9) AS palma_ratio
        FROM hoover h, shares s, tot t
    """,
    operators=(23, 30, 252, 471),
    doc="Hoover + Palma inequality (#471): the Hoover (Robin Hood) "
    "index — the share of revenue that would have to MOVE between "
    "nations to equalize, the max vertical Lorenz gap — and the "
    "Palma ratio top-10%/bottom-40% of order values, the index "
    "built on the observation that middle deciles are stable so "
    "ALL the inequality action is in the tails (what Gini #252 "
    "averages away). Parity: Hoover's ≤25 cell terms quantize "
    "through the 1e-12 grid + DECIMAL; Palma's decile cut reuses "
    "the #470 NTILE discipline (bucket-decomposed rank on the "
    "Spark side) and both tail sums are exact integers. Scale: "
    "one nation rollup + the #470 decile machinery.",
    bench=False,
)
def q_hoover_palma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("g"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    tot = cells.agg(
        F.sum("x").cast("bigint").alias("xt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    hoover = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            (
                F.floor(
                    F.abs(
                        F.col("x").cast("double") / F.col("xt")
                        - 1.0 / F.col("k")
                    )
                    * 1e12
                    + 0.5
                )
                / 1e12
            )
            .cast("decimal(38,12)")
            .alias("term")
        )
        .agg((F.sum("term").cast("double") / 2).alias("h"))
    )
    v = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    ranked = bucketed_row_number(
        v.withColumn("bkt", F.expr("cents div 100000")),
        "bkt",
        ["cents", "o_orderkey"],
        "rn",
    )
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tiled = ranked.crossJoin(F.broadcast(n)).select(
        "cents", ntile_from_rn("rn", "n", 10).alias("tile")
    )
    shares = tiled.agg(
        F.sum(F.when(F.col("tile") == 10, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("top10"),
        F.sum(F.when(F.col("tile") <= 4, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("bot40"),
    )
    return (
        hoover.crossJoin(F.broadcast(shares))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("n_nations"),
            F.round(F.col("h"), 9).alias("hoover_index"),
            F.col("top10").alias("top10_cents"),
            F.col("bot40").alias("bot40_cents"),
            F.round(F.col("top10").cast("double") / F.col("bot40"), 9).alias(
                "palma_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# #472 pareto_tail — binned MLE on top-5% order values
# ---------------------------------------------------------------------------

_PT_BIN = 500  # dollars per tail bin


@query(
    "q_pareto_tail",
    oracle=f"""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders
        ),
        census AS (
            SELECT x // {_PT_BIN} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM v GROUP BY 1
        ),
        cum AS (
            SELECT b, cnt,
                   SUM(cnt) OVER (ORDER BY b) AS c,
                   SUM(cnt) OVER () AS n
            FROM census
        ),
        thr AS (
            SELECT MIN(b) AS bm, MAX(n) AS n FROM cum WHERE c * 20 >= n * 19
        ),
        tail AS (
            SELECT c.b, c.cnt, t.bm, t.n
            FROM census c, thr t
            WHERE c.b > t.bm
        ),
        fit AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_tail,
                   CAST(MAX(bm) AS BIGINT) AS bm,
                   CAST(MAX(n) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR(cnt * LN(
                       (CAST(b AS DOUBLE) + 0.5)
                       / (CAST(bm AS DOUBLE) + 0.5))
                       * 1e12 + 0.5) / 1e12 AS DECIMAL(38,12))) AS DOUBLE)
                       AS slog
            FROM tail
        )
        SELECT n AS n_orders,
               n_tail,
               CAST((bm + 1) * {_PT_BIN} AS BIGINT) AS tail_floor_dollars,
               ROUND(1 + CAST(n_tail AS DOUBLE) / slog, 9) AS alpha,
               ROUND(CAST(n_tail AS DOUBLE) / n, 9) AS tail_fraction
        FROM fit
    """,
    operators=(24, 43, 472),
    doc=f"Binned Pareto tail MLE (#472) on top-5% order values: bin "
    f"dollars into {_PT_BIN}-wide cells, elect the 95th-percentile "
    "bin by integer cross-multiplication, and fit α = 1 + "
    "n/Σln(bᵢ/b_m) over bin midpoints — the heavy-tail exponent of "
    "the VALUE distribution, completing the extreme-value pair "
    "(#452's Gumbel asks about the worst BLOCK; Pareto asks how "
    "fast the tail itself decays, the difference between 'plan for "
    "2× the mean' and 'plan for 20×'). Parity: the census and "
    "threshold election are pure integers; the ln terms collapse "
    "onto DOMAIN-BOUNDED bins (≤ value-range/{_PT_BIN} cells, not "
    "corpus-scale rows) before any libm call, each quantized "
    "through the 1e-12 grid + DECIMAL sum. Scale: one scan to a "
    "few-hundred-cell census; everything after is cell algebra.",
    bench=False,
)
def q_pareto_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x")
    )
    census = v.groupBy(F.expr(f"x div {_PT_BIN}").alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint()
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    n = census.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = census.crossJoin(F.broadcast(n)).select(
        "b", "cnt", F.sum("cnt").over(w).alias("c"), "n"
    )
    thr = cum.filter(F.col("c") * 20 >= F.col("n") * 19).agg(
        F.min("b").alias("bm"), F.max("n").alias("n")
    )
    tail = census.crossJoin(F.broadcast(thr)).filter(F.col("b") > F.col("bm"))
    fit = tail.agg(
        F.sum("cnt").cast("bigint").alias("n_tail"),
        F.max("bm").cast("bigint").alias("bm"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            (
                F.floor(
                    F.col("cnt")
                    * F.log(
                        (F.col("b").cast("double") + 0.5)
                        / (F.col("bm").cast("double") + 0.5)
                    )
                    * 1e12
                    + 0.5
                )
                / 1e12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("slog"),
    )
    return fit.select(
        F.col("n").alias("n_orders"),
        "n_tail",
        ((F.col("bm") + 1) * _PT_BIN).cast("bigint").alias("tail_floor_dollars"),
        F.round(1 + F.col("n_tail").cast("double") / F.col("slog"), 9).alias(
            "alpha"
        ),
        F.round(F.col("n_tail").cast("double") / F.col("n"), 9).alias(
            "tail_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# #473 variance_explained — eta² / omega² for revenue by nation
# ---------------------------------------------------------------------------


@query(
    "q_variance_explained",
    oracle="""
        WITH v AS (
            SELECT c.c_nationkey AS g,
                   CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        cells AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(x) AS BIGINT) AS s_i
            FROM v GROUP BY g
        ),
        gmo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM((x * x) // 1000000000) AS BIGINT) AS qh,
                   CAST(SUM((x * x) % 1000000000) AS BIGINT) AS ql,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS k
            FROM v
        ),
        ssb AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       CAST(c.s_i AS DOUBLE) * c.s_i / c.n_i + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) AS sb
            FROM cells c
        )
        SELECT g.k AS n_groups,
               g.n AS n_orders,
               ROUND((ssb.sb - CAST(g.s AS DOUBLE) * g.s / g.n)
                     / ((CAST(g.qh AS DOUBLE) * 1e9 + g.ql)
                        - CAST(g.s AS DOUBLE) * g.s / g.n), 9) AS eta_sq,
               ROUND(((ssb.sb - CAST(g.s AS DOUBLE) * g.s / g.n)
                      - (g.k - 1)
                        * (((CAST(g.qh AS DOUBLE) * 1e9 + g.ql) - ssb.sb)
                           / (g.n - g.k)))
                     / (((CAST(g.qh AS DOUBLE) * 1e9 + g.ql)
                         - CAST(g.s AS DOUBLE) * g.s / g.n)
                        + ((CAST(g.qh AS DOUBLE) * 1e9 + g.ql) - ssb.sb)
                          / (g.n - g.k)), 9) AS omega_sq
        FROM gmo g, ssb
    """,
    operators=(23, 24, 307, 473),
    doc="ANOVA effect sizes (#473): η² = SSB/SST and the "
    "bias-corrected ω² for order value by customer nation — the "
    "VARIANCE-EXPLAINED reading of #307's F-test ('significant' at "
    "2M rows can mean η² = 0.001; these are the numbers that say "
    "whether nation MATTERS), the k-group analogue of #422's "
    "Cohen's d. Parity: global moments are exact BIGINTs (x² "
    "limbs); the between-groups sum Σsᵢ²/nᵢ quantizes per-cell to "
    "whole units through DECIMAL(38,0) (the #448 coarse-grid "
    "discipline — cell magnitudes outgrow fine grids); both ratios "
    "are single IEEE trees. Scale: one star join to 25 cells + "
    "one global aggregate.",
    bench=False,
)
def q_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    v = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_nationkey").alias("g"),
        F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x"),
    )
    cells = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("x").cast("bigint").alias("s_i"),
    )
    glob = v.select("g", "x", (F.col("x") * F.col("x")).alias("x2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.expr("x2 div 1000000000")).cast("bigint").alias("qh"),
        F.sum(F.expr("x2 % 1000000000")).cast("bigint").alias("ql"),
        F.countDistinct("g").cast("bigint").alias("k"),
    )
    ssb = cells.agg(
        F.sum(
            F.floor(
                F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i") + 0.5
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sb")
    )
    sst = (F.col("qh").cast("double") * 1e9 + F.col("ql")) - F.col(
        "s"
    ).cast("double") * F.col("s") / F.col("n")
    ssb_c = F.col("sb") - F.col("s").cast("double") * F.col("s") / F.col("n")
    msw = (
        (F.col("qh").cast("double") * 1e9 + F.col("ql")) - F.col("sb")
    ) / (F.col("n") - F.col("k"))
    return glob.crossJoin(F.broadcast(ssb)).select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_orders"),
        F.round(ssb_c / sst, 9).alias("eta_sq"),
        F.round(
            (ssb_c - (F.col("k") - 1) * msw) / (sst + msw), 9
        ).alias("omega_sq"),
    )


# ---------------------------------------------------------------------------
# #474 design_effect — Kish deff + intraclass correlation
# ---------------------------------------------------------------------------


@query(
    "q_design_effect",
    oracle="""
        WITH v AS (
            SELECT c.c_nationkey AS g,
                   CAST(FLOOR(o.o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        cells AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(x) AS BIGINT) AS s_i
            FROM v GROUP BY g
        ),
        gmo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM((x * x) // 1000000000) AS BIGINT) AS qh,
                   CAST(SUM((x * x) % 1000000000) AS BIGINT) AS ql,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS k
            FROM v
        ),
        cellsum AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       CAST(s_i AS DOUBLE) * s_i / n_i + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) AS sb,
                   CAST(SUM(n_i * n_i) AS BIGINT) AS sn2
            FROM cells
        ),
        par AS (
            SELECT g.n, g.k,
                   (cs.sb - CAST(g.s AS DOUBLE) * g.s / g.n) / (g.k - 1) AS msb,
                   ((CAST(g.qh AS DOUBLE) * 1e9 + g.ql) - cs.sb)
                       / (g.n - g.k) AS msw,
                   (CAST(g.n AS DOUBLE) - CAST(cs.sn2 AS DOUBLE) / g.n)
                       / (g.k - 1) AS n0
            FROM gmo g, cellsum cs
        )
        SELECT k AS n_clusters,
               n AS n_orders,
               ROUND(n0, 9) AS adj_cluster_size,
               ROUND((msb - msw) / (msb + (n0 - 1) * msw), 9) AS icc,
               ROUND(1 + (CAST(n AS DOUBLE) / k - 1)
                     * ((msb - msw) / (msb + (n0 - 1) * msw)), 9) AS deff,
               ROUND(CAST(n AS DOUBLE)
                     / (1 + (CAST(n AS DOUBLE) / k - 1)
                        * ((msb - msw) / (msb + (n0 - 1) * msw))), 3)
                   AS effective_n
        FROM par
    """,
    operators=(23, 24, 474),
    doc="Kish design effect (#474): the one-way-ANOVA intraclass "
    "correlation (MSB−MSW)/(MSB+(n₀−1)MSW) of order values within "
    "customer nations, and deff = 1 + (b̄−1)·ICC with the effective "
    "sample size n/deff — what CLUSTERING costs a sample: 2M orders "
    "drawn through 25 correlated nations can carry the information "
    "of far fewer independent ones, the constant every #287 "
    "allocation and #147 test silently divides by. Parity: all "
    "moments exact BIGINTs (x² limbs, Σnᵢ² exact); Σsᵢ²/nᵢ "
    "quantizes per-cell to whole units through DECIMAL(38,0); "
    "ICC/deff are single IEEE trees. Scale: one star join to 25 "
    "cells + one global aggregate.",
    bench=False,
)
def q_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    v = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_nationkey").alias("g"),
        F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x"),
    )
    cells = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("x").cast("bigint").alias("s_i"),
    )
    glob = v.select("x", (F.col("x") * F.col("x")).alias("x2"), "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.expr("x2 div 1000000000")).cast("bigint").alias("qh"),
        F.sum(F.expr("x2 % 1000000000")).cast("bigint").alias("ql"),
        F.countDistinct("g").cast("bigint").alias("k"),
    )
    cellsum = cells.agg(
        F.sum(
            F.floor(
                F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i") + 0.5
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sb"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("bigint").alias("sn2"),
    )
    msb = (
        F.col("sb") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("k") - 1)
    msw = (
        (F.col("qh").cast("double") * 1e9 + F.col("ql")) - F.col("sb")
    ) / (F.col("n") - F.col("k"))
    n0 = (
        F.col("n").cast("double") - F.col("sn2").cast("double") / F.col("n")
    ) / (F.col("k") - 1)
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    deff = 1 + (F.col("n").cast("double") / F.col("k") - 1) * icc
    return glob.crossJoin(F.broadcast(cellsum)).select(
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_orders"),
        F.round(n0, 9).alias("adj_cluster_size"),
        F.round(icc, 9).alias("icc"),
        F.round(deff, 9).alias("deff"),
        F.round(F.col("n").cast("double") / deff, 3).alias("effective_n"),
    )
