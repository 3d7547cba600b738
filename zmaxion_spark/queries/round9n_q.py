"""Round-9 wave 14 — SURVEY.md §2.28 (#487–#489).

Streaming estimation and dependence structure: ordinary least squares
maintained as STREAMING STATE (the #220/#433/#463 sketches-as-state
discipline applied to MODEL FITTING — regression moments are
mergeable monotone sums, so a stream fits the exact batch line), the
empirical copula quintile grid between order value and basket size
(the dependence STRUCTURE a correlation scalar #158/#348 integrates
away — tail dependence lives in the corner cells), and the Western
Electric run rules on the daily revenue control chart (the
pattern-based SPC alarms beside the single-point charts #92/#344 —
runs and drifts that never cross 3σ still signal).

Parity disciplines reused from the repo:

- Streaming OLS moments are positive-term BIGINT sums (t·v and t² in
  div/mod-1e9 limbs) — monotone per key, so the update-mode sink's
  max row IS the final state and equals the batch aggregate exactly;
  the fitted line is one IEEE tree over bit-identical integers.
- Copula ranks go through functions/ranks.bucketed_row_number with
  closed-form NTILE (the #470 discipline).
- Run-rule indicators are exact integer comparisons on shared
  z-score doubles; window counts run on the bounded day census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.functions.ranks import bucketed_row_number, ntile_from_rn
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #487 stream_regression — exact OLS as streaming state
# ---------------------------------------------------------------------------

_SR_EPOCH = 1704067200  # 2024-01-01 UTC, the event stream's origin


@query(
    "q_stream_regression",
    oracle=f"""
        WITH v AS (
            SELECT CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT)
                       - {_SR_EPOCH} AS t,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
            FROM events
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM((t * t) // 1000000000) AS BIGINT) AS stth,
                   CAST(SUM((t * t) % 1000000000) AS BIGINT) AS sttl,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM((t * x) // 1000000000) AS BIGINT) AS stxh,
                   CAST(SUM((t * x) % 1000000000) AS BIGINT) AS stxl
            FROM v
        )
        SELECT n,
               ROUND((CAST(n AS DOUBLE)
                      * (CAST(stxh AS DOUBLE) * 1e9 + stxl)
                      - CAST(st AS DOUBLE) * sx)
                     / (CAST(n AS DOUBLE)
                        * (CAST(stth AS DOUBLE) * 1e9 + sttl)
                        - CAST(st AS DOUBLE) * st) * 1e9, 9)
                   AS slope_cents_per_gigasec,
               ROUND((CAST(sx AS DOUBLE)
                      - (CAST(n AS DOUBLE)
                         * (CAST(stxh AS DOUBLE) * 1e9 + stxl)
                         - CAST(st AS DOUBLE) * sx)
                        / (CAST(n AS DOUBLE)
                           * (CAST(stth AS DOUBLE) * 1e9 + sttl)
                           - CAST(st AS DOUBLE) * st) * st) / n, 9)
                   AS intercept_cents,
               ROUND(CAST(sx AS DOUBLE) / n, 9) AS mean_cents
        FROM mo
    """,
    operators=(24, 53, 158, 487),
    doc="OLS as STREAMING STATE (#487): the five regression moments "
    "(n, Σt, Σt², Σx, Σtx) fold per micro-batch through an "
    "update-mode streaming aggregate — sums of non-negative integer "
    "terms are MONOTONE, so the sink's max row is the final state "
    "and the streamed fit equals the batch line BIT-EXACTLY (graded "
    "against a pure batch oracle; the #433/#463 sketches-as-state "
    "discipline applied to model fitting, and what 'online "
    "regression' means when the sufficient statistics are "
    "mergeable). Parity: t is seconds from the stream's fixed "
    "origin, x integer cents; t² and t·x carried as div/mod-1e9 "
    "BIGINT limb pairs (exact through ~sf100); slope/intercept one "
    "IEEE tree over bit-identical integers. Scale: state is FIVE "
    "numbers — the minimal mergeable model; shards and restarts "
    "for free.",
    bench=False,
)
def q_stream_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.pipeline import run_available_now
    from zmaxion_spark.streaming.sources import stream_events

    ev = stream_events(spark, sf_dir).select(
        (F.unix_timestamp(F.col("ts").cast("timestamp")) - _SR_EPOCH).alias("t"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("x"),
    ).select(
        "t",
        "x",
        (F.col("t") * F.col("t")).alias("t2"),
        (F.col("t") * F.col("x")).alias("tx"),
    )
    agg = ev.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.expr("t2 div 1000000000")).cast("bigint").alias("stth"),
        F.sum(F.expr("t2 % 1000000000")).cast("bigint").alias("sttl"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("tx div 1000000000")).cast("bigint").alias("stxh"),
        F.sum(F.expr("tx % 1000000000")).cast("bigint").alias("stxl"),
    )
    sink = run_available_now(agg, "sreg", mode="update")
    mo = sink.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("st").cast("bigint").alias("st"),
        F.max("stth").cast("bigint").alias("stth"),
        F.max("sttl").cast("bigint").alias("sttl"),
        F.max("sx").cast("bigint").alias("sx"),
        F.max("stxh").cast("bigint").alias("stxh"),
        F.max("stxl").cast("bigint").alias("stxl"),
    )
    stt = F.col("stth").cast("double") * 1e9 + F.col("sttl")
    stx = F.col("stxh").cast("double") * 1e9 + F.col("stxl")
    b = (
        F.col("n").cast("double") * stx
        - F.col("st").cast("double") * F.col("sx")
    ) / (
        F.col("n").cast("double") * stt
        - F.col("st").cast("double") * F.col("st")
    )
    return mo.select(
        "n",
        F.round(b * 1e9, 9).alias("slope_cents_per_gigasec"),
        F.round(
            (F.col("sx").cast("double") - b * F.col("st")) / F.col("n"), 9
        ).alias("intercept_cents"),
        F.round(F.col("sx").cast("double") / F.col("n"), 9).alias("mean_cents"),
    )


# ---------------------------------------------------------------------------
# #488 empirical_copula — quintile dependence grid
# ---------------------------------------------------------------------------


@query(
    "q_empirical_copula",
    oracle="""
        WITH base AS (
            SELECT o.o_orderkey,
                   CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS x,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_totalprice
        ),
        rx AS (
            SELECT o_orderkey, y,
                   NTILE(5) OVER (ORDER BY x, o_orderkey) AS ux
            FROM base
        ),
        ry AS (
            SELECT o_orderkey,
                   NTILE(5) OVER (ORDER BY y, o_orderkey) AS uy
            FROM rx
        ),
        grid AS (
            SELECT rx.ux, ry.uy, CAST(COUNT(*) AS BIGINT) AS c
            FROM rx JOIN ry ON ry.o_orderkey = rx.o_orderkey
            GROUP BY rx.ux, ry.uy
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid),
        chi AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       (CAST(c AS DOUBLE) - CAST(t.n AS DOUBLE) / 25)
                       * (CAST(c AS DOUBLE) - CAST(t.n AS DOUBLE) / 25)
                       / (CAST(t.n AS DOUBLE) / 25) * 1e9 + 0.5) / 1e9
                       AS DECIMAL(38,9))) AS DOUBLE) AS x2
            FROM grid, tot t
        )
        SELECT g.ux, g.uy, g.c,
               ROUND(CAST(g.c AS DOUBLE) / (CAST(t.n AS DOUBLE) / 25), 9)
                   AS density_ratio,
               ROUND(ch.x2, 9) AS copula_chi2
        FROM grid g CROSS JOIN tot t CROSS JOIN chi ch
        ORDER BY g.ux, g.uy
    """,
    operators=(13, 23, 30, 488),
    doc="Empirical copula quintile grid (#488) between order value "
    "and basket size: rank both margins to uniform quintiles and "
    "census the 25 joint cells against the independence expectation "
    "n/25 — the dependence STRUCTURE a correlation scalar "
    "(#158/#348/#349) integrates away (tail dependence is the "
    "corner cells; a V-shaped relationship scores 0 correlation but "
    "lights the grid), with the copula chi² as the graded summary. "
    "Parity: both rank passes are total orders with the order key "
    "as tiebreak (oracle NTILE(5); Spark bucket-decomposed rank + "
    "closed-form NTILE, the #470 discipline); cells are exact "
    "integers, density ratios single divisions, chi² terms "
    "1e-9-quantized through DECIMAL. Scale: one join-rollup to "
    "order grain, two rank passes, 25-cell algebra.",
    bench=False,
)
def q_empirical_copula(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            orders.o_orderkey,
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .select(F.col("o_orderkey").alias("k"), "x", "y")
        .localCheckpoint()
    )
    n = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rx = bucketed_row_number(
        base.withColumn("bkt", F.expr("x div 100000")),
        "bkt",
        ["x", "k"],
        "rnx",
    ).drop("bkt")
    rx = rx.crossJoin(F.broadcast(n)).select(
        "k", "y", ntile_from_rn("rnx", "n", 5).alias("ux")
    )
    ry = bucketed_row_number(
        rx.withColumn("bkt", F.col("y")), "bkt", ["y", "k"], "rny"
    ).drop("bkt")
    ry = ry.crossJoin(F.broadcast(n)).select(
        "k", "ux", ntile_from_rn("rny", "n", 5).alias("uy")
    )
    grid = ry.groupBy("ux", "uy").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint()
    tot = grid.agg(F.sum("c").cast("bigint").alias("n"))
    exp_ = F.col("n").cast("double") / 25
    chi = (
        grid.crossJoin(F.broadcast(tot))
        .select(
            (
                F.floor(
                    (F.col("c").cast("double") - exp_)
                    * (F.col("c").cast("double") - exp_)
                    / exp_
                    * 1e9
                    + 0.5
                )
                / 1e9
            )
            .cast("decimal(38,9)")
            .alias("term")
        )
        .agg(F.sum("term").cast("double").alias("x2"))
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(chi))
        .select(
            "ux",
            "uy",
            "c",
            F.round(F.col("c").cast("double") / exp_, 9).alias("density_ratio"),
            F.round(F.col("x2"), 9).alias("copula_chi2"),
        )
        .orderBy("ux", "uy")
    )


# ---------------------------------------------------------------------------
# #489 western_electric — run-rule alarms on the revenue control chart
# ---------------------------------------------------------------------------


@query(
    "q_western_electric",
    oracle="""
        WITH daily AS (
            SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS d,
                   CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM((y * y) // 1000000000) AS BIGINT) AS syyh,
                   CAST(SUM((y * y) % 1000000000) AS BIGINT) AS syyl
            FROM daily
        ),
        par AS (
            SELECT CAST(sy AS DOUBLE) / n AS m,
                   SQRT(((CAST(syyh AS DOUBLE) * 1e9 + CAST(syyl AS DOUBLE))
                         - CAST(sy AS DOUBLE) * sy / n) / (n - 1)) AS s
            FROM mo
        ),
        z AS (
            SELECT d.d,
                   (CAST(d.y AS DOUBLE) - p.m) / p.s AS z
            FROM daily d, par p
        ),
        ind AS (
            SELECT d, z,
                   CASE WHEN ABS(z) > 3 THEN 1 ELSE 0 END AS r1,
                   CASE WHEN z > 2 THEN 1 ELSE 0 END AS hi2,
                   CASE WHEN z < -2 THEN 1 ELSE 0 END AS lo2,
                   CASE WHEN z > 1 THEN 1 ELSE 0 END AS hi1,
                   CASE WHEN z < -1 THEN 1 ELSE 0 END AS lo1,
                   CASE WHEN z > 0 THEN 1 ELSE 0 END AS hi0,
                   CASE WHEN z < 0 THEN 1 ELSE 0 END AS lo0
            FROM z
        ),
        runs AS (
            SELECT d, r1,
                   CASE WHEN SUM(hi2) OVER w3 >= 2
                         OR SUM(lo2) OVER w3 >= 2 THEN 1 ELSE 0 END AS r2,
                   CASE WHEN SUM(hi1) OVER w5 >= 4
                         OR SUM(lo1) OVER w5 >= 4 THEN 1 ELSE 0 END AS r3,
                   CASE WHEN SUM(hi0) OVER w8 = 8
                         OR SUM(lo0) OVER w8 = 8 THEN 1 ELSE 0 END AS r4,
                   ROW_NUMBER() OVER (ORDER BY d) AS rn
            FROM ind
            WINDOW w3 AS (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   w5 AS (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                   w8 AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        ),
        guarded AS (
            SELECT d, r1,
                   CASE WHEN rn >= 3 THEN r2 ELSE 0 END AS r2,
                   CASE WHEN rn >= 5 THEN r3 ELSE 0 END AS r3,
                   CASE WHEN rn >= 8 THEN r4 ELSE 0 END AS r4
            FROM runs
        )
        SELECT 'R1_beyond_3sigma' AS rule,
               CAST(SUM(r1) AS BIGINT) AS n_alarm_days,
               MIN(CASE WHEN r1 = 1 THEN d END) AS first_alarm_day
        FROM guarded
        UNION ALL
        SELECT 'R2_2of3_beyond_2sigma', CAST(SUM(r2) AS BIGINT),
               MIN(CASE WHEN r2 = 1 THEN d END) FROM guarded
        UNION ALL
        SELECT 'R3_4of5_beyond_1sigma', CAST(SUM(r3) AS BIGINT),
               MIN(CASE WHEN r3 = 1 THEN d END) FROM guarded
        UNION ALL
        SELECT 'R4_8_same_side', CAST(SUM(r4) AS BIGINT),
               MIN(CASE WHEN r4 = 1 THEN d END) FROM guarded
        ORDER BY rule
    """,
    operators=(24, 31, 43, 489),
    doc="Western Electric run rules (#489) on the daily-revenue "
    "control chart: R1 a point beyond 3σ, R2 two of three "
    "consecutive beyond 2σ (same side), R3 four of five beyond 1σ "
    "(same side), R4 eight consecutive on one side of center — the "
    "pattern alarms that catch drifts and runs which never cross "
    "3σ, completing the SPC tier (#92/#293 flag points, #344 EWMA "
    "and #352 Page-Hinkley track level shifts; WE rules are the "
    "operator-facing rulebook). Graded as per-rule alarm-day counts "
    "+ first alarm day. Parity: center/σ from exact BIGINT moments "
    "(y² limbs), z-scores shared IEEE doubles, every rule an exact "
    "integer comparison over rolling counts on the bounded day "
    "census, with warm-up rows guarded identically (rn ≥ window). "
    "Scale: day census + fixed-width rolling windows.",
    bench=False,
)
def q_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .localCheckpoint()
    )
    mo = daily.select("y", (F.col("y") * F.col("y")).alias("y2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("y2 div 1000000000")).cast("bigint").alias("syyh"),
        F.sum(F.expr("y2 % 1000000000")).cast("bigint").alias("syyl"),
    )
    par = mo.select(
        (F.col("sy").cast("double") / F.col("n")).alias("m"),
        F.sqrt(
            (
                (F.col("syyh").cast("double") * 1e9 + F.col("syyl").cast("double"))
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("s"),
    )
    z = daily.crossJoin(F.broadcast(par)).select(
        "d", ((F.col("y").cast("double") - F.col("m")) / F.col("s")).alias("z")
    )
    ind = z.select(
        "d",
        F.when(F.abs(F.col("z")) > 3, 1).otherwise(0).alias("r1"),
        F.when(F.col("z") > 2, 1).otherwise(0).alias("hi2"),
        F.when(F.col("z") < -2, 1).otherwise(0).alias("lo2"),
        F.when(F.col("z") > 1, 1).otherwise(0).alias("hi1"),
        F.when(F.col("z") < -1, 1).otherwise(0).alias("lo1"),
        F.when(F.col("z") > 0, 1).otherwise(0).alias("hi0"),
        F.when(F.col("z") < 0, 1).otherwise(0).alias("lo0"),
    )
    w3 = Window.orderBy("d").rowsBetween(-2, 0)
    w5 = Window.orderBy("d").rowsBetween(-4, 0)
    w8 = Window.orderBy("d").rowsBetween(-7, 0)
    runs = ind.select(
        "d",
        "r1",
        F.when(
            (F.sum("hi2").over(w3) >= 2) | (F.sum("lo2").over(w3) >= 2), 1
        )
        .otherwise(0)
        .alias("r2"),
        F.when(
            (F.sum("hi1").over(w5) >= 4) | (F.sum("lo1").over(w5) >= 4), 1
        )
        .otherwise(0)
        .alias("r3"),
        F.when(
            (F.sum("hi0").over(w8) == 8) | (F.sum("lo0").over(w8) == 8), 1
        )
        .otherwise(0)
        .alias("r4"),
        F.row_number().over(Window.orderBy("d")).alias("rn"),
    )
    guarded = runs.select(
        "d",
        "r1",
        F.when(F.col("rn") >= 3, F.col("r2")).otherwise(0).alias("r2"),
        F.when(F.col("rn") >= 5, F.col("r3")).otherwise(0).alias("r3"),
        F.when(F.col("rn") >= 8, F.col("r4")).otherwise(0).alias("r4"),
    ).localCheckpoint()
    out = None
    for rule, col in (
        ("R1_beyond_3sigma", "r1"),
        ("R2_2of3_beyond_2sigma", "r2"),
        ("R3_4of5_beyond_1sigma", "r3"),
        ("R4_8_same_side", "r4"),
    ):
        one = guarded.agg(
            F.sum(col).cast("bigint").alias("n_alarm_days"),
            F.min(F.when(F.col(col) == 1, F.col("d"))).alias("first_alarm_day"),
        ).select(F.lit(rule).alias("rule"), "n_alarm_days", "first_alarm_day")
        out = one if out is None else out.unionAll(one)
    return out.orderBy("rule")
