"""Round-9 wave 12 — SURVEY.md §2.28 (#480–#483).

Modern two-sample machinery and robust fits: the energy-distance
two-sample statistic computed EXACTLY by rank/prefix identities (the
omnibus any-difference test beside KS #272 / CvM #377 / Wasserstein
#335 — consistent against every alternative, no binning), the
polynomial-kernel MMD whose expectation terms collapse to power sums
(the kernel two-sample test of deep-learning evaluation, made
moment-exact), grid quantile (median/LAD) regression where every
candidate's intercept is a rank election and every loss an integer
sum (the robust line #342's Theil-Sen approximates, solved exactly
on a slope grid), and top-k rank churn between adjacent years (the
catalog-stability census behind 'did the bestseller list actually
change').

Parity disciplines reused from the repo:

- The energy sums ride ONE bucket-decomposed prefix pass over the
  merged value census (functions/ranks discipline generalized to
  prefix SUMS): all three pairwise-distance totals are exact
  BIGINTs — zero floats until the final 1-row statistic.
- MMD's pair expectations use Σ_{i≠j}xᵢxⱼ = S₁²−S₂ and
  Σ_{i≠j}xᵢ²xⱼ² = S₂²−S₄ with the #446 limb discipline for S₄.
- LAD's intercept elections and losses are integer; the slope grid
  is integer-derived from the OLS moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #480 energy_distance — exact two-sample energy statistic
# ---------------------------------------------------------------------------

@query(
    "q_energy_distance",
    oracle="""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS is_x
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        census AS (
            SELECT x,
                   CAST(SUM(is_x) AS BIGINT) AS cx,
                   CAST(SUM(1 - is_x) AS BIGINT) AS cy
            FROM v GROUP BY x
        ),
        cum AS (
            SELECT x, cx, cy,
                   SUM(cx) OVER w - cx AS bx,
                   SUM(cy) OVER w - cy AS by,
                   SUM(cx * x) OVER w - cx * x AS sx,
                   SUM(cy * x) OVER w - cy * x AS sy
            FROM census
            WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        terms AS (
            SELECT cx, cy,
                   cx * (x * by - sy) + cy * (x * bx - sx) AS txy,
                   cx * (x * bx - sx) AS txx,
                   cy * (x * by - sy) AS tyy
            FROM cum
        ),
        sums AS (
            SELECT CAST(SUM(cx) AS BIGINT) AS n,
                   CAST(SUM(cy) AS BIGINT) AS m,
                   CAST(SUM(txy // 1000000000) AS BIGINT) AS sxyh,
                   CAST(SUM(txy % 1000000000) AS BIGINT) AS sxyl,
                   CAST(SUM(txx // 1000000000) AS BIGINT) AS sxxh,
                   CAST(SUM(txx % 1000000000) AS BIGINT) AS sxxl,
                   CAST(SUM(tyy // 1000000000) AS BIGINT) AS syyh,
                   CAST(SUM(tyy % 1000000000) AS BIGINT) AS syyl
            FROM terms
        )
        SELECT n, m,
               ROUND(2.0 * (CAST(sxyh AS DOUBLE) * 1e9 + sxyl)
                         / (CAST(n AS DOUBLE) * m)
                     - 2 * (CAST(sxxh AS DOUBLE) * 1e9 + sxxl)
                         / (CAST(n AS DOUBLE) * n)
                     - 2 * (CAST(syyh AS DOUBLE) * 1e9 + syyl)
                         / (CAST(m AS DOUBLE) * m), 9)
                   AS energy_dist,
               ROUND((CAST(n AS DOUBLE) * m / (n + m))
                     * (2.0 * (CAST(sxyh AS DOUBLE) * 1e9 + sxyl)
                            / (CAST(n AS DOUBLE) * m)
                        - 2 * (CAST(sxxh AS DOUBLE) * 1e9 + sxxl)
                            / (CAST(n AS DOUBLE) * n)
                        - 2 * (CAST(syyh AS DOUBLE) * 1e9 + syyl)
                            / (CAST(m AS DOUBLE) * m)), 9)
                   AS energy_stat
        FROM sums
    """,
    operators=(24, 30, 480),
    doc="Energy distance (#480) between URGENT and LOW order-value "
    "distributions: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| with the "
    "n·m/(n+m) test scaling — Székely's omnibus two-sample "
    "statistic, consistent against EVERY distributional difference "
    "where KS (#272) keys on the worst CDF gap and Wasserstein "
    "(#335) on mass transport; zero binning, zero tuning. The "
    "scale trick: all three pairwise-|diff| totals collapse to ONE "
    "prefix pass over the merged value census — Σ|xᵢ−yⱼ| = "
    "Σ_v cx_v·(v·B_y(v) − S_y(v)) + symmetric, with B/S the "
    "strictly-below count/sum — so the statistic is EXACT integer "
    "arithmetic (no O(n²) pairs, no floats until the 1-row "
    "normalization; per-cell terms carried as div/mod-1e9 limbs — "
    "the unlimbed totals cross 2^63 near sf10, caught by the "
    "decade smoke on the #484 sibling). The census "
    "window is domain-bounded (distinct dollar values). Scale: one "
    "scan → value census → prefix pass → 1-row tree.",
    bench=False,
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("is_x"),
        )
    )
    census = v.groupBy("x").agg(
        F.sum("is_x").cast("bigint").alias("cx"),
        F.sum(1 - F.col("is_x")).cast("bigint").alias("cy"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = census.select(
        "x",
        "cx",
        "cy",
        (F.sum("cx").over(w) - F.col("cx")).alias("bx"),
        (F.sum("cy").over(w) - F.col("cy")).alias("by"),
        (F.sum(F.col("cx") * F.col("x")).over(w) - F.col("cx") * F.col("x")).alias(
            "sx"
        ),
        (F.sum(F.col("cy") * F.col("x")).over(w) - F.col("cy") * F.col("x")).alias(
            "sy"
        ),
    )
    terms = cum.select(
        "cx",
        "cy",
        (
            F.col("cx") * (F.col("x") * F.col("by") - F.col("sy"))
            + F.col("cy") * (F.col("x") * F.col("bx") - F.col("sx"))
        ).alias("txy"),
        (F.col("cx") * (F.col("x") * F.col("bx") - F.col("sx"))).alias("txx"),
        (F.col("cy") * (F.col("x") * F.col("by") - F.col("sy"))).alias("tyy"),
    )
    sums = terms.agg(
        F.sum("cx").cast("bigint").alias("n"),
        F.sum("cy").cast("bigint").alias("m"),
        F.sum(F.expr("txy div 1000000000")).cast("bigint").alias("sxyh"),
        F.sum(F.expr("txy % 1000000000")).cast("bigint").alias("sxyl"),
        F.sum(F.expr("txx div 1000000000")).cast("bigint").alias("sxxh"),
        F.sum(F.expr("txx % 1000000000")).cast("bigint").alias("sxxl"),
        F.sum(F.expr("tyy div 1000000000")).cast("bigint").alias("syyh"),
        F.sum(F.expr("tyy % 1000000000")).cast("bigint").alias("syyl"),
    )
    e = (
        2.0
        * (F.col("sxyh").cast("double") * 1e9 + F.col("sxyl"))
        / (F.col("n").cast("double") * F.col("m"))
        - 2
        * (F.col("sxxh").cast("double") * 1e9 + F.col("sxxl"))
        / (F.col("n").cast("double") * F.col("n"))
        - 2
        * (F.col("syyh").cast("double") * 1e9 + F.col("syyl"))
        / (F.col("m").cast("double") * F.col("m"))
    )
    return sums.select(
        "n",
        "m",
        F.round(e, 9).alias("energy_dist"),
        F.round(
            (F.col("n").cast("double") * F.col("m") / (F.col("n") + F.col("m")))
            * e,
            9,
        ).alias("energy_stat"),
    )


# ---------------------------------------------------------------------------
# #481 mmd_poly — polynomial-kernel MMD from power sums
# ---------------------------------------------------------------------------

_MMD_S = "1e10"  # kernel scale: k(x,y) = (1 + xy/s)^2


@query(
    "q_mmd_poly",
    oracle=f"""
        WITH v AS (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
                   CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders
            WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 2000)
        ),
        mo AS (
            SELECT y,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s1,
                   CAST(SUM((x * x) // 1000000000) AS BIGINT) AS s2h,
                   CAST(SUM((x * x) % 1000000000) AS BIGINT) AS s2l,
                   CAST(SUM(((x * x) // 1000000) * ((x * x) // 1000000))
                        AS BIGINT) AS s4a,
                   CAST(SUM(2 * ((x * x) // 1000000) * ((x * x) % 1000000))
                        AS BIGINT) AS s4b,
                   CAST(SUM(((x * x) % 1000000) * ((x * x) % 1000000))
                        AS BIGINT) AS s4c
            FROM v GROUP BY y
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN y = 1995 THEN n END) AS na,
                MAX(CASE WHEN y = 1995 THEN CAST(s1 AS DOUBLE) END) AS a1,
                MAX(CASE WHEN y = 1995 THEN CAST(s2h AS DOUBLE) * 1e9
                         + s2l END) AS a2,
                MAX(CASE WHEN y = 1995 THEN CAST(s4a AS DOUBLE) * 1e12
                         + CAST(s4b AS DOUBLE) * 1e6 + s4c END) AS a4,
                MAX(CASE WHEN y = 2000 THEN n END) AS nb,
                MAX(CASE WHEN y = 2000 THEN CAST(s1 AS DOUBLE) END) AS b1,
                MAX(CASE WHEN y = 2000 THEN CAST(s2h AS DOUBLE) * 1e9
                         + s2l END) AS b2,
                MAX(CASE WHEN y = 2000 THEN CAST(s4a AS DOUBLE) * 1e12
                         + CAST(s4b AS DOUBLE) * 1e6 + s4c END) AS b4
            FROM mo
        )
        SELECT CAST(na AS BIGINT) AS n_1995,
               CAST(nb AS BIGINT) AS n_2000,
               ROUND(
                 (CAST(na AS DOUBLE) * (na - 1)
                    + 2 * (a1 * a1 - a2) / {_MMD_S}
                    + (a2 * a2 - a4) / ({_MMD_S} * {_MMD_S}))
                     / (CAST(na AS DOUBLE) * (na - 1))
                 + (CAST(nb AS DOUBLE) * (nb - 1)
                    + 2 * (b1 * b1 - b2) / {_MMD_S}
                    + (b2 * b2 - b4) / ({_MMD_S} * {_MMD_S}))
                     / (CAST(nb AS DOUBLE) * (nb - 1))
                 - 2 * (CAST(na AS DOUBLE) * nb
                        + 2 * (a1 * b1) / {_MMD_S}
                        + (a2 * b2) / ({_MMD_S} * {_MMD_S}))
                     / (CAST(na AS DOUBLE) * nb), 12) AS mmd_sq
        FROM wide
    """,
    operators=(24, 43, 446, 481),
    doc="Polynomial-kernel MMD (#481) between 1995 and 2000 order "
    "values: MMD² = E k(x,x') + E k(y,y') − 2E k(x,y) with "
    "k(x,y) = (1 + xy/s)² — the kernel two-sample test of modern "
    "ML evaluation, made MOMENT-EXACT: for a quadratic kernel the "
    "pair expectations collapse to power sums via "
    "Σ_{{i≠j}}xᵢxⱼ = S₁²−S₂ and Σ_{{i≠j}}xᵢ²xⱼ² = S₂²−S₄, so "
    "there is no O(n²) kernel matrix at all — the entire statistic "
    "is five integer sums per sample (S₄ carried as the #446 "
    "three-limb split) and one IEEE tree. The energy distance "
    "(#480) is its infinite-dimensional cousin; this one trades "
    "universality for a closed moment form. Scale: one "
    "conditional aggregate per year; no shuffle beyond the 2-cell "
    "census.",
    bench=False,
)
def q_mmd_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1995, 2000))
        .select(
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x"),
        )
        .select("y", "x", (F.col("x") * F.col("x")).alias("x2"))
    )
    mo = v.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("x2 div 1000000000")).cast("bigint").alias("s2h"),
        F.sum(F.expr("x2 % 1000000000")).cast("bigint").alias("s2l"),
        F.sum(F.expr("(x2 div 1000000) * (x2 div 1000000)"))
        .cast("bigint")
        .alias("s4a"),
        F.sum(F.expr("2 * (x2 div 1000000) * (x2 % 1000000)"))
        .cast("bigint")
        .alias("s4b"),
        F.sum(F.expr("(x2 % 1000000) * (x2 % 1000000)"))
        .cast("bigint")
        .alias("s4c"),
    )

    def _pick(year: int, col):
        return F.max(F.when(F.col("y") == year, col))

    s2 = F.col("s2h").cast("double") * 1e9 + F.col("s2l")
    s4 = (
        F.col("s4a").cast("double") * 1e12
        + F.col("s4b").cast("double") * 1e6
        + F.col("s4c")
    )
    wide = mo.agg(
        _pick(1995, F.col("n")).alias("na"),
        _pick(1995, F.col("s1").cast("double")).alias("a1"),
        _pick(1995, s2).alias("a2"),
        _pick(1995, s4).alias("a4"),
        _pick(2000, F.col("n")).alias("nb"),
        _pick(2000, F.col("s1").cast("double")).alias("b1"),
        _pick(2000, s2).alias("b2"),
        _pick(2000, s4).alias("b4"),
    )
    s = F.expr(_MMD_S)
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    term_a = (
        na_d * (F.col("na") - 1)
        + 2 * (F.col("a1") * F.col("a1") - F.col("a2")) / s
        + (F.col("a2") * F.col("a2") - F.col("a4")) / (s * s)
    ) / (na_d * (F.col("na") - 1))
    term_b = (
        nb_d * (F.col("nb") - 1)
        + 2 * (F.col("b1") * F.col("b1") - F.col("b2")) / s
        + (F.col("b2") * F.col("b2") - F.col("b4")) / (s * s)
    ) / (nb_d * (F.col("nb") - 1))
    term_ab = (
        2
        * (
            na_d * nb_d
            + 2 * (F.col("a1") * F.col("b1")) / s
            + (F.col("a2") * F.col("b2")) / (s * s)
        )
        / (na_d * nb_d)
    )
    return wide.select(
        F.col("na").cast("bigint").alias("n_1995"),
        F.col("nb").cast("bigint").alias("n_2000"),
        F.round(term_a + term_b - term_ab, 12).alias("mmd_sq"),
    )


# ---------------------------------------------------------------------------
# #482 quantile_regression — exact LAD line on an integer slope grid
# ---------------------------------------------------------------------------


@query(
    "q_quantile_regression",
    oracle="""
        WITH daily AS (
            SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS d,
                   CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        idx AS (
            SELECT (ROW_NUMBER() OVER (ORDER BY d)) - 1 AS t, y FROM daily
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(t * t) AS BIGINT) AS stt,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(t * y) AS BIGINT) AS sty
            FROM idx
        ),
        b0 AS (
            SELECT n,
                   CAST(FLOOR((CAST(n AS DOUBLE) * sty
                               - CAST(st AS DOUBLE) * sy)
                              / (CAST(n AS DOUBLE) * stt
                                 - CAST(st AS DOUBLE) * st) + 0.5)
                        AS BIGINT) AS b
            FROM mo
        ),
        grid AS (
            SELECT b0.b + k.k * GREATEST(ABS(b0.b) // 8, 1) AS b
            FROM b0, (SELECT UNNEST(RANGE(-4, 5)) AS k) k
        ),
        res AS (
            SELECT g.b, i.t, i.y - g.b * i.t AS r
            FROM grid g CROSS JOIN idx i
        ),
        med AS (
            SELECT b, r AS a FROM (
                SELECT b, r,
                       ROW_NUMBER() OVER (PARTITION BY b ORDER BY r) AS rn,
                       COUNT(*) OVER (PARTITION BY b) AS n
                FROM res
            ) WHERE rn = (n + 1) // 2
        ),
        losses AS (
            SELECT r.b, m.a,
                   CAST(SUM(ABS(r.r - m.a)) AS BIGINT) AS loss
            FROM res r JOIN med m ON m.b = r.b
            GROUP BY r.b, m.a
        ),
        best AS (
            SELECT b, a, loss,
                   ROW_NUMBER() OVER (ORDER BY loss, b) AS rk
            FROM losses
        )
        SELECT b AS lad_slope, a AS lad_intercept, loss AS lad_loss,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM grid) AS grid_size
        FROM best WHERE rk = 1
    """,
    operators=(24, 30, 158, 482),
    doc="Grid LAD (median) regression (#482) of daily revenue on "
    "time: for each integer slope candidate (OLS slope ±4 steps of "
    "|b|/8), the optimal intercept is the MEDIAN residual (the L1 "
    "fact that makes LAD a rank election, not a solve) and the L1 "
    "loss is an exact integer sum; the elected line is the robust "
    "fit #342's Theil-Sen approximates pairwise — here solved "
    "exactly on the grid, immune to the high-leverage days Cook's "
    "distance (#457) flags. Parity: slope candidates are integers "
    "derived from BIGINT moments via one FLOORed IEEE tree; "
    "residuals are exact integers; median elections are "
    "ROW_NUMBER on the bounded (9 × days) frame; losses are "
    "integer sums and the (loss, b) argmin is total. Scale: the "
    "grid fan-out is 9× the bounded day census — cell algebra.",
    bench=False,
)
def q_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"), "y"
    ).localCheckpoint()
    mo = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    )
    b0 = mo.select(
        F.floor(
            (
                F.col("n").cast("double") * F.col("sty")
                - F.col("st").cast("double") * F.col("sy")
            )
            / (
                F.col("n").cast("double") * F.col("stt")
                - F.col("st").cast("double") * F.col("st")
            )
            + 0.5
        )
        .cast("bigint")
        .alias("b")
    )
    ks = spark.range(-4, 5).select(F.col("id").alias("k"))
    grid = (
        b0.crossJoin(F.broadcast(ks))
        .select(
            (
                F.col("b")
                + F.col("k") * F.greatest(F.expr("abs(b) div 8"), F.lit(1))
            ).alias("b")
        )
        .localCheckpoint()
    )
    res = grid.crossJoin(idx).select(
        "b", "t", (F.col("y") - F.col("b") * F.col("t")).alias("r")
    )
    wb = Window.partitionBy("b").orderBy("r")
    wn = Window.partitionBy("b")
    med = (
        res.select(
            "b",
            "r",
            F.row_number().over(wb).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("b", F.col("r").alias("a"))
    )
    losses = (
        res.join(F.broadcast(med), "b")
        .groupBy("b", "a")
        .agg(F.sum(F.abs(F.col("r") - F.col("a"))).cast("bigint").alias("loss"))
    )
    gsize = grid.agg(F.count(F.lit(1)).cast("bigint").alias("grid_size"))
    return (
        losses.crossJoin(F.broadcast(gsize))
        .orderBy("loss", "b")
        .limit(1)
        .select(
            F.col("b").alias("lad_slope"),
            F.col("a").alias("lad_intercept"),
            F.col("loss").alias("lad_loss"),
            "grid_size",
        )
    )


# ---------------------------------------------------------------------------
# #483 rank_churn — top-k catalog stability between adjacent years
# ---------------------------------------------------------------------------

_RC_K = 50


@query(
    "q_rank_churn",
    oracle=f"""
        WITH py AS (
            SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS y,
                   l_partkey AS pk,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS rev
            FROM lineitem GROUP BY 1, 2
        ),
        ranked AS (
            SELECT y, pk, rev,
                   ROW_NUMBER() OVER (PARTITION BY y
                                      ORDER BY rev DESC, pk) AS rk
            FROM py
        ),
        top AS (SELECT y, pk, rk FROM ranked WHERE rk <= {_RC_K}),
        pairs AS (
            SELECT a.y AS y0, a.pk, a.rk AS r0, b.rk AS r1
            FROM top a JOIN top b ON b.pk = a.pk AND b.y = a.y + 1
        ),
        stats AS (
            SELECT y0,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM(ABS(r0 - r1)) AS BIGINT) AS footrule
            FROM pairs GROUP BY y0
        ),
        years AS (
            SELECT DISTINCT a.y AS y0 FROM top a
            JOIN top b ON b.y = a.y + 1
        )
        SELECT yr.y0, yr.y0 + 1 AS y1,
               COALESCE(s.n_common, 0) AS n_common,
               ROUND(1.0 - CAST(COALESCE(s.n_common, 0) AS DOUBLE)
                     / {_RC_K}, 9) AS churn,
               COALESCE(s.footrule, 0) AS footrule,
               ROUND(CAST(COALESCE(s.footrule, 0) AS DOUBLE)
                     / NULLIF(COALESCE(s.n_common, 0), 0), 9)
                   AS mean_rank_shift
        FROM years yr LEFT JOIN stats s ON s.y0 = yr.y0
        ORDER BY yr.y0
    """,
    operators=(23, 30, 33, 483),
    doc=f"Top-{_RC_K} rank churn (#483) between adjacent ship years: "
    "how much of the bestseller list turned over (churn = 1 − "
    "overlap/k), and how far the SURVIVORS moved (Spearman footrule "
    "Σ|r₀−r₁| over the common set, with its mean shift) — the "
    "catalog-stability census behind 'did the top-50 actually "
    "change', the temporal complement to the static concentration "
    "family (#251/#252); a high-churn year is where a static "
    "bucketing/caching strategy goes stale. Parity: per-year ranks "
    "are (rev desc, pk) total orders over exact cent sums; top-k "
    "extraction, overlaps, and footrule are pure integers; the "
    "only doubles are two final divisions. The per-year rank "
    "window partitions by year (entity-grain acceptable shape) — "
    "and only the top-k survive it. Scale: one (part, year) "
    "rollup; the pair join is k-bounded per year.",
    bench=False,
)
def q_rank_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    py = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.year("l_shipdate").cast("bigint").alias("y"),
            F.col("l_partkey").alias("pk"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.partitionBy("y").orderBy(F.desc("rev"), "pk")
    top = (
        py.select("y", "pk", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RC_K)
        .localCheckpoint()
    )
    a, b = top.alias("a"), top.alias("b")
    pairs = a.join(
        b, (F.col("b.pk") == F.col("a.pk")) & (F.col("b.y") == F.col("a.y") + 1)
    ).select(
        F.col("a.y").alias("y0"),
        F.col("a.rk").alias("r0"),
        F.col("b.rk").alias("r1"),
    )
    stats = pairs.groupBy("y0").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.abs(F.col("r0") - F.col("r1"))).cast("bigint").alias("footrule"),
    )
    ya, yb = top.alias("ya"), top.alias("yb")
    years = (
        ya.join(yb, F.col("yb.y") == F.col("ya.y") + 1)
        .select(F.col("ya.y").alias("y0"))
        .distinct()
    )
    return (
        years.join(stats, "y0", "left")
        .select(
            "y0",
            (F.col("y0") + 1).alias("y1"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias(
                "n_common"
            ),
            F.round(
                1.0
                - F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / _RC_K,
                9,
            ).alias("churn"),
            F.coalesce(F.col("footrule"), F.lit(0)).cast("bigint").alias(
                "footrule"
            ),
            F.round(
                F.coalesce(F.col("footrule"), F.lit(0)).cast("double")
                / F.nullif(
                    F.coalesce(F.col("n_common"), F.lit(0)), F.lit(0)
                ),
                9,
            ).alias("mean_rank_shift"),
        )
        .orderBy("y0")
    )
