"""Round-12 wave 2: the OLS-misspecification closure + Fleiss (#500–#503).

Wave 1 (round12_q.py) closed canonical PAIRS; this closes the
remaining TRIO around the daily-revenue OLS that the registry now
grades from three sides — an econometrics reader checks exactly four
things about a fitted line, and the registry had three:

- residual autocorrelation  → #447 Durbin–Watson (have)
- heteroscedasticity        → #495 Breusch–Pagan (have, wave 1)
- conditional heteroscedasticity / volatility clustering
                            → #500 Engle ARCH LM (this wave)
- functional-form misspecification
                            → #502 Ramsey RESET (this wave)

plus the textbook RESPONSE to a failed DW — #501 Cochrane–Orcutt
one-step FGLS ("you found AR(1) residuals; now re-estimate") — and
#503 Fleiss' kappa, the multi-rater member completing the
inter-annotator-agreement family (Cohen's kappa #290 is two-rater,
Krippendorff's alpha #423 is missing-data-general, Kendall's W #391
is rank-based; Fleiss is THE fixed-panel categorical form used to
grade labeling pipelines).

Float discipline identical to wave 1 (module docstring there): exact
BIGINT/DECIMAL(19,0)² moments, shared-IEEE re-quantization of the
single float surface (quasi-differenced series, fitted squares),
closed forms as one IEEE tree. Shapes follow the published statistics
[PUB]; the reference snapshot ships no source (SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query
from zmaxion_spark.queries.round12_q import _DAILY_SQL, _daily_idx

# Shared: the daily-revenue OLS fit + whole-dollar residuals, exactly
# as q_durbin_watson / q_breusch_pagan construct them.

_FIT_SQL = """
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(t * t) AS BIGINT) AS stt,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(t * y) AS BIGINT) AS sty
            FROM idx
        ),
        fit AS (
            SELECT n, st, stt,
                   (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                       AS b,
                   (CAST(sy AS DOUBLE)
                    - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                       * st) / n AS a
            FROM mo
        ),
        res AS (
            SELECT t, y,
                   CAST(FLOOR(CAST(y AS DOUBLE) - (f.a + f.b * t) + 0.5)
                        AS BIGINT) AS eq
            FROM idx, fit f
        )
"""


def _fit_res(spark: SparkSession, sf_dir: str):
    """(fit 1-row df, residual df (t, y, eq)) — the shared base."""
    idx = _daily_idx(spark, sf_dir).select("t", "y")
    mo = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    )
    b = (
        F.col("n").cast("double") * F.col("sty")
        - F.col("st").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("stt")
        - F.col("st").cast("double") * F.col("st")
    )
    fit = mo.select(
        "n",
        "st",
        "stt",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias("a"),
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        "y",
        F.floor(
            F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("t")) + 0.5
        )
        .cast("bigint")
        .alias("eq"),
    )
    return fit, res


# ---------------------------------------------------------------------------
# #500 arch_lm — Engle's ARCH LM test (volatility clustering)
# ---------------------------------------------------------------------------


@query(
    "q_arch_lm",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + ","
    + _FIT_SQL
    + """,
        u AS (
            SELECT t,
                   CAST(FLOOR(CAST(eq AS DOUBLE) / 100 + 0.5) AS DECIMAL(19,0))
                   * CAST(FLOOR(CAST(eq AS DOUBLE) / 100 + 0.5)
                          AS DECIMAL(19,0)) AS u
            FROM res
        ),
        lagged AS (
            SELECT t, u, LAG(u, 1) OVER (ORDER BY t) AS u1 FROM u
        ),
        lm AS (
            SELECT
                CAST(COUNT(u1) AS BIGINT) AS m,
                CAST(SUM(CASE WHEN u1 IS NOT NULL
                              THEN CAST(u AS DECIMAL(38,0)) END)
                     AS DECIMAL(38,0)) AS su,
                CAST(SUM(CASE WHEN u1 IS NOT NULL
                              THEN CAST(u1 AS DECIMAL(38,0)) END)
                     AS DECIMAL(38,0)) AS su1,
                CAST(SUM(CAST(u AS DECIMAL(19,0))
                         * CAST(u1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS suu1,
                CAST(SUM(CASE WHEN u1 IS NOT NULL
                              THEN CAST(u AS DECIMAL(19,0))
                                   * CAST(u AS DECIMAL(19,0)) END)
                     AS DECIMAL(38,0)) AS suu,
                CAST(SUM(CAST(u1 AS DECIMAL(19,0))
                         * CAST(u1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS su1u1
            FROM lagged
        )
        SELECT m AS n_pairs,
               ROUND(m
                     * ((CAST(m AS DOUBLE) * CAST(suu1 AS DOUBLE)
                         - CAST(su1 AS DOUBLE) * CAST(su AS DOUBLE))
                        * (CAST(m AS DOUBLE) * CAST(suu1 AS DOUBLE)
                           - CAST(su1 AS DOUBLE) * CAST(su AS DOUBLE)))
                     / ((CAST(m AS DOUBLE) * CAST(su1u1 AS DOUBLE)
                         - CAST(su1 AS DOUBLE) * CAST(su1 AS DOUBLE))
                        * (CAST(m AS DOUBLE) * CAST(suu AS DOUBLE)
                           - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))),
                     9) AS arch_lm_stat,
               CAST(m
                    * ((CAST(m AS DOUBLE) * CAST(suu1 AS DOUBLE)
                        - CAST(su1 AS DOUBLE) * CAST(su AS DOUBLE))
                       * (CAST(m AS DOUBLE) * CAST(suu1 AS DOUBLE)
                          - CAST(su1 AS DOUBLE) * CAST(su AS DOUBLE)))
                    / ((CAST(m AS DOUBLE) * CAST(su1u1 AS DOUBLE)
                        - CAST(su1 AS DOUBLE) * CAST(su1 AS DOUBLE))
                       * (CAST(m AS DOUBLE) * CAST(suu AS DOUBLE)
                          - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))
                    > 3.841 AS BOOLEAN) AS arch_effect_5pct
        FROM lm
    """,
    operators=(24, 31, 158, 500),
    doc="Engle's ARCH LM test (#500) at lag 1 on the daily-revenue "
    "OLS residuals — volatility clustering: does today's residual "
    "VARIANCE predict tomorrow's (the conditional-heteroscedasticity "
    "complement of #495's unconditional Breusch-Pagan; the test that "
    "motivates GARCH)? LM = m R^2 of e_t^2 on e_{t-1}^2 vs chi^2(1). "
    "Parity: the fit and whole-dollar residuals replicate "
    "q_durbin_watson verbatim and re-quantize to HECTO-dollars "
    "(e100 = FLOOR(e/100+0.5), the #495 grid) so u = e100^2 and every "
    "auxiliary moment (Sum u, Sum u u1, Sum u^2) stays inside "
    "DECIMAL(38) through sf100 (whole-dollar u broke the (19,0) cast "
    "at sf100, found-at-decade #19); R^2 one shared IEEE tree. "
    "Scale: one rollup to days, bounded lag window, 1-row algebra.",
    bench=False,
)
def q_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, res = _fit_res(spark, sf_dir)
    e100 = F.floor(F.col("eq").cast("double") / 100 + 0.5).cast("decimal(19,0)")
    u = res.select("t", (e100 * e100).alias("u"))
    lagged = u.select(
        "t", "u", F.lag("u", 1).over(Window.orderBy("t")).alias("u1")
    )
    lm = lagged.agg(
        F.count("u1").cast("bigint").alias("m"),
        F.sum(
            F.when(F.col("u1").isNotNull(), F.col("u").cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("su"),
        F.sum(
            F.when(F.col("u1").isNotNull(), F.col("u1").cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("su1"),
        F.sum(F.col("u").cast("decimal(19,0)") * F.col("u1").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("suu1"),
        F.sum(
            F.when(
                F.col("u1").isNotNull(),
                F.col("u").cast("decimal(19,0)") * F.col("u").cast("decimal(19,0)"),
            )
        )
        .cast("decimal(38,0)")
        .alias("suu"),
        F.sum(
            F.col("u1").cast("decimal(19,0)") * F.col("u1").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("su1u1"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("suu1").cast("double") - F.col("su1").cast("double") * F.col(
        "su"
    ).cast("double")
    r2 = (num * num) / (
        (md * F.col("su1u1").cast("double") - F.col("su1").cast("double") * F.col("su1").cast("double"))
        * (md * F.col("suu").cast("double") - F.col("su").cast("double") * F.col("su").cast("double"))
    )
    stat = F.col("m") * r2
    return lm.select(
        F.col("m").alias("n_pairs"),
        F.round(stat, 9).alias("arch_lm_stat"),
        (stat > 3.841).alias("arch_effect_5pct"),
    )


# ---------------------------------------------------------------------------
# #501 cochrane_orcutt — one-step AR(1) FGLS re-estimation
# ---------------------------------------------------------------------------


@query(
    "q_cochrane_orcutt",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + ","
    + _FIT_SQL
    + """,
        rho AS (
            SELECT CAST(SUM(CAST(eq AS DECIMAL(19,0))
                            * CAST(e1 AS DECIMAL(19,0))) AS DOUBLE)
                   / CAST(SUM(CAST(e1 AS DECIMAL(19,0))
                              * CAST(e1 AS DECIMAL(19,0))) AS DOUBLE) AS r
            FROM (SELECT eq, LAG(eq, 1) OVER (ORDER BY t) AS e1 FROM res)
            WHERE e1 IS NOT NULL
        ),
        qd AS (
            SELECT r.t,
                   CAST(FLOOR(CAST(r.y AS DOUBLE) - rho.r * yl + 0.5)
                        AS BIGINT) AS ys,
                   CAST(FLOOR((r.t - rho.r * (r.t - 1)) * 1e6 + 0.5)
                        AS BIGINT) AS xu
            FROM (SELECT t, y, LAG(y, 1) OVER (ORDER BY t) AS yl FROM res) r,
                 rho
            WHERE yl IS NOT NULL
        ),
        gmo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(xu) AS BIGINT) AS sxu,
                   CAST(SUM(ys) AS BIGINT) AS sy2,
                   CAST(SUM(CAST(xu AS DECIMAL(19,0))
                            * CAST(xu AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS sxxu,
                   CAST(SUM(CAST(xu AS DECIMAL(19,0))
                            * CAST(ys AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS sxyu
            FROM qd
        )
        SELECT gmo.m AS n_days,
               ROUND(rho.r, 9) AS rho,
               ROUND(f.b, 9) AS slope_ols,
               ROUND(1e6 * ((CAST(gmo.m AS DOUBLE) * CAST(gmo.sxyu AS DOUBLE)
                             - CAST(gmo.sxu AS DOUBLE)
                               * CAST(gmo.sy2 AS DOUBLE))
                            / (CAST(gmo.m AS DOUBLE) * CAST(gmo.sxxu AS DOUBLE)
                               - CAST(gmo.sxu AS DOUBLE)
                                 * CAST(gmo.sxu AS DOUBLE))),
                     9) AS slope_gls,
               ROUND(((CAST(gmo.sy2 AS DOUBLE)
                       - 1e6 * ((CAST(gmo.m AS DOUBLE)
                                 * CAST(gmo.sxyu AS DOUBLE)
                                 - CAST(gmo.sxu AS DOUBLE)
                                   * CAST(gmo.sy2 AS DOUBLE))
                                / (CAST(gmo.m AS DOUBLE)
                                   * CAST(gmo.sxxu AS DOUBLE)
                                   - CAST(gmo.sxu AS DOUBLE)
                                     * CAST(gmo.sxu AS DOUBLE)))
                         * (CAST(gmo.sxu AS DOUBLE) / 1e6)) / gmo.m)
                     / (1 - rho.r),
                     4) AS intercept_gls
        FROM gmo, rho, fit f
    """,
    operators=(24, 31, 158, 501),
    doc="One-step Cochrane-Orcutt FGLS (#501): the textbook RESPONSE "
    "to a failed Durbin-Watson — estimate rho from the lag-1 "
    "residual regression, quasi-difference (y*_t = y_t - rho "
    "y_{t-1}, x*_t = t - rho(t-1)), and re-fit; slope_gls vs "
    "slope_ols shows what AR(1) errors did to the trend estimate "
    "(the transformed intercept a*/(1-rho) maps back to the "
    "original units). Parity: rho is one IEEE division of exact "
    "DECIMAL(19,0)^2 residual sums; the quasi-differenced series is "
    "the wave's single per-row float surface and is re-quantized on "
    "the shared-IEEE grid (y* to whole dollars, x* to integer MICRO-units "
    "xu = FLOOR(x*\u00b71e6+0.5) so all five GLS moments are SCALE-0 "
    "integer/DECIMAL sums whose double casts are single correctly-rounded "
    "roundings — a DECIMAL(38,6) sum cast to DOUBLE double-rounds in "
    "DuckDB (int128 cast, then /1e6) vs Spark's one BigDecimal rounding "
    "and flipped 1 ulp at sf10, found-at-decade #17); the final "
    "slope/intercept is one shared IEEE tree; the ~1e7-magnitude "
    "intercept rounds at 1e-4 (a ROUND(9) grid sits BELOW the double ulp "
    "at that magnitude and flipped 1 ulp between engines at sf0.1 — "
    "the found-at-decade #14 ROUND-semantics class, caught by the local "
    "strict gate). Scale: one rollup to days, two bounded lag "
    "windows, 1-row algebra.",
    bench=False,
)
def q_cochrane_orcutt(spark: SparkSession, sf_dir: str) -> DataFrame:
    fit, res = _fit_res(spark, sf_dir)
    w = Window.orderBy("t")
    lag_e = res.select("eq", F.lag("eq", 1).over(w).alias("e1")).filter(
        F.col("e1").isNotNull()
    )
    rho = lag_e.agg(
        (
            F.sum(
                F.col("eq").cast("decimal(19,0)") * F.col("e1").cast("decimal(19,0)")
            ).cast("double")
            / F.sum(
                F.col("e1").cast("decimal(19,0)") * F.col("e1").cast("decimal(19,0)")
            ).cast("double")
        ).alias("r")
    )
    qd = (
        res.select("t", "y", F.lag("y", 1).over(w).alias("yl"))
        .filter(F.col("yl").isNotNull())
        .crossJoin(F.broadcast(rho))
        .select(
            F.floor(F.col("y").cast("double") - F.col("r") * F.col("yl") + 0.5)
            .cast("bigint")
            .alias("ys"),
            F.floor((F.col("t") - F.col("r") * (F.col("t") - 1)) * 1e6 + 0.5)
            .cast("bigint")
            .alias("xu"),
        )
    )
    gmo = qd.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("xu").cast("bigint").alias("sxu"),
        F.sum("ys").cast("bigint").alias("sy2"),
        F.sum(F.col("xu").cast("decimal(19,0)") * F.col("xu").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxxu"),
        F.sum(F.col("xu").cast("decimal(19,0)") * F.col("ys").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxyu"),
    )
    md = F.col("m").cast("double")
    bg = 1e6 * (
        (
            md * F.col("sxyu").cast("double")
            - F.col("sxu").cast("double") * F.col("sy2").cast("double")
        )
        / (
            md * F.col("sxxu").cast("double")
            - F.col("sxu").cast("double") * F.col("sxu").cast("double")
        )
    )
    ag = (
        F.col("sy2").cast("double") - bg * (F.col("sxu").cast("double") / 1e6)
    ) / F.col("m")
    return (
        gmo.crossJoin(F.broadcast(rho))
        .crossJoin(F.broadcast(fit.select("b")))
        .select(
            F.col("m").alias("n_days"),
            F.round(F.col("r"), 9).alias("rho"),
            F.round(F.col("b"), 9).alias("slope_ols"),
            F.round(bg, 9).alias("slope_gls"),
            F.round(ag / (1 - F.col("r")), 4).alias("intercept_gls"),
        )
    )

# ---------------------------------------------------------------------------
# #502 ramsey_reset — functional-form misspecification (RESET, yhat^2)
# ---------------------------------------------------------------------------


@query(
    "q_ramsey_reset",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + ","
    + _FIT_SQL
    + """,
        aug AS (
            SELECT t, y,
                   CAST(FLOOR((f.a + f.b * t) * (f.a + f.b * t) / 1e6 + 0.5)
                        AS BIGINT) AS h
            FROM idx, fit f
        ),
        amo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sh,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(t * t) AS BIGINT) AS stt,
                   CAST(SUM(CAST(t AS DECIMAL(19,0))
                            * CAST(h AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sth,
                   CAST(SUM(CAST(h AS DECIMAL(19,0))
                            * CAST(h AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS shh,
                   CAST(SUM(t * y) AS BIGINT) AS sty,
                   CAST(SUM(CAST(h AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS shy,
                   CAST(SUM(CAST(y AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy
            FROM aug
        ),
        cen AS (
            SELECT n,
                   CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n AS ctt,
                   CAST(sth AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(sh AS DOUBLE) / n AS cth,
                   CAST(shh AS DOUBLE)
                       - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE) / n AS chh,
                   CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n AS cty,
                   CAST(shy AS DOUBLE)
                       - CAST(sh AS DOUBLE) * CAST(sy AS DOUBLE) / n AS chy,
                   CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
            FROM amo
        ),
        f2 AS (
            SELECT n,
                   cyy - cty * cty / ctt AS sse_r,
                   cyy
                   - ((chh * cty - cth * chy) / (ctt * chh - cth * cth)) * cty
                   - ((ctt * chy - cth * cty) / (ctt * chh - cth * cth)) * chy
                       AS sse_u
            FROM cen
        )
        SELECT n AS n_days,
               ROUND((sse_r - sse_u) / (sse_u / (n - 3)), 9) AS reset_f,
               CAST((sse_r - sse_u) / (sse_u / (n - 3)) > 3.846 AS BOOLEAN)
                   AS reject_linear_5pct
        FROM f2
    """,
    operators=(24, 43, 158, 502),
    doc="Ramsey RESET (#502) with the yhat^2 augmentation term — "
    "functional-form misspecification of the daily-revenue OLS, "
    "completing the trio around one fitted line (DW #447: residual "
    "autocorrelation; BP #495: heteroscedasticity; RESET: is the "
    "LINE even the right shape — a curved trend loads on yhat^2). "
    "F = (SSE_r - SSE_u)/(SSE_u/(n-3)) vs F(1, n-3) ~ chi-bound "
    "3.846 at the fixture's n. Parity: the augmentation regressor "
    "h = FLOOR(yhat^2 + 0.5) re-quantizes the only float surface on "
    "the shared-IEEE grid (h ~ 1e14 at sf0.1, ~1e18 at sf10 — under "
    "both the long-FLOOR and the (19,0) cast bounds); all ten "
    "moments are exact BIGINT/DECIMAL(19,0)^2 sums; the centered "
    "2-regressor normal equations and both SSEs are one shared IEEE "
    "tree (identical association both engines). The augmentation "
    "regressor is yhat^2/1e6 (F is invariant to regressor scaling): "
    "the unscaled h^2 sum is ~1e36 per term and overflowed the "
    "DECIMAL(38) accumulator at sf10 (ANSI sum overflow, found-at-"
    "decade #18) — the 1e-6 scale keeps every moment inside "
    "DECIMAL(38) through sf100. Scale: one rollup to days, then "
    "1-row algebra.",
    bench=False,
)
def q_ramsey_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    fit, res = _fit_res(spark, sf_dir)
    aug = res.crossJoin(F.broadcast(fit.select("a", "b"))).select(
        "t",
        "y",
        F.floor(
            (F.col("a") + F.col("b") * F.col("t"))
            * (F.col("a") + F.col("b") * F.col("t"))
            / 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("h"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    amo = aug.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sh"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum(d19("t") * d19("h")).cast("decimal(38,0)").alias("sth"),
        F.sum(d19("h") * d19("h")).cast("decimal(38,0)").alias("shh"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
        F.sum(d19("h") * d19("y")).cast("decimal(38,0)").alias("shy"),
        F.sum(d19("y") * d19("y")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n")
    cen = amo.select(
        "n",
        (F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st") / nd).alias("ctt"),
        (
            F.col("sth").cast("double")
            - F.col("st").cast("double") * F.col("sh").cast("double") / nd
        ).alias("cth"),
        (
            F.col("shh").cast("double")
            - F.col("sh").cast("double") * F.col("sh").cast("double") / nd
        ).alias("chh"),
        (F.col("sty").cast("double") - F.col("st").cast("double") * F.col("sy") / nd).alias("cty"),
        (
            F.col("shy").cast("double")
            - F.col("sh").cast("double") * F.col("sy").cast("double") / nd
        ).alias("chy"),
        (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / nd).alias("cyy"),
    )
    det = F.col("ctt") * F.col("chh") - F.col("cth") * F.col("cth")
    b1 = (F.col("chh") * F.col("cty") - F.col("cth") * F.col("chy")) / det
    b2 = (F.col("ctt") * F.col("chy") - F.col("cth") * F.col("cty")) / det
    f2 = cen.select(
        "n",
        (F.col("cyy") - F.col("cty") * F.col("cty") / F.col("ctt")).alias("sse_r"),
        (F.col("cyy") - b1 * F.col("cty") - b2 * F.col("chy")).alias("sse_u"),
    )
    stat = (F.col("sse_r") - F.col("sse_u")) / (F.col("sse_u") / (F.col("n") - 3))
    return f2.select(
        F.col("n").alias("n_days"),
        F.round(stat, 9).alias("reset_f"),
        (stat > 3.846).alias("reject_linear_5pct"),
    )


# ---------------------------------------------------------------------------
# #503 fleiss_kappa — fixed-panel multi-rater categorical agreement
# ---------------------------------------------------------------------------


@query(
    "q_fleiss_kappa",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT l.l_partkey AS item, o.o_orderkey AS rater,
                   o.o_orderpriority AS cat
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        ranked AS (
            SELECT item, cat,
                   ROW_NUMBER() OVER (PARTITION BY item ORDER BY rater) AS rn,
                   COUNT(*) OVER (PARTITION BY item) AS cnt
            FROM pairs
        ),
        panel AS (
            SELECT item, cat FROM ranked WHERE cnt >= 5 AND rn <= 5
        ),
        nic AS (
            SELECT item, cat, CAST(COUNT(*) AS BIGINT) AS n_ic
            FROM panel GROUP BY 1, 2
        ),
        gl AS (
            SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_items,
                   CAST(SUM(n_ic * n_ic) AS BIGINT) AS s2
            FROM nic
        ),
        colsum AS (
            SELECT cat, CAST(SUM(n_ic) AS BIGINT) AS n_c FROM nic GROUP BY 1
        ),
        pe AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cats,
                   CAST(SUM(CAST(n_c AS DECIMAL(19,0))
                            * CAST(n_c AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS sc2
            FROM colsum
        )
        SELECT gl.n_items,
               pe.n_cats,
               5 AS n_raters,
               ROUND((CAST(gl.s2 AS DOUBLE) - 5 * gl.n_items)
                     / (20.0 * gl.n_items), 9) AS p_bar,
               ROUND(CAST(pe.sc2 AS DOUBLE)
                     / (25.0 * gl.n_items * gl.n_items), 9) AS p_e,
               ROUND(((CAST(gl.s2 AS DOUBLE) - 5 * gl.n_items)
                      / (20.0 * gl.n_items)
                      - CAST(pe.sc2 AS DOUBLE)
                        / (25.0 * gl.n_items * gl.n_items))
                     / (1 - CAST(pe.sc2 AS DOUBLE)
                            / (25.0 * gl.n_items * gl.n_items)),
                     9) AS fleiss_kappa
        FROM gl, pe
    """,
    operators=(13, 23, 30, 503),
    doc="Fleiss' kappa (#503) — the fixed-panel multi-rater member "
    "completing the inter-annotator-agreement family (Cohen's kappa "
    "#290 is two-rater, Krippendorff's alpha #423 handles missing "
    "data, Kendall's W #391 is rank-based; Fleiss is THE m-rater "
    "categorical form labeling pipelines grade panels with). Panel "
    "construction: items = parts, raters = the first 5 distinct "
    "orders containing the part (row_number over orderkey — "
    "deterministic), category = the order's priority; parts with "
    "fewer than 5 orders are excluded (fixed-panel requirement). "
    "P-bar = (Sum n_ic^2 - mN)/(m(m-1)N), P_e = Sum p_c^2, kappa = "
    "(P-bar - P_e)/(1 - P_e). Parity: every moment is an exact "
    "integer census (n_ic counts, squared column sums through "
    "DECIMAL(19,0)^2); the closed form is one shared IEEE tree of "
    "exact casts — no quantization anywhere. Scale: the "
    "(item, rater) distinct and the per-item window partition by "
    "partkey (parallel, no global window); category census is "
    "|cats| cells.",
    bench=False,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_partkey").alias("item"),
            F.col("o_orderkey").alias("rater"),
            F.col("o_orderpriority").alias("cat"),
        )
        .distinct()
    )
    w = Window.partitionBy("item")
    ranked = pairs.select(
        "item",
        "cat",
        F.row_number().over(w.orderBy("rater")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    panel = ranked.filter((F.col("cnt") >= 5) & (F.col("rn") <= 5))
    nic = panel.groupBy("item", "cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ic")
    )
    gl = nic.agg(
        F.countDistinct("item").cast("bigint").alias("n_items"),
        F.sum(F.col("n_ic") * F.col("n_ic")).cast("bigint").alias("s2"),
    )
    colsum = nic.groupBy("cat").agg(F.sum("n_ic").cast("bigint").alias("n_c"))
    pe = colsum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cats"),
        F.sum(F.col("n_c").cast("decimal(19,0)") * F.col("n_c").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sc2"),
    )
    ni = F.col("n_items")
    p_bar = (F.col("s2").cast("double") - 5 * ni) / (20.0 * ni)
    p_e = F.col("sc2").cast("double") / (25.0 * ni * ni)
    return gl.crossJoin(F.broadcast(pe)).select(
        "n_items",
        "n_cats",
        F.lit(5).alias("n_raters"),
        F.round(p_bar, 9).alias("p_bar"),
        F.round(p_e, 9).alias("p_e"),
        F.round((p_bar - p_e) / (1 - p_e), 9).alias("fleiss_kappa"),
    )
