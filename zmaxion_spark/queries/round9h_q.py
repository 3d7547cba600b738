"""Round-9 wave 8 — SURVEY.md §2.28 (#455–#462).

Lexical spectra, regression diagnostics, risk backtesting, and graph
structure: Yule's K / Simpson / Herdan lexical repeat-rates (the
frequency-spectrum constants beside Zipf #321 / Heaps #407), the Chow
structural-break F-test, Cook's-distance influence census, the Grubbs
single-outlier test, the Kupiec proportion-of-failures VaR backtest
(the regulatory companion to CVaR #298), rich-club coefficients and
the Clauset power-law degree exponent on the co-purchase graph, and
average precision (the PR-curve summary beside ROC #235 / AUC #226).

Parity disciplines reused from the repo:

- The daily-revenue censuses carry every moment as exact BIGINTs with
  y² in div/mod-1e9 limbs (the #446/#447 discipline); doubles first
  appear in 1-row closed forms.
- Per-type/per-degree ln terms collapse onto BOUNDED censuses
  (degree values, grid cells) before any libm call, then quantize
  through the 1e-12 grid + DECIMAL sums.
- Elections (outlier argmax, VaR rank, top influence) order by a
  ROUND-pinned key with integer tiebreaks — total orders only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# Shared day-grain revenue census (the #447 base).
_SQL_DAILY = """
        daily AS (
            SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS d,
                   CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        idx AS (
            SELECT (ROW_NUMBER() OVER (ORDER BY d)) - 1 AS t, d, y FROM daily
        )
"""


def _daily_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    return daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"), "d", "y"
    ).localCheckpoint()


# ---------------------------------------------------------------------------
# #455 yule_k — lexical repeat-rate constants per language
# ---------------------------------------------------------------------------


@query(
    "q_yule_k",
    oracle="""
        WITH tok AS (
            SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f
            FROM (
                SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
                FROM documents
            ) WHERE LENGTH(w) > 0
            GROUP BY lang, w
        ),
        mo AS (
            SELECT lang,
                   CAST(SUM(f) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS v,
                   CAST(SUM(f * f) AS BIGINT) AS s2
            FROM tok GROUP BY lang
        )
        SELECT lang,
               n AS n_tokens,
               v AS vocab,
               ROUND(1e4 * (CAST(s2 AS DOUBLE) - n)
                     / (CAST(n AS DOUBLE) * n), 9) AS yule_k,
               ROUND((CAST(s2 AS DOUBLE) - n)
                     / (CAST(n AS DOUBLE) * (n - 1)), 12) AS simpson_d,
               ROUND(LN(CAST(v AS DOUBLE)) / LN(CAST(n AS DOUBLE)), 9)
                   AS herdan_c
        FROM mo ORDER BY lang
    """,
    operators=(23, 43, 66, 455),
    doc="Lexical repeat-rate constants (#455) per language: Yule's "
    "K = 10⁴(Σf²−N)/N² (the characteristic constant — text-length-"
    "invariant where raw type/token ratio is not), Simpson's D "
    "(probability two random tokens are the same type), and "
    "Herdan's C = ln V/ln N (the log-log lexical richness slope) — "
    "the frequency-SPECTRUM lens beside Zipf's rank fit (#321) and "
    "Heaps' growth law (#407), and a cheap same-units signal for "
    "template/boilerplate-heavy sources in corpus QA. Parity: "
    "Σf² = Σm²V(m) is computed directly from the type-frequency "
    "census as exact BIGINTs (f² < 2^63 through ~sf100), so K and D "
    "are one IEEE tree over exact integers; Herdan's two LNs are "
    "k-cell libm quantized at 1e-9. Scale: one token census "
    "(map-side combined), one groupBy(lang).",
    bench=False,
)
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    mo = tok.groupBy("lang").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("s2"),
    )
    return mo.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.round(
            1e4
            * (F.col("s2").cast("double") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n")),
            9,
        ).alias("yule_k"),
        F.round(
            (F.col("s2").cast("double") - F.col("n"))
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            12,
        ).alias("simpson_d"),
        F.round(
            F.log(F.col("v").cast("double")) / F.log(F.col("n").cast("double")),
            9,
        ).alias("herdan_c"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# #456 chow_break — structural-break F-test on the daily-revenue OLS
# ---------------------------------------------------------------------------


def _sse_sql(p: str) -> str:
    """SSE of a simple OLS from raw moment columns prefixed ``p``."""
    syy = f"(CAST({p}yyh AS DOUBLE) * 1e9 + CAST({p}yyl AS DOUBLE))"
    return (
        f"(({syy} - CAST({p}y AS DOUBLE) * {p}y / {p}n)"
        f" - (CAST({p}ty AS DOUBLE) - CAST({p}t AS DOUBLE) * {p}y / {p}n)"
        f" * (CAST({p}ty AS DOUBLE) - CAST({p}t AS DOUBLE) * {p}y / {p}n)"
        f" / (CAST({p}tt AS DOUBLE) - CAST({p}t AS DOUBLE) * {p}t / {p}n))"
    )


@query(
    "q_chow_break",
    oracle=f"""
        WITH {_SQL_DAILY},
        idx2 AS (
            SELECT t, y, CAST(COUNT(*) OVER () AS BIGINT) AS m FROM idx
        ),
        segs AS (
            SELECT CASE WHEN t * 2 < m THEN 1 ELSE 2 END AS seg, t, y
            FROM idx2
        ),
        mo AS (
            SELECT seg,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(t * t) AS BIGINT) AS stt,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(t * y) AS BIGINT) AS sty,
                   CAST(SUM((y * y) // 1000000000) AS BIGINT) AS syyh,
                   CAST(SUM((y * y) % 1000000000) AS BIGINT) AS syyl
            FROM segs GROUP BY seg
        ),
        wide AS (
            SELECT
                CAST(SUM(n) AS BIGINT) AS pn,
                CAST(SUM(st) AS BIGINT) AS pt,
                CAST(SUM(stt) AS BIGINT) AS ptt,
                CAST(SUM(sy) AS BIGINT) AS py,
                CAST(SUM(sty) AS BIGINT) AS pty,
                CAST(SUM(syyh) AS BIGINT) AS pyyh,
                CAST(SUM(syyl) AS BIGINT) AS pyyl,
                CAST(MAX(CASE WHEN seg = 1 THEN n END) AS BIGINT) AS an,
                CAST(MAX(CASE WHEN seg = 1 THEN st END) AS BIGINT) AS at,
                CAST(MAX(CASE WHEN seg = 1 THEN stt END) AS BIGINT) AS att,
                CAST(MAX(CASE WHEN seg = 1 THEN sy END) AS BIGINT) AS ay,
                CAST(MAX(CASE WHEN seg = 1 THEN sty END) AS BIGINT) AS aty,
                CAST(MAX(CASE WHEN seg = 1 THEN syyh END) AS BIGINT) AS ayyh,
                CAST(MAX(CASE WHEN seg = 1 THEN syyl END) AS BIGINT) AS ayyl,
                CAST(MAX(CASE WHEN seg = 2 THEN n END) AS BIGINT) AS bn,
                CAST(MAX(CASE WHEN seg = 2 THEN st END) AS BIGINT) AS bt,
                CAST(MAX(CASE WHEN seg = 2 THEN stt END) AS BIGINT) AS btt,
                CAST(MAX(CASE WHEN seg = 2 THEN sy END) AS BIGINT) AS by,
                CAST(MAX(CASE WHEN seg = 2 THEN sty END) AS BIGINT) AS bty,
                CAST(MAX(CASE WHEN seg = 2 THEN syyh END) AS BIGINT) AS byyh,
                CAST(MAX(CASE WHEN seg = 2 THEN syyl END) AS BIGINT) AS byyl
            FROM mo
        ),
        sse AS (
            SELECT pn,
                   {_sse_sql('p')} AS sse_p,
                   {_sse_sql('a')} AS sse_a,
                   {_sse_sql('b')} AS sse_b
            FROM wide
        )
        SELECT pn AS n_days,
               CAST(pn // 2 AS BIGINT) AS break_t,
               ROUND(sse_p, 3) AS sse_pooled,
               ROUND(sse_a + sse_b, 3) AS sse_split,
               ROUND(((sse_p - sse_a - sse_b) / 2)
                     / ((sse_a + sse_b) / (pn - 4)), 9) AS f_chow,
               CAST(((sse_p - sse_a - sse_b) / 2)
                    / ((sse_a + sse_b) / (pn - 4)) > 3.0 AS BOOLEAN)
                   AS break_detected
        FROM sse
    """,
    operators=(24, 158, 456),
    doc="Chow structural-break test (#456) on the daily-revenue OLS "
    "at the midpoint day: F = ((SSE_pooled − SSE₁ − SSE₂)/k) / "
    "((SSE₁+SSE₂)/(n−2k)) with k=2 — did the regression's "
    "parameters CHANGE at the break, the hypothesis-test companion "
    "to binary-segmentation changepoints (#396) and the ADF "
    "stationarity gate (#426). Parity: one conditional aggregate "
    "carries each segment's five moments as exact BIGINTs (y² in "
    "div/mod-1e9 limbs); pooled moments are integer sums of segment "
    "moments; each SSE is the identical closed-form IEEE tree "
    "Syy_c − Sxy_c²/Sxx_c; F > 3.0 (the F(2,∞) 5% point) flags. "
    "Scale: one rollup to the bounded day census, then a 2-row "
    "pivot + 1-row algebra.",
    bench=False,
)
def q_chow_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    m = idx.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    segs = idx.crossJoin(F.broadcast(m)).select(
        F.when(F.col("t") * 2 < F.col("m"), 1).otherwise(2).alias("seg"),
        "t",
        "y",
    )
    mo = (
        segs.select("seg", "t", "y", (F.col("y") * F.col("y")).alias("y2"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("t").cast("bigint").alias("st"),
            F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
            F.sum(F.expr("y2 div 1000000000")).cast("bigint").alias("syyh"),
            F.sum(F.expr("y2 % 1000000000")).cast("bigint").alias("syyl"),
        )
    )
    aggs = [
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("st").cast("bigint").alias("pt"),
        F.sum("stt").cast("bigint").alias("ptt"),
        F.sum("sy").cast("bigint").alias("py"),
        F.sum("sty").cast("bigint").alias("pty"),
        F.sum("syyh").cast("bigint").alias("pyyh"),
        F.sum("syyl").cast("bigint").alias("pyyl"),
    ]
    for seg, p in ((1, "a"), (2, "b")):
        for col, suf in (
            ("n", "n"), ("st", "t"), ("stt", "tt"), ("sy", "y"),
            ("sty", "ty"), ("syyh", "yyh"), ("syyl", "yyl"),
        ):
            aggs.append(
                F.max(F.when(F.col("seg") == seg, F.col(col)))
                .cast("bigint")
                .alias(p + suf)
            )
    wide = mo.agg(*aggs)

    def _sse(p: str):
        syy = F.col(p + "yyh").cast("double") * 1e9 + F.col(p + "yyl").cast(
            "double"
        )
        sy, st, sty, stt, n = (
            F.col(p + "y"),
            F.col(p + "t"),
            F.col(p + "ty"),
            F.col(p + "tt"),
            F.col(p + "n"),
        )
        sxy = sty.cast("double") - st.cast("double") * sy / n
        sxx = stt.cast("double") - st.cast("double") * st / n
        return (syy - sy.cast("double") * sy / n) - sxy * sxy / sxx

    f_chow = ((_sse("p") - _sse("a") - _sse("b")) / 2) / (
        (_sse("a") + _sse("b")) / (F.col("pn") - 4)
    )
    return wide.select(
        F.col("pn").alias("n_days"),
        F.expr("pn div 2").cast("bigint").alias("break_t"),
        F.round(_sse("p"), 3).alias("sse_pooled"),
        F.round(_sse("a") + _sse("b"), 3).alias("sse_split"),
        F.round(f_chow, 9).alias("f_chow"),
        (f_chow > 3.0).alias("break_detected"),
    )


# ---------------------------------------------------------------------------
# #457 cooks_distance — influence census for the daily-revenue OLS
# ---------------------------------------------------------------------------


@query(
    "q_cooks_distance",
    oracle=f"""
        WITH {_SQL_DAILY},
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
                       * st) / n AS a,
                   CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n AS sxx
            FROM mo
        ),
        res AS (
            SELECT i.d, i.t,
                   CAST(i.y AS DOUBLE) - (f.a + f.b * i.t) AS e,
                   1.0 / f.n + (i.t - CAST(f.st AS DOUBLE) / f.n)
                       * (i.t - CAST(f.st AS DOUBLE) / f.n) / f.sxx AS h,
                   f.n
            FROM idx i, fit f
        ),
        s2 AS (
            SELECT CAST(SUM(CAST(FLOOR(e * e + 0.5) AS DECIMAL(38,0)))
                        AS DOUBLE) / (MAX(n) - 2) AS s2,
                   CAST(MAX(n) AS BIGINT) AS n
            FROM res
        ),
        cook AS (
            SELECT r.d, r.t,
                   ROUND(r.e * r.e * r.h
                         / (2 * s2.s2 * (1 - r.h) * (1 - r.h)), 12) AS cd,
                   s2.n
            FROM res r, s2
        ),
        flag AS (
            SELECT CAST(SUM(CASE WHEN cd > 4.0 / n THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_influential
            FROM cook
        )
        SELECT c.d, c.t, c.cd AS cooks_d, f.n_influential
        FROM cook c, flag f
        ORDER BY c.cd DESC, c.d LIMIT 10
    """,
    operators=(24, 158, 457),
    doc="Cook's-distance influence census (#457) for the daily-"
    "revenue OLS: Dᵢ = eᵢ²hᵢ/(p·s²(1−hᵢ)²) with the simple-"
    "regression leverage hᵢ = 1/n + (tᵢ−t̄)²/Sxx — WHICH days move "
    "the fitted trend, the point-level diagnostic beneath the "
    "robust-fit family (#342 Theil-Sen exists precisely because "
    "high-D points exist). Graded as the top-10 influence table + "
    "the count over the 4/n convention. Parity: moments are exact "
    "BIGINTs, residuals/leverages shared IEEE trees, s² sums "
    "whole-unit-quantized e² through DECIMAL(38,0) (the #448 "
    "coarse-grid discipline — e²·1e6 would overflow the long-typed "
    "floor), D is ROUND(12)-pinned and the (D desc, day) order is "
    "total. Scale: bounded day census + broadcast 1-row fit.",
    bench=False,
)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
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
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias("a"),
        (
            F.col("stt").cast("double")
            - F.col("st").cast("double") * F.col("st") / F.col("n")
        ).alias("sxx"),
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "d",
        "t",
        "n",
        (F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("t"))).alias(
            "e"
        ),
        (
            1.0 / F.col("n")
            + (F.col("t") - F.col("st").cast("double") / F.col("n"))
            * (F.col("t") - F.col("st").cast("double") / F.col("n"))
            / F.col("sxx")
        ).alias("h"),
    )
    s2 = res.agg(
        (
            F.sum(F.floor(F.col("e") * F.col("e") + 0.5).cast("decimal(38,0)"))
            .cast("double")
            / (F.max("n") - 2)
        ).alias("s2"),
        F.max("n").cast("bigint").alias("n"),
    )
    cook = res.crossJoin(F.broadcast(s2.select("s2", F.col("n").alias("nn")))).select(
        "d",
        "t",
        F.round(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h"))),
            12,
        ).alias("cooks_d"),
        F.col("nn"),
    )
    flag = cook.agg(
        F.sum(F.when(F.col("cooks_d") > 4.0 / F.col("nn"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_influential")
    )
    return (
        cook.crossJoin(F.broadcast(flag))
        .select("d", "t", "cooks_d", "n_influential")
        .orderBy(F.desc("cooks_d"), "d")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# #458 grubbs_outlier — single-outlier test on daily revenue
# ---------------------------------------------------------------------------


@query(
    "q_grubbs_outlier",
    oracle=f"""
        WITH {_SQL_DAILY},
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM((y * y) // 1000000000) AS BIGINT) AS syyh,
                   CAST(SUM((y * y) % 1000000000) AS BIGINT) AS syyl
            FROM idx
        ),
        par AS (
            SELECT n,
                   CAST(sy AS DOUBLE) / n AS m,
                   SQRT(((CAST(syyh AS DOUBLE) * 1e9 + CAST(syyl AS DOUBLE))
                         - CAST(sy AS DOUBLE) * sy / n) / (n - 1)) AS s
            FROM mo
        ),
        dev AS (
            SELECT i.d, i.y, ABS(CAST(i.y AS DOUBLE) - p.m) AS adev,
                   p.n, p.m, p.s
            FROM idx i, par p
        )
        SELECT n AS n_days,
               ROUND(m, 6) AS mean_rev,
               ROUND(s, 6) AS sd_rev,
               d AS outlier_day,
               y AS outlier_value,
               ROUND(adev / s, 9) AS g_stat,
               CAST(adev / s > 4.0 AS BOOLEAN) AS outlier_flag
        FROM dev ORDER BY adev DESC, d LIMIT 1
    """,
    operators=(24, 43, 458),
    doc="Grubbs single-outlier test (#458) on daily revenue: "
    "G = max|yᵢ−ȳ|/s — IS the most extreme day a statistical "
    "outlier, the formal election the z-score scan (#92) and MAD "
    "flagger (#293) leave implicit (they flag many; Grubbs tests "
    "THE one). Emitted with the elected day and a G > 4 cut (the "
    "n≈2400 5% critical value neighborhood, documented constant "
    "policy like #426's ADF cut). Parity: moments exact BIGINTs "
    "(y² limbs), mean/sd one IEEE tree with correctly-rounded "
    "SQRT, the argmax orders by a deterministic double with the "
    "day as tiebreak — a total order. Scale: bounded day census + "
    "broadcast 1-row parameters; TakeOrderedAndProject election.",
    bench=False,
)
def q_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    mo = idx.select("y", (F.col("y") * F.col("y")).alias("y2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("y2 div 1000000000")).cast("bigint").alias("syyh"),
        F.sum(F.expr("y2 % 1000000000")).cast("bigint").alias("syyl"),
    )
    par = mo.select(
        "n",
        (F.col("sy").cast("double") / F.col("n")).alias("m"),
        F.sqrt(
            (
                (F.col("syyh").cast("double") * 1e9 + F.col("syyl").cast("double"))
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(par)).select(
        "d",
        "y",
        F.abs(F.col("y").cast("double") - F.col("m")).alias("adev"),
        "n",
        "m",
        "s",
    )
    return (
        dev.select(
            F.col("n").alias("n_days"),
            F.round(F.col("m"), 6).alias("mean_rev"),
            F.round(F.col("s"), 6).alias("sd_rev"),
            F.col("d").alias("outlier_day"),
            F.col("y").alias("outlier_value"),
            F.round(F.col("adev") / F.col("s"), 9).alias("g_stat"),
            (F.col("adev") / F.col("s") > 4.0).alias("outlier_flag"),
            F.col("adev"),
        )
        .orderBy(F.desc("adev"), "outlier_day")
        .limit(1)
        .drop("adev")
    )


# ---------------------------------------------------------------------------
# #459 kupiec_pof — VaR exception-count backtest
# ---------------------------------------------------------------------------


@query(
    "q_kupiec_pof",
    oracle=f"""
        WITH {_SQL_DAILY},
        ranked AS (
            SELECT d, y, ROW_NUMBER() OVER (ORDER BY y, d) AS rn,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n
            FROM idx
        ),
        var95 AS (
            SELECT y AS v, n FROM ranked WHERE rn = GREATEST((n * 5) // 100, 1)
        ),
        exc AS (
            SELECT v95.n, v95.v,
                   CAST(SUM(CASE WHEN r.y < v95.v THEN 1 ELSE 0 END)
                        AS BIGINT) AS x
            FROM ranked r, var95 v95
            GROUP BY v95.n, v95.v
        )
        SELECT n AS n_days,
               CAST(v AS BIGINT) AS var_95,
               x AS n_exceptions,
               ROUND(n * 0.05, 2) AS expected_exceptions,
               ROUND(CASE WHEN x = 0
                     THEN -2 * (n * LN(0.95))
                     ELSE -2 * ((n - x) * LN(0.95) + x * LN(0.05)
                                - (n - x) * LN(1 - CAST(x AS DOUBLE) / n)
                                - x * LN(CAST(x AS DOUBLE) / n)) END, 9)
                   AS lr_pof,
               CAST((CASE WHEN x = 0
                     THEN -2 * (n * LN(0.95))
                     ELSE -2 * ((n - x) * LN(0.95) + x * LN(0.05)
                                - (n - x) * LN(1 - CAST(x AS DOUBLE) / n)
                                - x * LN(CAST(x AS DOUBLE) / n)) END) > 3.841
                    AS BOOLEAN) AS reject_var_model
        FROM exc
    """,
    operators=(24, 30, 43, 459),
    doc="Kupiec proportion-of-failures VaR backtest (#459): elect "
    "the empirical 5% VaR of daily revenue by integer rank, count "
    "exception days below it, and test the exception RATE with the "
    "binomial likelihood ratio LR = −2 ln[(1−p)^(n−x)p^x / "
    "((1−x/n)^(n−x)(x/n)^x)] vs chi²(1) 3.841 — the regulatory "
    "(Basel-style) acceptance test for a risk model, completing the "
    "tail family: #298 CVaR measures the tail, #254 drawdown its "
    "path, Kupiec whether the tail MODEL holds. Parity: the rank "
    "election is pure integers on the bounded day census, x is an "
    "exact count, and the LR is k-cell libm on exact-integer "
    "ratios, CASEd identically at x=0 on both engines (the "
    "LN(0)-guard discipline). Scale: day census + 1-row algebra.",
    bench=False,
)
def q_kupiec_pof(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    n = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (
        idx.crossJoin(F.broadcast(n))
        .select(
            "d", "y", "n", F.row_number().over(Window.orderBy("y", "d")).alias("rn")
        )
    )
    var95 = ranked.filter(
        F.col("rn") == F.greatest(F.expr("(n * 5) div 100"), F.lit(1))
    ).select(F.col("y").alias("v"))
    exc = (
        ranked.crossJoin(F.broadcast(var95))
        .groupBy("n", "v")
        .agg(
            F.sum(F.when(F.col("y") < F.col("v"), 1).otherwise(0))
            .cast("bigint")
            .alias("x")
        )
    )
    xdn = F.col("x").cast("double") / F.col("n")
    lr = F.when(
        F.col("x") == 0, -2 * (F.col("n") * F.log(F.lit(0.95)))
    ).otherwise(
        -2
        * (
            (F.col("n") - F.col("x")) * F.log(F.lit(0.95))
            + F.col("x") * F.log(F.lit(0.05))
            - (F.col("n") - F.col("x")) * F.log(1 - xdn)
            - F.col("x") * F.log(xdn)
        )
    )
    return exc.select(
        F.col("n").alias("n_days"),
        F.col("v").cast("bigint").alias("var_95"),
        F.col("x").alias("n_exceptions"),
        F.round(F.col("n") * 0.05, 2).alias("expected_exceptions"),
        F.round(lr, 9).alias("lr_pof"),
        (lr > 3.841).alias("reject_var_model"),
    )


# ---------------------------------------------------------------------------
# #460 rich_club — degree-elite connectivity on the co-purchase graph
# ---------------------------------------------------------------------------

_RC_GRID = (1, 2, 4, 8, 16)


@query(
    "q_rich_club",
    oracle=f"""
        WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
               FROM items a JOIN items b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2),
        e AS MATERIALIZED (SELECT u, v FROM pr WHERE c >= 2),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
                FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                GROUP BY node),
        ks AS (SELECT UNNEST([{", ".join(str(k) for k in _RC_GRID)}]) AS k),
        nodes_k AS (
            SELECT ks.k, CAST(SUM(CASE WHEN dg > ks.k THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_nodes
            FROM ks CROSS JOIN deg GROUP BY ks.k
        ),
        edges_k AS (
            SELECT ks.k,
                   CAST(SUM(CASE WHEN du.dg > ks.k AND dv.dg > ks.k
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
            FROM ks
            CROSS JOIN e
            JOIN deg du ON du.node = e.u
            JOIN deg dv ON dv.node = e.v
            GROUP BY ks.k
        )
        SELECT n.k, n.n_nodes, g.n_edges,
               CASE WHEN n.n_nodes >= 2
                    THEN ROUND(2.0 * g.n_edges
                               / (CAST(n.n_nodes AS DOUBLE)
                                  * (n.n_nodes - 1)), 12) END AS phi
        FROM nodes_k n JOIN edges_k g ON g.k = n.k
        ORDER BY n.k
    """,
    operators=(13, 23, 152, 460),
    doc="Rich-club coefficients (#460) on the co-purchase graph: "
    "φ(k) = 2·E_{>k}/(N_{>k}(N_{>k}−1)) over a degree-cut grid — do "
    "high-degree parts preferentially connect to EACH OTHER (a "
    "dense 'staples club') or spread across the catalog? The "
    "elite-connectivity lens that degree assortativity (#313) "
    "summarizes to one number and clustering (#444) measures only "
    "locally. Parity: all counts are exact integers from the #152 "
    "edge derivation; φ is one IEEE division per grid cell, "
    "ROUND(12)-pinned, NULLed identically below 2 member nodes. "
    "Scale: the grid is a 5-row broadcast fan-out over the edge "
    "and degree censuses — one conditional aggregate each.",
    bench=False,
)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.graph_q import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
        .localCheckpoint()
    )
    ks = spark.createDataFrame([(k,) for k in _RC_GRID], "k int")
    nodes_k = (
        deg.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("dg") > F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nodes")
        )
    )
    du = deg.select(F.col("node").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("dg").alias("dv"))
    edges_k = (
        e.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_edges")
        )
    )
    return (
        nodes_k.join(edges_k, "k")
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") >= 2,
                F.round(
                    2.0
                    * F.col("n_edges")
                    / (F.col("n_nodes").cast("double") * (F.col("n_nodes") - 1)),
                    12,
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# #461 degree_powerlaw — Clauset MLE exponent on the degree census
# ---------------------------------------------------------------------------


@query(
    "q_degree_powerlaw",
    oracle="""
        WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
               FROM items a JOIN items b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2),
        e AS MATERIALIZED (SELECT u, v FROM pr WHERE c >= 2),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
                FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                GROUP BY node),
        census AS (
            SELECT dg, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM deg GROUP BY dg
        ),
        mo AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(MAX(dg) AS BIGINT) AS dmax,
                   CAST(SUM(dg * cnt) AS BIGINT) AS sd,
                   CAST(SUM(CAST(FLOOR(cnt * LN(2.0 * dg) * 1e12 + 0.5)
                                 / 1e12 AS DECIMAL(38,12))) AS DOUBLE)
                       AS slog
            FROM census
        )
        SELECT n AS n_nodes,
               dmax,
               ROUND(CAST(sd AS DOUBLE) / n, 9) AS mean_degree,
               ROUND(1 + n / slog, 9) AS alpha
        FROM mo
    """,
    operators=(23, 43, 152, 461),
    doc="Power-law degree exponent (#461) on the co-purchase graph by "
    "the Clauset-Shalizi-Newman continuous MLE with xmin = 1: "
    "α = 1 + N/Σln(dᵢ/0.5) — the heavy-tail grade that decides "
    "whether hub-aware strategies (the #152 degree re-orientation, "
    "#84's salting) are needed at all; α ≲ 2.5 means hubs dominate. "
    "Parity: the per-node ln collapses onto the BOUNDED degree "
    "census first (distinct degree values, not nodes), so the libm "
    "surface is ≤ dmax cells, each quantized through the 1e-12 grid "
    "+ DECIMAL sum; everything else is exact integers. Scale: the "
    "degree census is two aggregates past the #152 edge "
    "derivation; the fit is cell algebra.",
    bench=False,
)
def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.graph_q import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    )
    census = deg.groupBy("dg").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    mo = census.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.max("dg").cast("bigint").alias("dmax"),
        F.sum(F.col("dg") * F.col("cnt")).cast("bigint").alias("sd"),
        F.sum(
            (
                F.floor(F.col("cnt") * F.log(2.0 * F.col("dg")) * 1e12 + 0.5)
                / 1e12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("slog"),
    )
    return mo.select(
        F.col("n").alias("n_nodes"),
        "dmax",
        F.round(F.col("sd").cast("double") / F.col("n"), 9).alias("mean_degree"),
        F.round(1 + F.col("n") / F.col("slog"), 9).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# #462 average_precision — PR-curve summary for the quality classifier
# ---------------------------------------------------------------------------

_AP_STEPS = 20


@query(
    "q_average_precision",
    oracle=f"""
        WITH scored AS (
            SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                   q.quality_score AS s
            FROM documents d
            JOIN (
                SELECT doc_id,
                       ROUND(1 / (1 + EXP(-(z))), 9) AS quality_score
                FROM (
                    SELECT doc_id, 0.160745 + 0.904206 * (LN(1 + LENGTH(text)) - 5.5)
                           + 0.461865 * (CAST(LENGTH(text) AS DOUBLE)
                                     / LEN(STRING_SPLIT(text, ' ')) - 6.0)
                           + 0.160662 * (CAST(LENGTH(text)
                                          - LENGTH(REPLACE(text, ' ', ''))
                                          AS DOUBLE) / LENGTH(text) - 0.16) AS z
                    FROM documents WHERE LENGTH(text) > 0
                )
            ) q ON q.doc_id = d.doc_id
        ),
        th AS (SELECT UNNEST(RANGE(0, {_AP_STEPS} + 1)) AS k),
        tot AS (
            SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
            FROM scored
        ),
        pts AS (
            SELECT th.k, tot.n_pos, tot.n_neg,
                   CAST(SUM(CASE WHEN s >= 1.0 - CAST(th.k AS DOUBLE)
                                          / {_AP_STEPS}
                                 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s >= 1.0 - CAST(th.k AS DOUBLE)
                                          / {_AP_STEPS}
                                 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
            FROM th CROSS JOIN scored CROSS JOIN tot
            GROUP BY th.k, tot.n_pos, tot.n_neg
        ),
        steps AS (
            SELECT k, n_pos, n_neg, tp, fp,
                   tp - LAG(tp, 1, 0) OVER (ORDER BY k) AS dtp
            FROM pts
        ),
        ap AS (
            SELECT CAST(SUM(CAST(CASE WHEN tp + fp > 0
                       THEN FLOOR((CAST(dtp AS DOUBLE) / n_pos)
                                  * (CAST(tp AS DOUBLE) / (tp + fp))
                                  * 1e12 + 0.5) / 1e12
                       ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE) AS ap,
                   CAST(MAX(n_pos) AS BIGINT) AS n_pos,
                   CAST(MAX(n_neg) AS BIGINT) AS n_neg
            FROM steps
        )
        SELECT n_pos, n_neg,
               ROUND(ap, 9) AS average_precision,
               ROUND(CAST(n_pos AS DOUBLE) / (n_pos + n_neg), 9)
                   AS prevalence_baseline,
               CAST(ap > CAST(n_pos AS DOUBLE) / (n_pos + n_neg)
                    AS BOOLEAN) AS beats_random
        FROM ap
    """,
    operators=(24, 235, 462),
    doc=f"Average precision (#462) for the #222 quality classifier "
    "(positive = 'en'): the PR-curve summary Σ ΔR_k·P_k over "
    f"{_AP_STEPS + 1} descending score thresholds — the ranking "
    "grade that, unlike AUC (#226), collapses under class imbalance "
    "exactly when it should (its floor is the prevalence, graded "
    "beside it as the beats-random flag). The threshold-grid "
    "formulation is the #235 shape: one conditional aggregate over "
    "a broadcast grid, cumulative tp/fp as exact integers, each "
    "ΔR·P term an IEEE tree on integer ratios quantized through "
    "the 1e-12 grid + DECIMAL sum, LAG on the 21-row census. "
    "Scale: single scan, grid fan-out only.",
    bench=False,
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.governance_q import q_quality_classifier

    d = load_table(spark, sf_dir, "documents")
    scored = (
        q_quality_classifier(spark, sf_dir)
        .join(
            d.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            ),
            "doc_id",
        )
        .select("y", F.col("quality_score").alias("s"))
    )
    th = spark.range(0, _AP_STEPS + 1).select(F.col("id").alias("k"))
    tot = scored.groupBy().agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    thr = 1.0 - F.col("k").cast("double") / _AP_STEPS
    hit = F.col("s") >= thr
    pts = (
        scored.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_pos", "n_neg")
        .agg(
            F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    w = Window.orderBy("k")
    steps = pts.select(
        "k",
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        (F.col("tp") - F.lag("tp", 1, 0).over(w)).alias("dtp"),
    )
    ap = steps.agg(
        F.sum(
            F.when(
                F.col("tp") + F.col("fp") > 0,
                F.floor(
                    (F.col("dtp").cast("double") / F.col("n_pos"))
                    * (F.col("tp").cast("double") / (F.col("tp") + F.col("fp")))
                    * 1e12
                    + 0.5
                )
                / 1e12,
            )
            .otherwise(0.0)
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("ap"),
        F.max("n_pos").cast("bigint").alias("n_pos"),
        F.max("n_neg").cast("bigint").alias("n_neg"),
    )
    prev = F.col("n_pos").cast("double") / (F.col("n_pos") + F.col("n_neg"))
    return ap.select(
        "n_pos",
        "n_neg",
        F.round(F.col("ap"), 9).alias("average_precision"),
        F.round(prev, 9).alias("prevalence_baseline"),
        (F.col("ap") > prev).alias("beats_random"),
    )
