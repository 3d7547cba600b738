"""Round-9 wave 13 — SURVEY.md §2.28 (#484–#486).

Distribution-shape closure on the exact-census machinery: the Gini
mean difference by the #480 prefix identity (with the Gini
coefficient re-derived from it — a second, independent derivation
route for #252's concentration number), robust quantile shape
measures (Bowley skewness and Moors kurtosis — outlier-immune where
the #446 moment versions are outlier-DOMINATED), and Q-Q decile
coordinates between two order-priority populations (the table behind
a Q-Q plot, with the max quantile gap as its summary — the
location-by-location view the omnibus tests #272/#480 integrate
away).

Parity disciplines reused from the repo:

- All quantile elections are integer cross-multiplications over
  domain-bounded value censuses (the #459/#469 shape); pairwise
  totals ride the #480 strictly-below prefix identities.
- Every statistic is one IEEE tree over exact BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #484 gini_mean_diff — exact GMD + Gini by the prefix identity
# ---------------------------------------------------------------------------


@query(
    "q_gini_mean_diff",
    oracle="""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x FROM orders
        ),
        census AS (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
        ),
        cum AS (
            SELECT x, c,
                   SUM(c) OVER w - c AS b,
                   SUM(c * x) OVER w - c * x AS s
            FROM census
            WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        sums AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * x) AS BIGINT) AS sx,
                   CAST(SUM((c * (x * b - s)) // 1000000000) AS BIGINT) AS sdh,
                   CAST(SUM((c * (x * b - s)) % 1000000000) AS BIGINT) AS sdl
            FROM cum
        )
        SELECT n,
               ROUND(CAST(sx AS DOUBLE) / n, 9) AS mean_x,
               ROUND(2 * (CAST(sdh AS DOUBLE) * 1e9 + CAST(sdl AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (n - 1)), 9) AS gmd,
               ROUND(2 * (CAST(sdh AS DOUBLE) * 1e9 + CAST(sdl AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (n - 1))
                     / (2 * CAST(sx AS DOUBLE) / n), 9) AS gini
        FROM sums
    """,
    operators=(24, 30, 252, 484),
    doc="Gini mean difference (#484): E|X−X'| over order values, "
    "computed EXACTLY by the #480 strictly-below prefix identity "
    "(Σ|xᵢ−xⱼ| = 2Σ_v c_v·(v·B(v) − S(v)) — pure BIGINTs, no "
    "pairs; the total carried as div/mod-1e9 limbs since the "
    "unlimbed Σ crosses 2^63 at sf10, caught by the decade smoke), "
    "plus the Gini coefficient GMD/2μ it implies — a "
    "SECOND independent derivation route for #252's concentration "
    "number (which goes through Lorenz/rank algebra), so the two "
    "graded queries cross-check each other's machinery; GMD itself "
    "is the scale-equivariant dispersion measure (robust to shape) "
    "that σ is not. Parity: everything is exact integer arithmetic "
    "until the two final divisions. Scale: value census + one "
    "domain-bounded prefix pass.",
    bench=False,
)
def q_gini_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x")
    )
    census = v.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = census.select(
        "x",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("b"),
        (F.sum(F.col("c") * F.col("x")).over(w) - F.col("c") * F.col("x")).alias(
            "s"
        ),
    )
    sums = cum.select(
        "c",
        "x",
        (F.col("c") * (F.col("x") * F.col("b") - F.col("s"))).alias("t"),
    ).agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("x")).cast("bigint").alias("sx"),
        F.sum(F.expr("t div 1000000000")).cast("bigint").alias("sdh"),
        F.sum(F.expr("t % 1000000000")).cast("bigint").alias("sdl"),
    )
    gmd = (
        2
        * (F.col("sdh").cast("double") * 1e9 + F.col("sdl").cast("double"))
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return sums.select(
        "n",
        F.round(F.col("sx").cast("double") / F.col("n"), 9).alias("mean_x"),
        F.round(gmd, 9).alias("gmd"),
        F.round(
            gmd / (2 * F.col("sx").cast("double") / F.col("n")), 9
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# #485 robust_shape — Bowley skewness + Moors kurtosis by octile election
# ---------------------------------------------------------------------------


def _oct_sql(k: int) -> str:
    """Octile k/8 election by integer cross-multiplication."""
    return f"(SELECT MIN(x) FROM cum WHERE cc * 8 >= n * {k})"


@query(
    "q_robust_shape",
    oracle=f"""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x FROM orders
        ),
        census AS (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY x
        ),
        cum AS (
            SELECT x, SUM(c) OVER (ORDER BY x) AS cc,
                   SUM(c) OVER () AS n
            FROM census
        ),
        octs AS (
            SELECT {_oct_sql(1)} AS e1, {_oct_sql(2)} AS e2,
                   {_oct_sql(3)} AS e3, {_oct_sql(4)} AS e4,
                   {_oct_sql(5)} AS e5, {_oct_sql(6)} AS e6,
                   {_oct_sql(7)} AS e7,
                   CAST((SELECT MAX(n) FROM cum) AS BIGINT) AS n
        )
        SELECT n,
               CAST(e2 AS BIGINT) AS q1, CAST(e4 AS BIGINT) AS median,
               CAST(e6 AS BIGINT) AS q3,
               ROUND((CAST(e6 AS DOUBLE) + e2 - 2 * e4)
                     / (CAST(e6 AS DOUBLE) - e2), 9) AS bowley_skew,
               ROUND(((CAST(e7 AS DOUBLE) - e5) + (CAST(e3 AS DOUBLE) - e1))
                     / (CAST(e6 AS DOUBLE) - e2), 9) AS moors_kurtosis
        FROM octs
    """,
    operators=(24, 30, 253, 485),
    doc="Robust shape measures (#485): Bowley (quartile) skewness "
    "(Q₃+Q₁−2·median)/(Q₃−Q₁) and Moors (octile) kurtosis "
    "((E₇−E₅)+(E₃−E₁))/(Q₃−Q₁) — the quantile-based shape pair "
    "whose breakdown point is 12.5%, where the #446 moment skewness/"
    "kurtosis are DOMINATED by the very outliers one asks about "
    "(one 10⁹ row moves m₄ arbitrarily; it cannot move an octile); "
    "the robust-location family (#253) extended to shape. Parity: "
    "all seven octile elections are integer cross-multiplications "
    "(cc·8 ≥ n·k) over the domain-bounded value census — the "
    "#459/#469 election shape — and both ratios are one IEEE tree "
    "over exact BIGINTs. Scale: value census + cell algebra.",
    bench=False,
)
def q_robust_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") + 0.5).cast("bigint").alias("x")
    )
    census = v.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    n = census.agg(F.sum("c").cast("bigint").alias("n"))
    cum = census.crossJoin(F.broadcast(n)).select(
        "x", F.sum("c").over(w).alias("cc"), "n"
    ).localCheckpoint()
    octs = None
    for k in range(1, 8):
        ek = cum.filter(F.col("cc") * 8 >= F.col("n") * k).agg(
            F.min("x").alias(f"e{k}")
        )
        octs = ek if octs is None else octs.crossJoin(F.broadcast(ek))
    octs = octs.crossJoin(F.broadcast(n))
    bowley = (
        F.col("e6").cast("double") + F.col("e2") - 2 * F.col("e4")
    ) / (F.col("e6").cast("double") - F.col("e2"))
    moors = (
        (F.col("e7").cast("double") - F.col("e5"))
        + (F.col("e3").cast("double") - F.col("e1"))
    ) / (F.col("e6").cast("double") - F.col("e2"))
    return octs.select(
        "n",
        F.col("e2").cast("bigint").alias("q1"),
        F.col("e4").cast("bigint").alias("median"),
        F.col("e6").cast("bigint").alias("q3"),
        F.round(bowley, 9).alias("bowley_skew"),
        F.round(moors, 9).alias("moors_kurtosis"),
    )


# ---------------------------------------------------------------------------
# #486 qq_deciles — quantile-quantile coordinates between two samples
# ---------------------------------------------------------------------------


@query(
    "q_qq_deciles",
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
            SELECT x,
                   SUM(cx) OVER (ORDER BY x) AS ccx,
                   SUM(cy) OVER (ORDER BY x) AS ccy,
                   SUM(cx) OVER () AS n,
                   SUM(cy) OVER () AS m
            FROM census
        ),
        ks AS (SELECT UNNEST(RANGE(1, 10)) AS k),
        qx AS (
            SELECT ks.k, MIN(c.x) AS qx
            FROM ks JOIN cum c ON c.ccx * 10 >= c.n * ks.k
            GROUP BY ks.k
        ),
        qy AS (
            SELECT ks.k, MIN(c.x) AS qy
            FROM ks JOIN cum c ON c.ccy * 10 >= c.m * ks.k
            GROUP BY ks.k
        ),
        pts AS (
            SELECT qx.k, qx.qx, qy.qy,
                   CAST(qx.qx - qy.qy AS BIGINT) AS gap
            FROM qx JOIN qy ON qy.k = qx.k
        ),
        mx AS (
            SELECT CAST(MAX(ABS(gap)) AS BIGINT) AS max_gap FROM pts
        )
        SELECT p.k AS decile,
               CAST(p.qx AS BIGINT) AS q_urgent,
               CAST(p.qy AS BIGINT) AS q_low,
               p.gap,
               ROUND(CAST(p.qx AS DOUBLE) / p.qy, 9) AS qq_ratio,
               m.max_gap
        FROM pts p CROSS JOIN mx m
        ORDER BY p.k
    """,
    operators=(24, 30, 272, 486),
    doc="Q-Q decile coordinates (#486) between URGENT and LOW order "
    "values: the nine matched quantile pairs (with their gaps, "
    "ratios, and the max absolute gap) — the location-by-location "
    "comparison a Q-Q plot draws, answering WHERE two distributions "
    "differ after the omnibus tests (#272 KS, #480 energy) have "
    "said THAT they differ: a constant gap means a shift, a growing "
    "ratio means a scale/tail difference. Parity: both decile "
    "ladders are integer cross-multiplication elections over the "
    "shared domain-bounded value census (one census, two cumulative "
    "columns); gaps are exact integers, ratios single divisions. "
    "Scale: one scan, one census, 9-row broadcast grid.",
    bench=False,
)
def q_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    tot = census.agg(
        F.sum("cx").cast("bigint").alias("n"),
        F.sum("cy").cast("bigint").alias("m"),
    )
    cum = census.crossJoin(F.broadcast(tot)).select(
        "x",
        F.sum("cx").over(w).alias("ccx"),
        F.sum("cy").over(w).alias("ccy"),
        "n",
        "m",
    ).localCheckpoint()
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    qx = (
        cum.crossJoin(F.broadcast(ks))
        .filter(F.col("ccx") * 10 >= F.col("n") * F.col("k"))
        .groupBy("k")
        .agg(F.min("x").alias("qx"))
    )
    qy = (
        cum.crossJoin(F.broadcast(ks))
        .filter(F.col("ccy") * 10 >= F.col("m") * F.col("k"))
        .groupBy("k")
        .agg(F.min("x").alias("qy"))
    )
    pts = qx.join(qy, "k").select(
        "k", "qx", "qy", (F.col("qx") - F.col("qy")).cast("bigint").alias("gap")
    )
    mx = pts.agg(F.max(F.abs(F.col("gap"))).cast("bigint").alias("max_gap"))
    return (
        pts.crossJoin(F.broadcast(mx))
        .select(
            F.col("k").alias("decile"),
            F.col("qx").cast("bigint").alias("q_urgent"),
            F.col("qy").cast("bigint").alias("q_low"),
            "gap",
            F.round(F.col("qx").cast("double") / F.col("qy"), 9).alias(
                "qq_ratio"
            ),
            "max_gap",
        )
        .orderBy("decile")
    )
