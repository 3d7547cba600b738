"""Round-7 second inference wave — SURVEY.md §2 (#389–#393).

Ordered-alternative and concordance machinery: Cochran-Armitage trend
in proportions, Jonckheere-Terpstra with the FULL tie-corrected
variance, Kendall's W concordance across per-series day rankings, the
Hodges-Lehmann two-sample location estimate, and Mood's median test —
all on value/group cells with integer moments, one IEEE tree each
(the #349/#373 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query

_Z_95 = "1.959963984540054"
_CHI2_1_95 = "3.841458820694124"



# ---------------------------------------------------------------------------
# #389 cochran_armitage — trend in proportions across ordered doses
# ---------------------------------------------------------------------------


@query(
    "q_cochran_armitage",
    oracle=f"""
        WITH j AS (
            SELECT LEAST(CAST(FLOOR(c.c_acctbal / 3000) AS BIGINT), 3)
                       AS s,
                   CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END AS y
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            WHERE c.c_acctbal >= 0
        ),
        cells AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS r
            FROM j GROUP BY s
        ),
        mom AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(r) AS BIGINT) AS rr,
                   CAST(SUM(s * r) AS BIGINT) AS sr,
                   CAST(SUM(s * n) AS BIGINT) AS sn,
                   CAST(SUM(s * s * n) AS BIGINT) AS ssn
            FROM cells
        )
        SELECT nn AS n_total, rr AS n_events,
               ROUND((sr - CAST(sn AS DOUBLE) * rr / nn)
                     / SQRT((CAST(rr AS DOUBLE) / nn)
                            * (1 - CAST(rr AS DOUBLE) / nn)
                            * (ssn - CAST(sn AS DOUBLE) * sn / nn)), 9) AS z,
               CAST(ABS((sr - CAST(sn AS DOUBLE) * rr / nn)
                        / SQRT((CAST(rr AS DOUBLE) / nn)
                               * (1 - CAST(rr AS DOUBLE) / nn)
                               * (ssn - CAST(sn AS DOUBLE) * sn / nn)))
                    > {_Z_95} AS INT) AS significant
        FROM mom
    """,
    operators=(13, 23, 280, 389),
    doc="Cochran-Armitage trend test (#389): is the URGENT-order rate "
    "MONOTONE in the customer's balance band (integer scores 0..3)? "
    "z = (sum s_i r_i - p-hat weighted) / sqrt(p(1-p)(sum s^2 n - "
    "(sum s n)^2/N)) — the dose-response test a plain chi-square "
    "(#280) has no power for because it ignores the ordering. All "
    "moments exact BIGINTs from a 4-cell census; one IEEE tree. "
    "Scale: one custkey join + a 4-row census.",
    bench=False,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 0)
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, o["o_custkey"] == c["c_custkey"]).select(
        F.least(
            F.floor(F.col("c_acctbal") / 3000).cast("bigint"), F.lit(3)
        ).alias("s"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    cells = j.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("r"),
    )
    mom = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("bigint").alias("sr"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("bigint")
        .alias("ssn"),
    )
    nn, rr = F.col("nn"), F.col("rr")
    p = rr.cast("double") / nn
    z = (F.col("sr") - F.col("sn").cast("double") * rr / nn) / F.sqrt(
        p * (1 - p) * (F.col("ssn") - F.col("sn").cast("double") * F.col("sn") / nn)
    )
    return mom.select(
        nn.alias("n_total"),
        rr.alias("n_events"),
        F.round(z, 9).alias("z"),
        (F.abs(z) > float(_Z_95)).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #390 jonckheere_terpstra — ordered-alternative k-group test
# ---------------------------------------------------------------------------


@query(
    "q_jonckheere_terpstra",
    oracle=f"""
        WITH o AS (
            SELECT DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        base AS (SELECT MIN(d) AS mn FROM o),
        v AS (
            SELECT (d - (SELECT mn FROM base)) // 7 AS g,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM o GROUP BY d
        ),
        cen AS (
            SELECT g, x, CAST(COUNT(*) AS BIGINT) AS f
            FROM v GROUP BY g, x
        ),
        uj AS (
            SELECT CAST(SUM(CASE WHEN b.x > a.x THEN a.f * b.f
                                 ELSE 0 END) AS BIGINT) AS gt,
                   CAST(SUM(CASE WHEN b.x = a.x THEN a.f * b.f
                                 ELSE 0 END) AS BIGINT) AS ties
            FROM cen a JOIN cen b ON b.g > a.g
        ),
        gsz AS (
            SELECT CAST(SUM(f) AS BIGINT) AS n,
                   CAST(SUM(f) * (SUM(f) - 1) AS BIGINT) AS n2,
                   CAST(SUM(f) * (SUM(f) - 1) * (SUM(f) - 2) AS BIGINT)
                       AS n3,
                   CAST(SUM(f) * (SUM(f) - 1) * (2 * SUM(f) + 5) AS BIGINT)
                       AS n25
            FROM cen GROUP BY g
        ),
        tsz AS (
            SELECT CAST(SUM(f) AS BIGINT) AS t,
                   CAST(SUM(f) * (SUM(f) - 1) AS BIGINT) AS t2,
                   CAST(SUM(f) * (SUM(f) - 1) * (SUM(f) - 2) AS BIGINT)
                       AS t3,
                   CAST(SUM(f) * (SUM(f) - 1) * (2 * SUM(f) + 5) AS BIGINT)
                       AS t25
            FROM cen GROUP BY x
        ),
        mom AS (
            SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM gsz) AS nn,
                   (SELECT CAST(SUM(n * n) AS BIGINT) FROM gsz) AS sn2,
                   (SELECT CAST(SUM(n2) AS BIGINT) FROM gsz) AS a2,
                   (SELECT CAST(SUM(n3) AS BIGINT) FROM gsz) AS a3,
                   (SELECT CAST(SUM(n25) AS BIGINT) FROM gsz) AS a25,
                   (SELECT CAST(SUM(t2) AS BIGINT) FROM tsz) AS b2,
                   (SELECT CAST(SUM(t3) AS BIGINT) FROM tsz) AS b3,
                   (SELECT CAST(SUM(t25) AS BIGINT) FROM tsz) AS b25,
                   (SELECT gt FROM uj) AS gt,
                   (SELECT ties FROM uj) AS ties
        )
        SELECT nn AS n_days, CAST(2 * gt + ties AS DOUBLE) / 2 AS j_stat,
               ROUND((2 * gt + ties - (CAST(nn AS DOUBLE) * nn - sn2) / 2)
                     / (2 * SQRT(
                        (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
                         - a25 - b25) / 72
                        + CAST(a3 AS DOUBLE) * b3
                          / (36.0 * nn * (nn - 1) * (nn - 2))
                        + CAST(a2 AS DOUBLE) * b2
                          / (8.0 * nn * (nn - 1)))), 9) AS z,
               CAST(ABS((2 * gt + ties
                         - (CAST(nn AS DOUBLE) * nn - sn2) / 2)
                        / (2 * SQRT(
                           (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
                            - a25 - b25) / 72
                           + CAST(a3 AS DOUBLE) * b3
                             / (36.0 * nn * (nn - 1) * (nn - 2))
                           + CAST(a2 AS DOUBLE) * b2
                             / (8.0 * nn * (nn - 1))))) > {_Z_95} AS INT)
                   AS significant
        FROM mom
    """,
    operators=(23, 24, 370, 390),
    doc="Jonckheere-Terpstra (#390): is daily traffic MONOTONICALLY "
    "shifting across ordered weeks? J = sum of pairwise Mann-Whitney "
    "counts over ordered group pairs (2J = 2·gt + ties, BIGINT, from "
    "ONE (group,value)-cell self-join), with the FULL tie-corrected "
    "normal variance (the three-term Kendall-style correction built "
    "from group-size and tie-size cubes — all exact integers). The "
    "ordered-alternative test Kruskal-Wallis (#370) has no power "
    "for: KW asks 'any difference', JT asks 'this direction'. "
    "Scale: cells are |groups|x|distinct values|; the day rollup is "
    "the only row-scale pass.",
    bench=False,
)
def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d")
    )
    base = o.agg(F.min("d").alias("mn"))
    v = (
        o.crossJoin(F.broadcast(base))
        .groupBy("d")
        .agg(
            F.any_value(F.expr("(d - mn) div 7")).alias("g"),
            F.count(F.lit(1)).cast("bigint").alias("x"),
        )
        .select("g", "x")
    )
    cen = v.groupBy("g", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    a = cen.select(
        F.col("g").alias("ga"), F.col("x").alias("xa"), F.col("f").alias("fa")
    )
    b = cen.select(
        F.col("g").alias("gb"), F.col("x").alias("xb"), F.col("f").alias("fb")
    )
    uj = (
        a.join(b, F.col("gb") > F.col("ga"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), F.col("fa") * F.col("fb"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("gt"),
            F.sum(
                F.when(F.col("xb") == F.col("xa"), F.col("fa") * F.col("fb"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("ties"),
        )
    )
    n_col = F.sum("f").cast("bigint")
    gsz = cen.groupBy("g").agg(
        n_col.alias("n"),
        (n_col * (n_col - 1)).alias("n2"),
        (n_col * (n_col - 1) * (n_col - 2)).alias("n3"),
        (n_col * (n_col - 1) * (2 * n_col + 5)).alias("n25"),
    )
    tsz = cen.groupBy("x").agg(
        (n_col * (n_col - 1)).alias("t2"),
        (n_col * (n_col - 1) * (n_col - 2)).alias("t3"),
        (n_col * (n_col - 1) * (2 * n_col + 5)).alias("t25"),
    )
    ga = gsz.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sn2"),
        F.sum("n2").cast("bigint").alias("a2"),
        F.sum("n3").cast("bigint").alias("a3"),
        F.sum("n25").cast("bigint").alias("a25"),
    )
    tb = tsz.agg(
        F.sum("t2").cast("bigint").alias("b2"),
        F.sum("t3").cast("bigint").alias("b3"),
        F.sum("t25").cast("bigint").alias("b25"),
    )
    mom = uj.crossJoin(F.broadcast(ga)).crossJoin(F.broadcast(tb))
    nn = F.col("nn")
    j2 = 2 * F.col("gt") + F.col("ties")
    mean2 = (nn.cast("double") * nn - F.col("sn2")) / 2
    var = (
        (nn.cast("double") * (nn - 1) * (2 * nn + 5) - F.col("a25") - F.col("b25"))
        / 72
        + F.col("a3").cast("double") * F.col("b3")
        / (36.0 * nn * (nn - 1) * (nn - 2))
        + F.col("a2").cast("double") * F.col("b2") / (8.0 * nn * (nn - 1))
    )
    z = (j2 - mean2) / (2 * F.sqrt(var))
    return mom.select(
        nn.alias("n_days"),
        (j2.cast("double") / 2).alias("j_stat"),
        F.round(z, 9).alias("z"),
        (F.abs(z) > float(_Z_95)).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #391 kendall_w — concordance of per-series day rankings
# ---------------------------------------------------------------------------


@query(
    "q_kendall_w",
    oracle="""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        days AS (
            SELECT UNNEST(GENERATE_SERIES(mn, mx)) AS d
            FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o)
        ),
        types AS (SELECT DISTINCT event_type FROM o),
        cnt AS (SELECT event_type, d, COUNT(*) AS n FROM o GROUP BY 1, 2),
        grid AS MATERIALIZED (
            SELECT t.event_type, days.d,
                   CAST(COALESCE(cnt.n, 0) AS BIGINT) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        rr AS (
            SELECT a.event_type, a.d,
                   2 * CAST(SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
                            AS BIGINT)
                   + CAST(SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END)
                          AS BIGINT) + 2 AS r2
            FROM grid a JOIN grid b ON b.event_type = a.event_type
                                   AND b.d <> a.d
            GROUP BY a.event_type, a.d
        ),
        ties AS (
            SELECT event_type,
                   CAST(SUM(f * f * f - f) AS BIGINT) AS tj
            FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS f
                  FROM grid GROUP BY event_type, x)
            GROUP BY event_type
        ),
        dims AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM types) AS k,
                   (SELECT CAST(SUM(tj) AS BIGINT) FROM ties) AS st
        ),
        rsum AS (
            SELECT d, CAST(SUM(r2) AS BIGINT) AS r2d FROM rr GROUP BY d
        ),
        ssq AS (
            SELECT CAST(SUM(CAST(
                       (CAST(r2d AS DOUBLE) / 2
                        - CAST(dm.k AS DOUBLE) * (dm.n + 1) / 2)
                       * (CAST(r2d AS DOUBLE) / 2
                          - CAST(dm.k AS DOUBLE) * (dm.n + 1) / 2)
                       AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM rsum CROSS JOIN dims dm
            GROUP BY dm.n, dm.k
        )
        SELECT d.n AS n_days, d.k AS n_judges,
               ROUND(12 * q.s
                     / (CAST(d.k AS DOUBLE) * d.k * (CAST(d.n AS DOUBLE)
                        * d.n * d.n - d.n) - CAST(d.k AS DOUBLE) * d.st),
                     9) AS w,
               ROUND(CAST(d.k AS DOUBLE) * (d.n - 1)
                     * (12 * q.s
                        / (CAST(d.k AS DOUBLE) * d.k * (CAST(d.n AS DOUBLE)
                           * d.n * d.n - d.n)
                           - CAST(d.k AS DOUBLE) * d.st)), 9) AS chi2
        FROM ssq q CROSS JOIN dims d
    """,
    operators=(23, 31, 371, 391),
    doc="Kendall's W (#391): do the k event-type series RANK the days "
    "the same way (are 'busy days' busy for every signal)? Each "
    "series ranks all days via the #349 integer 2·rank census "
    "(self-join on the zero-completed grid, midranks as exact "
    "BIGINTs), W = 12·S / (k^2(n^3-n) - k·sum T_j) with the exact "
    "per-judge tie cubes, plus the chi2 = k(n-1)W approximation — "
    "the transpose of Friedman (#371): same grid, concordance OF "
    "the judges instead of differences BETWEEN treatments. Scale: "
    "the rank self-join is per-series over day cells.",
    bench=False,
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
    )
    types = o.select("event_type").distinct()
    cnt = o.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("x"),
        )
    )
    a = grid.select("event_type", F.col("d").alias("da"), F.col("x").alias("xa"))
    b = grid.select("event_type", F.col("d").alias("db"), F.col("x").alias("xb"))
    rr = (
        a.join(b, ["event_type"])
        .filter(F.col("db") != F.col("da"))
        .groupBy("event_type", "da")
        .agg(
            (
                2 * F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
                + F.sum(F.when(F.col("xb") == F.col("xa"), 1).otherwise(0))
                + 2
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    ties = (
        grid.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("f") * F.col("f") * F.col("f") - F.col("f"))
            .cast("bigint")
            .alias("tj")
        )
    )
    dims = (
        days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(types.agg(F.count(F.lit(1)).cast("bigint").alias("k")))
        .crossJoin(ties.agg(F.sum("tj").cast("bigint").alias("st")))
    )
    rsum = rr.groupBy("da").agg(F.sum("r2").cast("bigint").alias("r2d"))
    ssq = (
        rsum.crossJoin(F.broadcast(dims))
        .groupBy("n", "k", "st")
        .agg(
            F.sum(
                (
                    (
                        F.col("r2d").cast("double") / 2
                        - F.col("k").cast("double") * (F.col("n") + 1) / 2
                    )
                    * (
                        F.col("r2d").cast("double") / 2
                        - F.col("k").cast("double") * (F.col("n") + 1) / 2
                    )
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("s")
        )
    )
    k, n = F.col("k"), F.col("n")
    w = (
        12
        * F.col("s")
        / (
            k.cast("double") * k * (n.cast("double") * n * n - n)
            - k.cast("double") * F.col("st")
        )
    )
    return ssq.select(
        n.alias("n_days"),
        k.alias("n_judges"),
        F.round(w, 9).alias("w"),
        F.round(k.cast("double") * (n - 1) * w, 9).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# #392 hodges_lehmann — robust two-sample location shift estimate
# ---------------------------------------------------------------------------


@query(
    "q_hodges_lehmann",
    oracle="""
        WITH v AS (
            SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        ca AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v
               WHERE arm = 0 GROUP BY x),
        cb AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v
               WHERE arm = 1 GROUP BY x),
        dc AS (
            SELECT a.x - b.x AS dv,
                   CAST(SUM(a.f * b.f) AS BIGINT) AS w
            FROM ca a CROSS JOIN cb b
            GROUP BY a.x - b.x
        ),
        cum AS (
            SELECT dv, w,
                   CAST(SUM(w) OVER (ORDER BY dv) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER () AS BIGINT) AS tw
            FROM dc
        ),
        lo AS (SELECT MIN(dv) AS d_lo FROM cum
               WHERE cw >= (tw + 1) // 2),
        hi AS (SELECT MIN(dv) AS d_hi FROM cum
               WHERE cw >= tw // 2 + 1)
        SELECT (SELECT CAST(tw AS BIGINT) FROM cum LIMIT 1) AS n_pairs,
               (SELECT d_lo FROM lo) AS hl_lo,
               (SELECT d_hi FROM hi) AS hl_hi,
               ROUND((CAST((SELECT d_lo FROM lo) AS DOUBLE)
                      + (SELECT d_hi FROM hi)) / 2, 9) AS hl_estimate
    """,
    operators=(23, 31, 373, 392),
    doc="Hodges-Lehmann estimator (#392): the MEDIAN of all n1·n2 "
    "pairwise differences between the arms — the location-shift "
    "ESTIMATE that pairs with Mann-Whitney's test (#373): robust "
    "like the median, yet ~0.96 as efficient as the mean under "
    "normality. Computed entirely on cells: the difference census "
    "weights each distinct (xa - xb) by fa·fb (never user pairs), "
    "the weighted median is two rank-selection scans over the "
    "cumulative census (lower/upper at ceil(T/2) and T/2+1), all "
    "BIGINT until the final midpoint. Scale: |distinct values|^2 "
    "cells; the per-user rollup is the only row-scale pass.",
    bench=False,
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select((F.col("user_id") % 2).alias("arm"), "x")
        .cache()
    )
    ca = (
        v.filter(F.col("arm") == 0)
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .select(F.col("x").alias("xa"), F.col("f").alias("fa"))
    )
    cb = (
        v.filter(F.col("arm") == 1)
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .select(F.col("x").alias("xb"), F.col("f").alias("fb"))
    )
    dc = (
        ca.crossJoin(cb)
        .groupBy((F.col("xa") - F.col("xb")).alias("dv"))
        .agg(F.sum(F.col("fa") * F.col("fb")).cast("bigint").alias("w"))
    )
    w_cum = Window.orderBy("dv").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dc.select(
        "dv",
        F.sum("w").over(w_cum).cast("bigint").alias("cw"),
        F.sum("w").over(w_all).cast("bigint").alias("tw"),
    )
    lo = cum.filter(F.col("cw") >= F.expr("(tw + 1) div 2")).agg(
        F.min("dv").alias("hl_lo")
    )
    hi = cum.filter(F.col("cw") >= F.expr("tw div 2 + 1")).agg(
        F.min("dv").alias("hl_hi")
    )
    tw = cum.agg(F.any_value(F.col("tw")).alias("n_pairs"))
    return (
        tw.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_pairs",
            "hl_lo",
            "hl_hi",
            F.round(
                (F.col("hl_lo").cast("double") + F.col("hl_hi")) / 2, 9
            ).alias("hl_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# #393 mood_median — k-group median test
# ---------------------------------------------------------------------------


@query(
    "q_mood_median",
    oracle=f"""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        v AS (
            SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS x
            FROM o GROUP BY event_type, d
        ),
        med AS (
            SELECT CAST(SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                                 THEN x ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                              THEN 1 ELSE 0 END) AS gm
            FROM (SELECT x,
                         ROW_NUMBER() OVER (ORDER BY x, event_type, d) AS rn,
                         COUNT(*) OVER () AS m
                  FROM v)
        ),
        cells AS (
            SELECT v.event_type,
                   CAST(SUM(CASE WHEN v.x > med.gm THEN 1 ELSE 0 END)
                        AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN v.x < med.gm THEN 1 ELSE 0 END)
                        AS BIGINT) AS b
            FROM v CROSS JOIN med
            GROUP BY v.event_type
        ),
        mom AS (
            SELECT CAST(SUM(a) AS BIGINT) AS ta,
                   CAST(SUM(b) AS BIGINT) AS tb
            FROM cells
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS k,
               m.ta + m.tb AS n_used,
               ROUND(CAST(SUM(CAST(
                   (c.a - CAST(c.a + c.b AS DOUBLE) * m.ta / (m.ta + m.tb))
                   * (c.a - CAST(c.a + c.b AS DOUBLE) * m.ta / (m.ta + m.tb))
                   / (CAST(c.a + c.b AS DOUBLE) * m.ta / (m.ta + m.tb))
                   + (c.b - CAST(c.a + c.b AS DOUBLE) * m.tb / (m.ta + m.tb))
                     * (c.b - CAST(c.a + c.b AS DOUBLE) * m.tb
                        / (m.ta + m.tb))
                     / (CAST(c.a + c.b AS DOUBLE) * m.tb / (m.ta + m.tb))
                   AS DECIMAL(38,18))) AS DOUBLE), 9) AS chi2,
               CAST(CAST(SUM(CAST(
                   (c.a - CAST(c.a + c.b AS DOUBLE) * m.ta / (m.ta + m.tb))
                   * (c.a - CAST(c.a + c.b AS DOUBLE) * m.ta / (m.ta + m.tb))
                   / (CAST(c.a + c.b AS DOUBLE) * m.ta / (m.ta + m.tb))
                   + (c.b - CAST(c.a + c.b AS DOUBLE) * m.tb / (m.ta + m.tb))
                     * (c.b - CAST(c.a + c.b AS DOUBLE) * m.tb
                        / (m.ta + m.tb))
                     / (CAST(c.a + c.b AS DOUBLE) * m.tb / (m.ta + m.tb))
                   AS DECIMAL(38,18))) AS DOUBLE)
                    > CASE (SELECT COUNT(*) FROM cells) - 1
                        WHEN 1 THEN 3.841458820694124
                        WHEN 2 THEN 5.991464547107979
                        WHEN 3 THEN 7.814727903251179
                        WHEN 4 THEN 9.487729036781154
                        WHEN 5 THEN 11.070497693516351
                        WHEN 6 THEN 12.591587243743977
                        WHEN 7 THEN 14.067140449340169
                        ELSE 15.50731305586545 END AS INT) AS significant
        FROM cells c CROSS JOIN mom m
        GROUP BY m.ta, m.tb
    """,
    operators=(23, 30, 370, 393),
    doc="Mood's median test (#393): do the k series share a common "
    "median daily load? Days above/below the GRAND median (exact "
    "rank selection, ties-at-median dropped) form a 2xk contingency "
    "table; chi2 = sum (O-E)^2/E with chi2(k-1) gate — the coarse "
    "but outlier-immune sibling of Kruskal-Wallis (#370): it only "
    "looks at which side of the median each day lands, so a single "
    "monster day cannot move it. Counts exact; per-cell chi2 terms "
    "sum through DECIMAL(38,18). Scale: one rank-selection over the "
    "pooled census + a k-row census. The significance gate keys the "
    "chi2 95% critical value on the observed dof = k-1 (CASE over "
    "dof 1..7, else the dof-8 value) so the flag stays honest as "
    "the fixture's group count changes across scale factors.",
    bench=False,
)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    v = o.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w_rank = Window.orderBy("x", "event_type", "d")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = v.select(
        "x",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    med = ranked.filter(
        (F.col("rn") == F.expr("(m + 1) div 2"))
        | (F.col("rn") == F.expr("(m + 2) div 2"))
    ).agg((F.sum("x").cast("double") / F.count(F.lit(1))).alias("gm"))
    cells = (
        v.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("x") > F.col("gm"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("x") < F.col("gm"), 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
        )
    )
    mom = cells.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = cells.crossJoin(F.broadcast(mom))
    ta, tb = F.col("ta"), F.col("tb")
    row_n = (F.col("a") + F.col("b")).cast("double")
    ea = row_n * ta / (ta + tb)
    eb = row_n * tb / (ta + tb)
    term = (
        (F.col("a") - ea) * (F.col("a") - ea) / ea
        + (F.col("b") - eb) * (F.col("b") - eb) / eb
    ).cast("decimal(38,18)")
    agg = j.groupBy("ta", "tb", "k").agg(
        F.sum(term).cast("double").alias("chi2")
    )
    crit = (
        F.when(F.col("k") - 1 == 1, 3.841458820694124)
        .when(F.col("k") - 1 == 2, 5.991464547107979)
        .when(F.col("k") - 1 == 3, 7.814727903251179)
        .when(F.col("k") - 1 == 4, 9.487729036781154)
        .when(F.col("k") - 1 == 5, 11.070497693516351)
        .when(F.col("k") - 1 == 6, 12.591587243743977)
        .when(F.col("k") - 1 == 7, 14.067140449340169)
        .otherwise(15.50731305586545)
    )
    return agg.select(
        "k",
        (ta + tb).alias("n_used"),
        F.round("chi2", 9).alias("chi2"),
        (F.col("chi2") > crit).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #396 binseg_changepoint — exact offline single-split segmentation
# ---------------------------------------------------------------------------


@query(
    "q_binseg_changepoint",
    oracle="""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        days AS (
            SELECT UNNEST(GENERATE_SERIES(mn, mx)) AS d
            FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o)
        ),
        types AS (SELECT DISTINCT event_type FROM o),
        cnt AS (SELECT event_type, d, COUNT(*) AS n FROM o GROUP BY 1, 2),
        grid AS MATERIALIZED (
            SELECT t.event_type,
                   days.d - (SELECT MIN(d) FROM days) AS t,
                   CAST(COALESCE(cnt.n, 0) AS BIGINT) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        pre AS (
            SELECT event_type, t,
                   CAST(SUM(x) OVER w AS BIGINT) AS sl,
                   CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT)
                       AS st,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM grid
            WINDOW w AS (PARTITION BY event_type ORDER BY t)
        ),
        gains AS (
            SELECT event_type, t, n, sl, st,
                   CAST(sl AS DOUBLE) * sl / (t + 1)
                   + (CAST(st AS DOUBLE) - sl) * (st - sl) / (n - t - 1)
                   - CAST(st AS DOUBLE) * st / n AS gain
            FROM pre WHERE t < n - 1
        ),
        best AS (
            SELECT event_type, t, n, sl, st, gain,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ROUND(gain, 9) DESC, t)
                       AS rn
            FROM gains
        )
        SELECT event_type, t AS split_t, n AS n_days,
               ROUND(CAST(sl AS DOUBLE) / (t + 1), 9) AS mean_left,
               ROUND((CAST(st AS DOUBLE) - sl) / (n - t - 1), 9)
                   AS mean_right,
               ROUND(gain, 9) AS sse_gain
        FROM best WHERE rn = 1
        ORDER BY event_type
    """,
    operators=(23, 31, 237, 396),
    doc="Binary-segmentation changepoint (#396): the EXACT offline "
    "single-split mean-shift locator — argmax over t of the SSE "
    "reduction S_L^2/n_L + S_R^2/n_R - S^2/n, computed for EVERY "
    "candidate split from integer prefix sums in ONE cumulative "
    "window pass (no per-split rescan). The offline exact complement "
    "to the online detectors (CUSUM #237, Page-Hinkley #352, EWMA "
    "#344): they flag WHEN drift started in a stream, this names the "
    "best split in a batch, and recursing on the halves yields full "
    "binary segmentation. Argmax on ROUND(9) with the earliest-t "
    "tie-break. Scale: per-series windows over day cells.",
    bench=False,
)
def q_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.col("mn"), F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
    )
    types = o.select("event_type").distinct()
    cnt = o.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type",
            (F.col("d") - F.col("mn")).alias("t"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("x"),
        )
    )
    wp = Window.partitionBy("event_type")
    w = wp.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pre = grid.select(
        "event_type",
        "t",
        F.sum("x").over(w).cast("bigint").alias("sl"),
        F.sum("x").over(wp).cast("bigint").alias("st"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    sl, st, t, n = F.col("sl"), F.col("st"), F.col("t"), F.col("n")
    gain = (
        sl.cast("double") * sl / (t + 1)
        + (st.cast("double") - sl) * (st - sl) / (n - t - 1)
        - st.cast("double") * st / n
    )
    gains = pre.filter(t < n - 1).withColumn("gain", gain)
    w_best = Window.partitionBy("event_type").orderBy(
        F.round(F.col("gain"), 9).desc(), "t"
    )
    return (
        gains.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            t.alias("split_t"),
            n.alias("n_days"),
            F.round(sl.cast("double") / (t + 1), 9).alias("mean_left"),
            F.round(
                (st.cast("double") - sl) / (n - t - 1), 9
            ).alias("mean_right"),
            F.round("gain", 9).alias("sse_gain"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# #397 ransac_line — robust consensus line fit with md5 sampling
# ---------------------------------------------------------------------------

_RANSAC_K = 16  # candidate models per series
_RANSAC_EPS = "3.0"  # inlier residual threshold (events/day)


@query(
    "q_ransac_line",
    oracle=f"""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        days AS (
            SELECT UNNEST(GENERATE_SERIES(mn, mx)) AS d
            FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o)
        ),
        types AS (SELECT DISTINCT event_type FROM o),
        cnt AS (SELECT event_type, d, COUNT(*) AS n FROM o GROUP BY 1, 2),
        grid AS MATERIALIZED (
            SELECT t.event_type,
                   days.d - (SELECT MIN(d) FROM days) AS t,
                   CAST(COALESCE(cnt.n, 0) AS BIGINT) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
        cand AS (
            SELECT ty.event_type, c.c, n.n,
                   CAST(('0x' || SUBSTR(MD5('ransac:' || ty.event_type
                                             || ':' || c.c), 1, 13))
                        AS BIGINT) % n.n AS i1,
                   CAST(('0x' || SUBSTR(MD5('ransac:' || ty.event_type
                                             || ':' || c.c), 14, 13))
                        AS BIGINT) % (n.n - 1) AS i2r
            FROM types ty
            CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0,
                                      {_RANSAC_K - 1})) AS c) c
            CROSS JOIN nn n
        ),
        lines AS (
            SELECT cd.event_type, cd.c,
                   cd.i1 AS t1,
                   cd.i2r + CASE WHEN cd.i2r >= cd.i1 THEN 1 ELSE 0 END
                       AS t2,
                   g1.x AS y1, g2.x AS y2,
                   (CAST(g2.x AS DOUBLE) - g1.x)
                   / ((cd.i2r + CASE WHEN cd.i2r >= cd.i1 THEN 1 ELSE 0 END)
                      - cd.i1) AS b
            FROM cand cd
            JOIN grid g1 ON g1.event_type = cd.event_type AND g1.t = cd.i1
            JOIN grid g2 ON g2.event_type = cd.event_type
                        AND g2.t = cd.i2r
                            + CASE WHEN cd.i2r >= cd.i1 THEN 1 ELSE 0 END
        ),
        scored AS (
            SELECT l.event_type, l.c, l.b,
                   CAST(l.y1 AS DOUBLE) - l.b * l.t1 AS a,
                   CAST(SUM(CASE WHEN ABS(g.x - ((CAST(l.y1 AS DOUBLE)
                                                  - l.b * l.t1)
                                                 + l.b * g.t))
                                      <= {_RANSAC_EPS}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lines l
            JOIN grid g ON g.event_type = l.event_type
            GROUP BY l.event_type, l.c, l.b, l.y1, l.t1
        ),
        best AS (
            SELECT event_type, c, a, b, n_in, n,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY n_in DESC, c) AS rn
            FROM scored
        )
        -- "+ 0" canonicalizes IEEE -0.0 (a zero-rise pair with t2 < t1
        -- yields slope 0/negative = -0.0, which DuckDB's ROUND keeps
        -- while Spark's returns +0.0) to bit-identical +0.0.
        SELECT event_type, CAST(c AS BIGINT) AS best_candidate,
               ROUND(b, 9) + 0 AS slope, ROUND(a, 9) + 0 AS intercept,
               n_in AS n_inliers,
               ROUND(CAST(n_in AS DOUBLE) / n, 9) AS inlier_frac
        FROM best WHERE rn = 1
        ORDER BY event_type
    """,
    operators=(13, 23, 342, 397),
    doc=f"Deterministic RANSAC line fit (#397): {_RANSAC_K} candidate "
    "models per series, each through two md5-chosen days (the #203 "
    "derandomization: sample indices are hash functions of (series, "
    "candidate), so every engine draws the SAME sample), scored by "
    f"inlier count at |residual| <= {_RANSAC_EPS}, best by "
    "(inliers, candidate id) — the consensus-fit alternative to OLS "
    "(#163) and Theil-Sen (#342) that a 30% outlier contamination "
    "cannot drag: the breakdown point is the inlier threshold, not "
    "the estimator. Integer inlier counts; slope/intercept one IEEE "
    "tree; candidates x days is a bounded fan-out. Scale: the score "
    "join is |series| x K x days — K is a constant, days are cells; "
    "per-series parallel, no quadratic anything.",
    bench=False,
)
def q_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.col("mn"), F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
    )
    types = o.select("event_type").distinct()
    cnt = o.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type",
            (F.col("d") - F.col("mn")).alias("t"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("x"),
        )
        .cache()
    )
    nn = days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def h(start: int):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ransac:"),
                        F.col("event_type"),
                        F.lit(":"),
                        F.col("c").cast("string"),
                    ).cast("binary")
                ),
                start,
                13,
            ),
            16,
            10,
        ).cast("long")

    cand = (
        types.crossJoin(
            F.broadcast(
                days.sparkSession.range(_RANSAC_K).select(
                    F.col("id").alias("c")
                )
            )
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "event_type",
            "c",
            "n",
            (h(1) % F.col("n")).alias("i1"),
            (h(14) % (F.col("n") - 1)).alias("i2r"),
        )
    )
    t2 = F.col("i2r") + F.when(F.col("i2r") >= F.col("i1"), 1).otherwise(0)
    g1 = grid.select(
        "event_type", F.col("t").alias("i1"), F.col("x").alias("y1")
    )
    g2 = grid.select(
        "event_type", F.col("t").alias("t2"), F.col("x").alias("y2")
    )
    lines = (
        cand.withColumn("t2", t2)
        .join(g1, ["event_type", "i1"])
        .join(g2, ["event_type", "t2"])
        .select(
            "event_type",
            "c",
            F.col("i1").alias("t1"),
            "t2",
            "y1",
            (
                (F.col("y2").cast("double") - F.col("y1"))
                / (F.col("t2") - F.col("i1"))
            ).alias("b"),
        )
    )
    a_expr = F.col("y1").cast("double") - F.col("b") * F.col("t1")
    scored = (
        lines.join(grid, "event_type")
        .groupBy("event_type", "c", "b", "y1", "t1")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        F.col("x")
                        - (
                            (F.col("y1").cast("double") - F.col("b") * F.col("t1"))
                            + F.col("b") * F.col("t")
                        )
                    )
                    <= float(_RANSAC_EPS),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_in"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .withColumn("a", a_expr)
    )
    w_best = Window.partitionBy("event_type").orderBy(F.desc("n_in"), "c")
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("c").cast("bigint").alias("best_candidate"),
            # + 0 mirrors the oracle's -0.0 canonicalization (IEEE:
            # -0.0 + 0 = +0.0) so both engines emit the same bits.
            (F.round("b", 9) + F.lit(0)).alias("slope"),
            (F.round("a", 9) + F.lit(0)).alias("intercept"),
            F.col("n_in").alias("n_inliers"),
            F.round(F.col("n_in").cast("double") / F.col("n"), 9).alias(
                "inlier_frac"
            ),
        )
        .orderBy("event_type")
    )
