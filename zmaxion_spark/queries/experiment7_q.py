"""Round-7 experimentation wave — SURVEY.md §2 (#394–#395).

Exact Bayesian A/B (the closed finite-sum P(B > A) over Beta
posteriors, computed with the #375 portable ln-factorial machinery)
and the doubly-robust ATE estimator that combines the propensity
(#281/#306) and outcome-regression (#163) halves the engine already
carries — consistent if EITHER model is right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.analysis7_q import _sql_lf
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #394 bayesian_ab — exact P(variant beats control) over Beta posteriors
# ---------------------------------------------------------------------------


def _sql_lbeta(x: str, y: str) -> str:
    """ln Beta(x, y) for positive-integer SQL expressions."""
    return (
        f"({_sql_lf(f'({x}) - 1')} + {_sql_lf(f'({y}) - 1')}"
        f" - {_sql_lf(f'({x}) + ({y}) - 1')})"
    )


# P(B > A) = sum_{i=0}^{aB-1} exp( lnB(aA+i, bA+bB) - ln(bB+i)
#                                  - lnB(1+i, bB) - lnB(aA, bA) )
_BAYES_TERM = (
    f"({_sql_lbeta('aa + i', 'ba + bb')} - LN(CAST(bb + i AS DOUBLE))"
    f" - {_sql_lbeta('1 + i', 'bb')} - {_sql_lbeta('aa', 'ba')})"
)


@query(
    "q_bayesian_ab",
    oracle=f"""
        WITH conv AS (
            SELECT user_id % 2 AS arm,
                   CAST(MAX(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT)
                       + 1 AS aa,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 - c ELSE 0 END)
                        AS BIGINT) + 1 AS ba,
                   CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT)
                       + 1 AS ab,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 - c ELSE 0 END)
                        AS BIGINT) + 1 AS bb_
            FROM conv
        ),
        ks AS (
            SELECT aa, ba, ab, bb_ AS bb,
                   UNNEST(GENERATE_SERIES(CAST(0 AS BIGINT), ab - 1)) AS i
            FROM cells
        ),
        terms AS (
            SELECT aa, ba, ab, bb, {_BAYES_TERM} AS lt FROM ks
        )
        SELECT ANY_VALUE(aa) - 1 AS conv_a,
               ANY_VALUE(aa) + ANY_VALUE(ba) - 2 AS n_a,
               ANY_VALUE(ab) - 1 AS conv_b,
               ANY_VALUE(ab) + ANY_VALUE(bb) - 2 AS n_b,
               ROUND(CAST(SUM(CAST(EXP(lt) AS DECIMAL(38,18))) AS DOUBLE), 9)
                   AS p_b_beats_a,
               CAST(CAST(SUM(CAST(EXP(lt) AS DECIMAL(38,18))) AS DOUBLE)
                    >= 0.95 AS INT) AS ship_b
        FROM terms
        GROUP BY ALL
    """,
    operators=(23, 24, 375, 394),
    doc="Exact Bayesian A/B (#394): P(p_B > p_A) under independent "
    "Beta(1,1)-prior posteriors on per-user purchase conversion — "
    "computed by the EXACT finite sum sum_i exp(lnB(aA+i, bA+bB) - "
    "ln(bB+i) - lnB(1+i,bB) - lnB(aA,bA)) rather than Monte Carlo, "
    "so the decision is deterministic and oracle-checkable; the "
    "posterior-probability framing answers 'how sure are we B is "
    "better' where the frequentist gates (#147/#286/#369) answer "
    "'can we reject equality'. Parity: ln-Beta through the #375 "
    "portable Stirling lf() (one generated SQL text, no engine "
    "lgamma), terms sum through DECIMAL(38,18). Scale: the sum has "
    "conversions_B + 1 terms fanned from ONE 1-row census — linear, "
    "partitionable, and bounded by the conversion count.",
    bench=False,
)
def q_bayesian_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    conv = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("c")
        )
        .select((F.col("user_id") % 2).alias("arm"), "c")
    )
    cells = conv.agg(
        (F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("aa"),
        (F.sum(F.when(F.col("arm") == 0, 1 - F.col("c")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("ba"),
        (F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("ab"),
        (F.sum(F.when(F.col("arm") == 1, 1 - F.col("c")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("bb"),
    )
    ks = cells.select(
        "aa",
        "ba",
        "ab",
        "bb",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("ab") - 1)
        ).alias("i"),
    )
    terms = ks.select(
        "aa", "ba", "ab", "bb", F.expr(_BAYES_TERM).alias("lt")
    )
    psum = F.sum(F.exp(F.col("lt")).cast("decimal(38,18)")).cast("double")
    return terms.groupBy().agg(
        (F.any_value(F.col("aa")) - 1).alias("conv_a"),
        (F.any_value(F.col("aa")) + F.any_value(F.col("ba")) - 2).alias("n_a"),
        (F.any_value(F.col("ab")) - 1).alias("conv_b"),
        (F.any_value(F.col("ab")) + F.any_value(F.col("bb")) - 2).alias("n_b"),
        F.round(psum, 9).alias("p_b_beats_a"),
        (psum >= 0.95).cast("int").alias("ship_b"),
    )


# ---------------------------------------------------------------------------
# #395 doubly_robust_ate — AIPW combining propensity + outcome models
# ---------------------------------------------------------------------------


@query(
    "q_doubly_robust_ate",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(user_id % 2 AS BIGINT) AS tr,
                   LEAST(CAST(COUNT(*) AS BIGINT) // 20, 4) AS xb,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS y
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT xb, tr, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy
            FROM u GROUP BY xb, tr
        ),
        ols AS (
            SELECT tr,
                   (CAST(SUM(xb * sy) AS DOUBLE)
                    - CAST(SUM(n * xb) AS DOUBLE) * SUM(sy) / SUM(n))
                   / (CAST(SUM(n * xb * xb) AS DOUBLE)
                      - CAST(SUM(n * xb) AS DOUBLE) * SUM(n * xb) / SUM(n))
                       AS b,
                   CAST(SUM(sy) AS DOUBLE) / SUM(n)
                   - ((CAST(SUM(xb * sy) AS DOUBLE)
                       - CAST(SUM(n * xb) AS DOUBLE) * SUM(sy) / SUM(n))
                      / (CAST(SUM(n * xb * xb) AS DOUBLE)
                         - CAST(SUM(n * xb) AS DOUBLE) * SUM(n * xb)
                           / SUM(n)))
                     * (CAST(SUM(n * xb) AS DOUBLE) / SUM(n)) AS a
            FROM cells GROUP BY tr
        ),
        ps AS (
            SELECT xb,
                   CAST(SUM(CASE WHEN tr = 1 THEN n ELSE 0 END) AS DOUBLE)
                   / SUM(n) AS e,
                   CAST(SUM(n) AS BIGINT) AS nx
            FROM cells GROUP BY xb
        ),
        terms AS (
            SELECT c.xb, c.tr, c.n, c.sy, p.e,
                   o1.a + o1.b * c.xb AS mu1,
                   o0.a + o0.b * c.xb AS mu0
            FROM cells c
            JOIN ps p ON p.xb = c.xb
            JOIN ols o1 ON o1.tr = 1
            JOIN ols o0 ON o0.tr = 0
        ),
        agg AS (
            SELECT CAST(SUM(CAST(
                       n * (mu1 - mu0)
                       + CASE WHEN tr = 1
                              THEN (sy - n * mu1) / e
                              ELSE -(sy - n * mu0) / (1 - e) END
                       AS DECIMAL(38,12))) AS DOUBLE)
                   / (SELECT SUM(n) FROM cells) AS ate_dr,
                   CAST(SUM(CASE WHEN tr = 1 THEN sy ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN tr = 1 THEN n ELSE 0 END)
                   - CAST(SUM(CASE WHEN tr = 0 THEN sy ELSE 0 END)
                          AS DOUBLE)
                     / SUM(CASE WHEN tr = 0 THEN n ELSE 0 END) AS ate_naive,
                   CAST(SUM(n) AS BIGINT) AS n_users
            FROM terms
        )
        SELECT n_users,
               ROUND(ate_naive / 100, 9) AS ate_naive,
               ROUND(ate_dr / 100, 9) AS ate_dr
        FROM agg
    """,
    operators=(23, 163, 281, 395),
    doc="Doubly-robust (AIPW) ATE (#395): combines the stratified "
    "propensity e(x) (activity-band cells, the #281 discipline) with "
    "per-arm LINEAR outcome models mu_t(x) = a_t + b_t x (weighted "
    "OLS over the same cells, #163) into the augmented estimator "
    "ATE = mean[mu1 - mu0 + T(y - mu1)/e - (1-T)(y - mu0)/(1-e)] — "
    "consistent if EITHER the propensity or the outcome model is "
    "right, the safety property neither IPW (#284) nor regression "
    "alone has. Because both models are functions of the band, the "
    "per-user sum COLLAPSES onto the (band, arm) cells: n·(mu1-mu0) "
    "+ (sy - n·mu_t)/e per cell — integer cents and counts into one "
    "decimal-quantized sum, no per-user pass after the rollup. "
    "Scale: one per-user rollup, then 10-cell algebra.",
    bench=False,
)
def q_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("tr"),
            F.least(F.expr("cnt div 20"), F.lit(4).cast("bigint")).alias("xb"),
            "y",
        )
    )
    cells = u.groupBy("xb", "tr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    ).cache()
    sn = F.sum("n")
    sxn = F.sum(F.col("n") * F.col("xb"))
    sxxn = F.sum(F.col("n") * F.col("xb") * F.col("xb"))
    sy_ = F.sum("sy")
    sxy = F.sum(F.col("xb") * F.col("sy"))
    ols = cells.groupBy("tr").agg(
        sn.cast("bigint").alias("sn"),
        sxn.cast("bigint").alias("sxn"),
        sxxn.cast("bigint").alias("sxxn"),
        sy_.cast("bigint").alias("sy_"),
        sxy.cast("bigint").alias("sxy"),
    )
    b = (
        F.col("sxy").cast("double")
        - F.col("sxn").cast("double") * F.col("sy_") / F.col("sn")
    ) / (
        F.col("sxxn").cast("double")
        - F.col("sxn").cast("double") * F.col("sxn") / F.col("sn")
    )
    a = F.col("sy_").cast("double") / F.col("sn") - b * (
        F.col("sxn").cast("double") / F.col("sn")
    )
    fit = ols.select("tr", a.alias("a"), b.alias("b"))
    ps = cells.groupBy("xb").agg(
        (
            F.sum(F.when(F.col("tr") == 1, F.col("n")).otherwise(0)).cast(
                "double"
            )
            / F.sum("n")
        ).alias("e")
    )
    o1 = fit.filter(F.col("tr") == 1).select(
        F.col("a").alias("a1"), F.col("b").alias("b1")
    )
    o0 = fit.filter(F.col("tr") == 0).select(
        F.col("a").alias("a0"), F.col("b").alias("b0")
    )
    terms = (
        cells.join(F.broadcast(ps), "xb")
        .crossJoin(F.broadcast(o1))
        .crossJoin(F.broadcast(o0))
        .select(
            "xb",
            "tr",
            "n",
            "sy",
            "e",
            (F.col("a1") + F.col("b1") * F.col("xb")).alias("mu1"),
            (F.col("a0") + F.col("b0") * F.col("xb")).alias("mu0"),
        )
    )
    contrib = (
        F.col("n") * (F.col("mu1") - F.col("mu0"))
        + F.when(
            F.col("tr") == 1,
            (F.col("sy") - F.col("n") * F.col("mu1")) / F.col("e"),
        ).otherwise(
            -(F.col("sy") - F.col("n") * F.col("mu0")) / (1 - F.col("e"))
        )
    ).cast("decimal(38,12)")
    agg = terms.agg(
        F.sum(contrib).cast("double").alias("s_dr"),
        F.sum(F.when(F.col("tr") == 1, F.col("sy")).otherwise(0))
        .cast("double")
        .alias("sy1"),
        F.sum(F.when(F.col("tr") == 1, F.col("n")).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("tr") == 0, F.col("sy")).otherwise(0))
        .cast("double")
        .alias("sy0"),
        F.sum(F.when(F.col("tr") == 0, F.col("n")).otherwise(0)).alias("n0"),
        F.sum("n").cast("bigint").alias("n_users"),
    )
    return agg.select(
        "n_users",
        F.round(
            (F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0")) / 100, 9
        ).alias("ate_naive"),
        F.round(F.col("s_dr") / F.col("n_users") / 100, 9).alias("ate_dr"),
    )


# ---------------------------------------------------------------------------
# #398 gmm_em — 2-component 1-D Gaussian mixture, fixed EM rounds
# ---------------------------------------------------------------------------

_GMM_ROUNDS = 4


def _gmm_estep_sql(w: str, m1: str, s1: str, m2: str, s2: str) -> dict:
    """E-step cell expressions given param SQL expressions."""
    d1 = f"((CAST(x AS DOUBLE) - {m1}) / {s1})"
    d2 = f"((CAST(x AS DOUBLE) - {m2}) / {s2})"
    g1 = f"(({w} / {s1}) * EXP(-0.5 * {d1} * {d1}))"
    g2 = f"(((1 - {w}) / {s2}) * EXP(-0.5 * {d2} * {d2}))"
    r1 = f"({g1} / ({g1} + {g2}))"
    return {"g1": g1, "g2": g2, "r1": r1}


def _gmm_msql(i: int, prev: str) -> str:
    """One EM round as two chained CTEs (e{i}: cells+resp, p{i}: params)."""
    e = _gmm_estep_sql(
        f"(SELECT w FROM {prev})",
        f"(SELECT m1 FROM {prev})",
        f"(SELECT s1 FROM {prev})",
        f"(SELECT m2 FROM {prev})",
        f"(SELECT s2 FROM {prev})",
    )
    t1 = f"(CAST(f AS DOUBLE) * {e['r1']})"
    t2 = f"(CAST(f AS DOUBLE) * (1 - {e['r1']}))"
    return f"""
        m{i} AS MATERIALIZED (
            SELECT
              CAST(SUM(CAST({t1} AS DECIMAL(38,18))) AS DOUBLE) AS sw1,
              CAST(SUM(CAST({t1} * CAST(x AS DOUBLE) AS DECIMAL(38,18)))
                   AS DOUBLE) AS sx1,
              CAST(SUM(CAST(({t1} * CAST(x AS DOUBLE)) * CAST(x AS DOUBLE)
                            AS DECIMAL(38,18))) AS DOUBLE) AS sxx1,
              CAST(SUM(CAST({t2} AS DECIMAL(38,18))) AS DOUBLE) AS sw2,
              CAST(SUM(CAST({t2} * CAST(x AS DOUBLE) AS DECIMAL(38,18)))
                   AS DOUBLE) AS sx2,
              CAST(SUM(CAST(({t2} * CAST(x AS DOUBLE)) * CAST(x AS DOUBLE)
                            AS DECIMAL(38,18))) AS DOUBLE) AS sxx2
            FROM cen
        ),
        p{i} AS MATERIALIZED (
            SELECT sw1 / (SELECT CAST(nn AS DOUBLE) FROM stats) AS w,
                   sx1 / sw1 AS m1,
                   SQRT(sxx1 / sw1 - (sx1 / sw1) * (sx1 / sw1)) AS s1,
                   sx2 / sw2 AS m2,
                   SQRT(sxx2 / sw2 - (sx2 / sw2) * (sx2 / sw2)) AS s2
            FROM m{i}
        )"""


def _gmm_oracle() -> str:
    rounds = ",".join(
        _gmm_msql(i, "p0" if i == 1 else f"p{i - 1}")
        for i in range(1, _GMM_ROUNDS + 1)
    )
    last = f"p{_GMM_ROUNDS}"
    ef = _gmm_estep_sql(
        f"(SELECT w FROM {last})",
        f"(SELECT m1 FROM {last})",
        f"(SELECT s1 FROM {last})",
        f"(SELECT m2 FROM {last})",
        f"(SELECT s2 FROM {last})",
    )
    return f"""
        WITH v AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        cen AS MATERIALIZED (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v GROUP BY x
        ),
        stats AS MATERIALIZED (
            SELECT CAST(SUM(f) AS BIGINT) AS nn,
                   CAST(SUM(f * x) AS BIGINT) AS sx,
                   CAST(SUM(f * x * x) AS BIGINT) AS sxx
            FROM cen
        ),
        cum AS (
            SELECT x, CAST(SUM(f) OVER (ORDER BY x) AS BIGINT) AS cw
            FROM cen
        ),
        q AS MATERIALIZED (
            SELECT (SELECT MIN(x) FROM cum, stats
                    WHERE cw * 4 >= nn) AS p25,
                   (SELECT MIN(x) FROM cum, stats
                    WHERE cw * 4 >= 3 * nn) AS p75
        ),
        p0 AS MATERIALIZED (
            SELECT CAST(0.5 AS DOUBLE) AS w,
                   (SELECT CAST(p25 AS DOUBLE) FROM q) AS m1,
                   (SELECT SQRT(CAST(sxx AS DOUBLE) / nn
                                - (CAST(sx AS DOUBLE) / nn)
                                  * (CAST(sx AS DOUBLE) / nn))
                    FROM stats) AS s1,
                   (SELECT CAST(p75 AS DOUBLE) FROM q) AS m2,
                   (SELECT SQRT(CAST(sxx AS DOUBLE) / nn
                                - (CAST(sx AS DOUBLE) / nn)
                                  * (CAST(sx AS DOUBLE) / nn))
                    FROM stats) AS s2
        ),
        {rounds},
        score AS (
            SELECT CAST(SUM(CAST(CAST(f AS DOUBLE)
                                 * LN({ef['g1']} + {ef['g2']})
                                 AS DECIMAL(38,18))) AS DOUBLE) AS sc
            FROM cen
        )
        SELECT (SELECT nn FROM stats) AS n_users,
               ROUND(p.w, 9) AS w1,
               ROUND(p.m1, 9) AS mu1, ROUND(p.s1, 9) AS sigma1,
               ROUND(p.m2, 9) AS mu2, ROUND(p.s2, 9) AS sigma2,
               ROUND((SELECT sc FROM score)
                     / (SELECT nn FROM stats), 9) AS avg_logdensity
        FROM {last} p
    """


@query(
    "q_gmm_em",
    oracle=_gmm_oracle(),
    operators=(23, 31, 273, 398),
    doc=f"2-component 1-D Gaussian mixture via {_GMM_ROUNDS} fixed EM "
    "rounds (#398) over the per-user activity census — the soft "
    "latent-class upgrade of k-means (#273): users get posterior "
    "membership in a low/high-activity regime instead of a hard "
    "cluster, the standard model for 'is this metric bimodal'. "
    "Deterministic init (quartile means, pooled sigma, w=0.5). "
    "Parity: the #273 discipline extended to EM — every M-step "
    "aggregate is a DECIMAL(38,18)-quantized sum over value cells, "
    "so the per-round parameters Spark collects as bounded driver "
    "state (5 scalars/round) are bit-identical to the oracle's "
    "unrolled MATERIALIZED-CTE chain; E-step densities are "
    "identical exp/div trees (the 1/sqrt(2pi) factor cancels in "
    "the responsibilities and is dropped from the graded "
    "avg-log-density consistently on both engines). Scale: EM "
    "touches only the |distinct values| census per round — the "
    "row-scale pass is the one per-user rollup; rounds are O(cells).",
    bench=False,
)
def q_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    cen = v.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    ).cache()
    stats = cen.agg(
        F.sum("f").cast("bigint").alias("nn"),
        F.sum(F.col("f") * F.col("x")).cast("bigint").alias("sx"),
        F.sum(F.col("f") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("sxx"),
    ).collect()[0]
    nn, sx, sxx = int(stats.nn), int(stats.sx), int(stats.sxx)
    from pyspark.sql import Window as W

    w_cum = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = cen.select(
        "x", F.sum("f").over(w_cum).cast("bigint").alias("cw")
    )
    p25 = cum.filter(F.col("cw") * 4 >= nn).agg(F.min("x")).collect()[0][0]
    p75 = (
        cum.filter(F.col("cw") * 4 >= 3 * nn).agg(F.min("x")).collect()[0][0]
    )
    # Mirror the oracle's operand order exactly: cast each integer sum
    # to double BEFORE dividing (past 2^53, sxx/nn under true division
    # differs from float(sxx)/nn by one ulp — a latent parity hazard).
    s0 = ((float(sxx) / nn) - (float(sx) / nn) * (float(sx) / nn)) ** 0.5
    w1, m1, s1, m2, s2 = 0.5, float(p25), s0, float(p75), s0

    def estep(wv, m1v, s1v, m2v, s2v):
        x = F.col("x").cast("double")
        d1 = (x - F.lit(m1v)) / F.lit(s1v)
        d2 = (x - F.lit(m2v)) / F.lit(s2v)
        g1 = (F.lit(wv) / F.lit(s1v)) * F.exp(-0.5 * d1 * d1)
        g2 = ((1 - F.lit(wv)) / F.lit(s2v)) * F.exp(-0.5 * d2 * d2)
        return g1, g2, g1 / (g1 + g2)

    dec = "decimal(38,18)"
    for _ in range(_GMM_ROUNDS):
        g1, g2, r1 = estep(w1, m1, s1, m2, s2)
        x = F.col("x").cast("double")
        t1 = F.col("f").cast("double") * r1
        t2 = F.col("f").cast("double") * (1 - r1)
        m = cen.agg(
            F.sum(t1.cast(dec)).cast("double").alias("sw1"),
            F.sum((t1 * x).cast(dec)).cast("double").alias("sx1"),
            F.sum(((t1 * x) * x).cast(dec)).cast("double").alias("sxx1"),
            F.sum(t2.cast(dec)).cast("double").alias("sw2"),
            F.sum((t2 * x).cast(dec)).cast("double").alias("sx2"),
            F.sum(((t2 * x) * x).cast(dec)).cast("double").alias("sxx2"),
        ).collect()[0]
        w1 = m.sw1 / float(nn)
        m1 = m.sx1 / m.sw1
        s1 = (m.sxx1 / m.sw1 - (m.sx1 / m.sw1) * (m.sx1 / m.sw1)) ** 0.5
        m2 = m.sx2 / m.sw2
        s2 = (m.sxx2 / m.sw2 - (m.sx2 / m.sw2) * (m.sx2 / m.sw2)) ** 0.5

    g1, g2, _ = estep(w1, m1, s1, m2, s2)
    score = cen.agg(
        F.sum((F.col("f").cast("double") * F.log(g1 + g2)).cast(dec))
        .cast("double")
        .alias("sc")
    )
    return score.select(
        F.lit(nn).cast("bigint").alias("n_users"),
        F.round(F.lit(w1), 9).alias("w1"),
        F.round(F.lit(m1), 9).alias("mu1"),
        F.round(F.lit(s1), 9).alias("sigma1"),
        F.round(F.lit(m2), 9).alias("mu2"),
        F.round(F.lit(s2), 9).alias("sigma2"),
        F.round(F.col("sc") / float(nn), 9).alias("avg_logdensity"),
    )


# ---------------------------------------------------------------------------
# #400 mantel_haenszel — stratified 2x2 common-effect test
# ---------------------------------------------------------------------------

_CHI2_1_95_MH = "3.841458820694124"


@query(
    "q_mantel_haenszel",
    oracle=f"""
        WITH u AS (
            SELECT user_id % 2 AS tr,
                   LEAST(CAST(COUNT(*) AS BIGINT) // 20, 4) AS xb,
                   CAST(5 * SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) > COUNT(*)
                        AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        cells AS (
            SELECT xb,
                   CAST(SUM(CASE WHEN tr = 1 AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS a,
                   CAST(SUM(CASE WHEN tr = 1 AND y = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS b,
                   CAST(SUM(CASE WHEN tr = 0 AND y = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN tr = 0 AND y = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d
            FROM u GROUP BY xb
            HAVING COUNT(*) >= 2
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(a + b + c + d) AS BIGINT) AS n_users,
                   CAST(SUM(CAST(a AS DECIMAL(38,18))) AS DOUBLE) AS sa,
                   CAST(SUM(CAST(
                       CAST((a + b) AS DOUBLE) * (a + c) / (a + b + c + d)
                       AS DECIMAL(38,18))) AS DOUBLE) AS se,
                   CAST(SUM(CAST(
                       (CAST((a + b) AS DOUBLE) * (c + d) * (a + c)
                        * (b + d))
                       / ((CAST((a + b + c + d) AS DOUBLE))
                          * (a + b + c + d) * (a + b + c + d - 1))
                       AS DECIMAL(38,18))) AS DOUBLE) AS sv,
                   CAST(SUM(CAST(CAST(a AS DOUBLE) * d / (a + b + c + d)
                                 AS DECIMAL(38,18))) AS DOUBLE) AS sad,
                   CAST(SUM(CAST(CAST(b AS DOUBLE) * c / (a + b + c + d)
                                 AS DECIMAL(38,18))) AS DOUBLE) AS sbc
            FROM cells
        )
        SELECT k AS n_strata, n_users,
               ROUND((ABS(sa - se) - 0.5) * (ABS(sa - se) - 0.5) / sv, 9)
                   AS cmh_chi2,
               ROUND(sad / sbc, 9) AS or_mh,
               CAST((ABS(sa - se) - 0.5) * (ABS(sa - se) - 0.5) / sv
                    > {_CHI2_1_95_MH} AS INT) AS significant
        FROM mom
    """,
    operators=(23, 280, 395, 400),
    doc="Cochran-Mantel-Haenszel (#400): the stratified 2x2 test — "
    "does treatment associate with the scale-stable outcome (purchase "
    "share above 1/5 of the user's events) AFTER conditioning on "
    "the activity band? CMH chi2 = (|sum a - sum E[a]| - 0.5)^2 / "
    "sum Var(a) with the exact hypergeometric per-stratum moments, "
    "plus the Mantel-Haenszel common odds ratio sum(ad/n)/sum(bc/n) "
    "— the frequentist partner of the doubly-robust ATE (#395): a "
    "marginal chi-square (#280) on the pooled table is confounded "
    "by exactly the Simpson's-paradox mixing this design removes. "
    "Parity: strata cells are exact BIGINTs; the five per-stratum "
    "summands quantize through DECIMAL(38,18) (singleton strata, whose "
    "hypergeometric variance is undefined, are excluded on both "
    "sides); one IEEE tree at "
    "ROUND(9). Scale: one per-user rollup, then a 5-cell census.",
    bench=False,
)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("np"),
        )
        .select(
            (F.col("user_id") % 2).alias("tr"),
            F.least(F.expr("cnt div 20"), F.lit(4).cast("bigint")).alias("xb"),
            (5 * F.col("np") > F.col("cnt")).cast("bigint").alias("y"),
        )
    )
    cells = u.groupBy("xb").agg(
        F.sum(F.when((F.col("tr") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("tr") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("tr") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("tr") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n_str"),
    ).filter(F.col("n_str") >= 2)
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + d
    dec = "decimal(38,18)"
    mom = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(n).cast("bigint").alias("n_users"),
        F.sum(a.cast(dec)).cast("double").alias("sa"),
        F.sum(
            ((a + b).cast("double") * (a + c) / n).cast(dec)
        )
        .cast("double")
        .alias("se"),
        F.sum(
            (
                ((a + b).cast("double") * (c + d) * (a + c) * (b + d))
                / (n.cast("double") * n * (n - 1))
            ).cast(dec)
        )
        .cast("double")
        .alias("sv"),
        F.sum((a.cast("double") * d / n).cast(dec))
        .cast("double")
        .alias("sad"),
        F.sum((b.cast("double") * c / n).cast(dec))
        .cast("double")
        .alias("sbc"),
    )
    chi = (
        (F.abs(F.col("sa") - F.col("se")) - 0.5)
        * (F.abs(F.col("sa") - F.col("se")) - 0.5)
        / F.col("sv")
    )
    return mom.select(
        F.col("k").alias("n_strata"),
        "n_users",
        F.round(chi, 9).alias("cmh_chi2"),
        F.round(F.col("sad") / F.col("sbc"), 9).alias("or_mh"),
        (chi > float(_CHI2_1_95_MH)).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #401 hmm_forward — 2-state Poisson HMM likelihood per series
# ---------------------------------------------------------------------------

_LN_STAY = "-0.10536051565782628"  # ln(0.9)
_LN_SWITCH = "-2.302585092994046"  # ln(0.1)
_LN_HALF = "-0.6931471805599453"  # ln(0.5)


@query(
    "q_hmm_forward",
    oracle=f"""
        WITH RECURSIVE o AS (
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
        q AS MATERIALIZED (
            SELECT event_type,
                   CAST(SUM(CASE WHEN rn = CAST(CEIL(m / 4.0) AS BIGINT)
                                 THEN x ELSE 0 END) AS BIGINT) AS p25,
                   CAST(SUM(CASE WHEN rn = CAST(CEIL(3 * m / 4.0) AS BIGINT)
                                 THEN x ELSE 0 END) AS BIGINT) AS p75
            FROM (SELECT event_type, x,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY x, t) AS rn,
                         COUNT(*) OVER (PARTITION BY event_type) AS m
                  FROM grid)
            GROUP BY event_type
        ),
        em AS MATERIALIZED (
            SELECT g.event_type, g.t, g.x,
                   CAST(CAST(CAST(g.x AS DOUBLE)
                     * LN(CAST(q.p25 AS DOUBLE) + 0.5)
                   - (CAST(q.p25 AS DOUBLE) + 0.5)
                   - {_sql_lf('g.x')} AS DECIMAL(38,9)) AS DOUBLE) AS e1,
                   CAST(CAST(CAST(g.x AS DOUBLE)
                     * LN(CAST(q.p75 AS DOUBLE) + 0.5)
                   - (CAST(q.p75 AS DOUBLE) + 0.5)
                   - {_sql_lf('g.x')} AS DECIMAL(38,9)) AS DOUBLE) AS e2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n
            FROM grid g JOIN q ON q.event_type = g.event_type
        ),
        fw AS (
            SELECT event_type, n, CAST(0 AS BIGINT) AS t,
                   {_LN_HALF} + e1 AS la1,
                   {_LN_HALF} + e2 AS la2
            FROM em WHERE t = 0
            UNION ALL
            SELECT f.event_type, f.n, f.t + 1,
                   CAST(CAST(
                   e.e1 + (GREATEST(f.la1 + {_LN_STAY},
                                    f.la2 + {_LN_SWITCH})
                           + LN(1.0 + EXP(-ABS((f.la1 + {_LN_STAY})
                                               - (f.la2 + {_LN_SWITCH})))))
                   AS DECIMAL(38,9)) AS DOUBLE),
                   CAST(CAST(
                   e.e2 + (GREATEST(f.la1 + {_LN_SWITCH},
                                    f.la2 + {_LN_STAY})
                           + LN(1.0 + EXP(-ABS((f.la1 + {_LN_SWITCH})
                                               - (f.la2 + {_LN_STAY})))))
                   AS DECIMAL(38,9)) AS DOUBLE)
            FROM fw f
            JOIN em e ON e.event_type = f.event_type AND e.t = f.t + 1
        )
        SELECT f.event_type, f.n AS n_days,
               CAST(q.p25 AS DOUBLE) + 0.5 AS mu_low,
               CAST(q.p75 AS DOUBLE) + 0.5 AS mu_high,
               ROUND(GREATEST(f.la1, f.la2)
                     + LN(1.0 + EXP(-ABS(f.la1 - f.la2))), 9) AS loglik,
               ROUND(EXP(f.la2 - (GREATEST(f.la1, f.la2)
                                  + LN(1.0 + EXP(-ABS(f.la1 - f.la2))))),
                     9) AS p_high_final
        FROM fw f JOIN q ON q.event_type = f.event_type
        WHERE f.t = f.n - 1
        ORDER BY f.event_type
    """,
    operators=(23, 31, 375, 401),
    doc="2-state Poisson HMM forward pass (#401) per daily series: "
    "low/high-regime emission rates from the series quartiles "
    "(+0.5, deterministic and positive), sticky 0.9/0.1 "
    "transitions, log-space forward recursion with the numerically "
    "stable pairwise log-sum-exp — emits the sequence log-likelihood "
    "and the final-day high-regime posterior: the TEMPORAL "
    "latent-regime model beside the i.i.d. mixture (#398), with "
    "persistence the GMM cannot express. Poisson log-pmf needs "
    "ln x! — the #375 portable Stirling lf() text, evaluated "
    "identically by both engines; ln transition constants are "
    "literal doubles, the fold is the per-series ordered recursion "
    "mirrored by the oracle's recursive CTE. Scale: emissions are "
    "one cell pass; the fold length is the day span; series "
    "parallelize.",
    bench=False,
)
def q_hmm_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

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
    w_rank = W.partitionBy("event_type").orderBy("x", "t")
    ranked = grid.select(
        "event_type",
        "x",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("m"),
    )
    q = ranked.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("rn") == F.expr("CAST(CEIL(m / 4.0) AS BIGINT)"),
                F.col("x"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("p25"),
        F.sum(
            F.when(
                F.col("rn") == F.expr("CAST(CEIL(3 * m / 4.0) AS BIGINT)"),
                F.col("x"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("p75"),
    )
    em = grid.join(q, "event_type").select(
        "event_type",
        "t",
        "p25",
        "p75",
        (
            F.col("x").cast("double")
            * F.log(F.col("p25").cast("double") + 0.5)
            - (F.col("p25").cast("double") + 0.5)
            - F.expr(_sql_lf("x"))
        ).cast("decimal(38,9)").cast("double").alias("e1"),
        (
            F.col("x").cast("double")
            * F.log(F.col("p75").cast("double") + 0.5)
            - (F.col("p75").cast("double") + 0.5)
            - F.expr(_sql_lf("x"))
        ).cast("decimal(38,9)").cast("double").alias("e2"),
    )
    ser = em.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "e1", "e2"))),
            lambda s: F.struct(s["e1"].alias("e1"), s["e2"].alias("e2")),
        ).alias("es"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.any_value(F.col("p25")).alias("p25"),
        F.any_value(F.col("p75")).alias("p75"),
    )
    ln_stay = float(_LN_STAY)
    ln_switch = float(_LN_SWITCH)
    ln_half = float(_LN_HALF)

    def lse(a, b):
        return F.greatest(a, b) + F.log(1.0 + F.exp(-F.abs(a - b)))

    def step(acc, e):
        # per-step DECIMAL(38,9) quantization on BOTH sides: libm
        # LN/EXP are not cross-engine bit-identical, so log-space
        # drift must be re-pinned each step instead of accumulating
        # (found-at-decade #13 — surfaced by the sf1 gate at 4e-12).
        la1 = (
            e["e1"] + lse(acc["la1"] + ln_stay, acc["la2"] + ln_switch)
        ).cast("decimal(38,9)").cast("double")
        la2 = (
            e["e2"] + lse(acc["la1"] + ln_switch, acc["la2"] + ln_stay)
        ).cast("decimal(38,9)").cast("double")
        return F.struct(la1.alias("la1"), la2.alias("la2"))

    head = F.element_at(F.col("es"), 1)
    init = F.struct(
        (F.lit(ln_half) + head["e1"]).alias("la1"),
        (F.lit(ln_half) + head["e2"]).alias("la2"),
    )
    rest = F.slice(F.col("es"), 2, F.size(F.col("es")) - 1)
    folded = ser.select(
        "event_type",
        F.col("n").alias("n_days"),
        "p25",
        "p75",
        F.aggregate(rest, init, step).alias("st"),
    )
    la1, la2 = F.col("st.la1"), F.col("st.la2")
    ll = lse(la1, la2)
    return folded.select(
        "event_type",
        "n_days",
        (F.col("p25").cast("double") + 0.5).alias("mu_low"),
        (F.col("p75").cast("double") + 0.5).alias("mu_high"),
        F.round(ll, 9).alias("loglik"),
        F.round(F.exp(la2 - ll), 9).alias("p_high_final"),
    ).orderBy("event_type")
