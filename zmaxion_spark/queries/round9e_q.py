"""Round-9 wave 5 — SURVEY.md §2.27 (#440–#442).

Wald's sequential probability ratio test (the earliest-possible-
decision experiment monitor), the Poisson-bootstrap CI for the
DIFFERENCE in arm means (the number an A/B readout actually reports),
and Hill-number diversity profiles (effective source counts — the
corpus-diversity lens behind data-mixing decisions).

Parity disciplines reused from the repo:

- SPRT's log-likelihood ratio reduces to (2c − n)·ln(p1/p0) for the
  symmetric hypothesis pair, so the decision state is an exact
  INTEGER sequence scaled by one shared libm constant; prefix counts
  are bucket-decomposed (functions/ranks.py discipline).
- The bootstrap reuses #274's md5 Poisson(1) weights verbatim
  (inference_q._POIS1_CDF / _pois_case_sql); replicate means are
  divisions of exact integer sums, and the CI is rank-selected.
- Hill numbers: D2 is a ratio of exact integer moments; D1's
  entropy terms quantize through DECIMAL(38,12) before the sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #440 sprt_sequential — Wald SPRT over the user stream
# ---------------------------------------------------------------------------

# H0: p = 0.45 vs H1: p = 0.55, alpha = beta = 0.05.
# L1 = ln(p1/p0) = ln(11/9); L0 = ln((1-p1)/(1-p0)) = -L1, so
# LLR_n = (2*c_n - n) * ln(11/9) — an integer sequence times one
# shared constant. Boundaries: A = ln((1-beta)/alpha) = ln(19),
# B = -ln(19).


@query(
    "q_sprt_sequential",
    oracle="""
        WITH conv AS (
            SELECT user_id,
                   CAST(COUNT(*) % 2 AS BIGINT) AS c
            FROM events GROUP BY user_id
        ),
        cum AS (
            SELECT user_id,
                   ROW_NUMBER() OVER (ORDER BY user_id) AS n,
                   SUM(c) OVER (ORDER BY user_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cn
            FROM conv
        ),
        scored AS (
            SELECT n, cn,
                   (2 * cn - n) * LN(CAST(11 AS DOUBLE) / 9) AS llr
            FROM cum
        ),
        crossed AS (
            SELECT MIN(CASE WHEN llr >= LN(CAST(19 AS DOUBLE))
                             OR llr <= -LN(CAST(19 AS DOUBLE))
                            THEN n END) AS n_dec
            FROM scored
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(c) AS BIGINT) AS n_conv
            FROM conv
        )
        SELECT t.n_users, t.n_conv,
               CAST(x.n_dec AS BIGINT) AS n_at_decision,
               CASE WHEN x.n_dec IS NULL THEN 'continue'
                    WHEN s.llr >= LN(CAST(19 AS DOUBLE)) THEN 'accept_h1'
                    ELSE 'accept_h0' END AS decision,
               ROUND(s.llr, 9) AS llr_at_decision
        FROM tot t
        CROSS JOIN crossed x
        LEFT JOIN scored s ON s.n = x.n_dec
    """,
    operators=(24, 286, 440),
    doc="Wald's SPRT (#440): the sequential test that decides at the "
    "EARLIEST n the evidence allows (provably minimal expected "
    "sample size at the two simple hypotheses) — H0: p=0.45 vs "
    "H1: p=0.55 on a per-user binary outcome, boundaries "
    "ln(19)/−ln(19) at alpha=beta=5%. Where the group-sequential "
    "monitor (#286) checks at scheduled looks, SPRT checks after "
    "EVERY observation — the continuous-monitoring limit. The "
    "symmetric hypothesis pair collapses the LLR to "
    "(2c−n)·ln(11/9): the decision state is an exact integer "
    "sequence times one shared libm constant, so the first-crossing "
    "election is effectively integer. The cumulative count is a "
    "per-user-ordered prefix sum (bucket-decomposed on the Spark "
    "side — no row-scale single-partition window). Scale: one "
    "rollup + one census + a first-crossing aggregate.",
    bench=False,
)
def q_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    conv = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg((F.count(F.lit(1)) % 2).cast("bigint").alias("c"))
    )
    base = conv.withColumn("bkt", F.expr("user_id div 256"))
    sizes = base.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("_bn"), F.sum("c").alias("_bc")
    )
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    offs = sizes.select(
        "bkt",
        (F.sum("_bn").over(w_bkt) - F.col("_bn")).alias("_offn"),
        (F.sum("_bc").over(w_bkt) - F.col("_bc")).alias("_offc"),
    )
    w_loc = Window.partitionBy("bkt").orderBy("user_id")
    w_lcum = w_loc.rowsBetween(Window.unboundedPreceding, 0)
    cum = base.join(F.broadcast(offs), "bkt").select(
        (F.col("_offn") + F.row_number().over(w_loc)).alias("n"),
        (F.col("_offc") + F.sum("c").over(w_lcum)).alias("cn"),
    )
    l_const = F.log(F.lit(11.0) / 9)
    a_bound = F.log(F.lit(19.0))
    scored = cum.select(
        "n", "cn", ((2 * F.col("cn") - F.col("n")) * l_const).alias("llr")
    ).localCheckpoint(eager=True)
    crossed = scored.agg(
        F.min(
            F.when(
                (F.col("llr") >= a_bound) | (F.col("llr") <= -a_bound),
                F.col("n"),
            )
        ).alias("n_dec")
    )
    tot = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_conv"),
    )
    return (
        tot.crossJoin(F.broadcast(crossed))
        .join(
            scored.select(F.col("n").alias("n_dec"), "llr"), "n_dec", "left"
        )
        .select(
            "n_users",
            "n_conv",
            F.col("n_dec").cast("bigint").alias("n_at_decision"),
            F.when(F.col("n_dec").isNull(), "continue")
            .when(F.col("llr") >= a_bound, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            F.round("llr", 9).alias("llr_at_decision"),
        )
    )


# ---------------------------------------------------------------------------
# #441 bootstrap_diff_ci — Poisson-bootstrap CI of the arm difference
# ---------------------------------------------------------------------------


def _bdc_oracle() -> str:
    from zmaxion_spark.queries.inference_q import _B, _pois_case_sql

    u_sql = (
        "CAST(CAST(('0x' || SUBSTR(MD5(CAST(v.user_id AS VARCHAR)"
        " || ':' || CAST(b.b AS VARCHAR)), 1, 13)) AS BIGINT)"
        " AS DOUBLE) / 4503599627370496"
    )
    return f"""
        WITH v AS (
            SELECT user_id, user_id % 2 AS arm,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        draws AS (
            SELECT v.arm, b.b, v.x,
                   {_pois_case_sql(u_sql)} AS w
            FROM v, range({_B}) b(b)
        ),
        res AS (
            SELECT b, arm,
                   CAST(CAST(SUM(w * x) AS BIGINT) AS DOUBLE)
                       / CAST(SUM(w) AS BIGINT) AS mean_b
            FROM draws GROUP BY b, arm
            HAVING SUM(w) > 0
        ),
        diffs AS (
            SELECT a.b, a.mean_b - z.mean_b AS d
            FROM res a JOIN res z ON z.b = a.b AND a.arm = 1 AND z.arm = 0
        ),
        ranked AS (
            SELECT d, ROW_NUMBER() OVER (ORDER BY d, b) AS rk,
                   COUNT(*) OVER () AS nb
            FROM diffs
        ),
        ci AS (
            SELECT MAX(CASE WHEN rk = 2 THEN d END) AS ci_lo,
                   MAX(CASE WHEN rk = nb - 1 THEN d END) AS ci_hi,
                   CAST(MAX(nb) AS BIGINT) AS n_resamples
            FROM ranked
        ),
        pt AS (
            SELECT CAST(SUM(CASE WHEN arm = 1 THEN x END) AS DOUBLE)
                       / SUM(CASE WHEN arm = 1 THEN 1 END)
                   - CAST(SUM(CASE WHEN arm = 0 THEN x END) AS DOUBLE)
                       / SUM(CASE WHEN arm = 0 THEN 1 END) AS diff,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM v
        )
        SELECT pt.n_users, ROUND(pt.diff, 9) AS mean_diff,
               ROUND(ci.ci_lo, 9) AS ci_lo, ROUND(ci.ci_hi, 9) AS ci_hi,
               ci.n_resamples,
               CAST(ci.ci_lo > 0 OR ci.ci_hi < 0 AS INT) AS significant
        FROM pt CROSS JOIN ci
    """


@query(
    "q_bootstrap_diff_ci",
    oracle=_bdc_oracle(),
    operators=(47, 274, 441),
    doc="Poisson-bootstrap 95% CI for the DIFFERENCE in arm means "
    "(#441): the number an A/B readout actually reports — #274 "
    "bootstraps one group's mean; experiments ship 'lift with CI'. "
    "Each (user, replicate) draws the same deterministic md5 "
    "Poisson(1) weight as #274; per-(replicate, arm) means are one "
    "division of exact integer sums (weights x counts stay BIGINT); "
    "the replicate DIFFERENCES are rank-selected at 2/B−1 for the "
    "percentile CI, and the zero-exclusion flag is the "
    "significance readout (the bootstrap twin of #147's z). Scale: "
    "the replicate explode is a generator with map-side partial "
    "aggregation — the exchange carries B x 2 cells regardless of "
    "data size.",
    bench=False,
)
def q_bootstrap_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.inference_q import _B, _POIS1_CDF

    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("user_id", (F.col("user_id") % 2).alias("arm"), "x")
    )
    draws = v.select(
        "arm", "x", "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    ).cast("binary")
                ),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(4503599627370496.0)
    )
    stepped = draws.select("arm", "b", "x", u.alias("u"))
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    res = (
        stepped.select("arm", "b", w.alias("w"), "x")
        .groupBy("b", "arm")
        .agg(
            (
                F.sum(F.col("w") * F.col("x")).cast("bigint").cast("double")
                / F.sum("w").cast("bigint")
            ).alias("mean_b"),
            F.sum("w").alias("wn"),
        )
        .filter(F.col("wn") > 0)
    )
    a = res.filter(F.col("arm") == 1).select(
        "b", F.col("mean_b").alias("m1")
    )
    z = res.filter(F.col("arm") == 0).select(
        "b", F.col("mean_b").alias("m0")
    )
    diffs = a.join(z, "b").select("b", (F.col("m1") - F.col("m0")).alias("d"))
    wr = Window.orderBy("d", "b")
    ranked = diffs.select(
        "d",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))
        ).alias("nb"),
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("d"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == F.col("nb") - 1, F.col("d"))).alias(
            "ci_hi"
        ),
        F.max("nb").cast("bigint").alias("n_resamples"),
    )
    pt = v.agg(
        (
            F.sum(F.when(F.col("arm") == 1, F.col("x"))).cast("double")
            / F.sum(F.when(F.col("arm") == 1, 1))
            - F.sum(F.when(F.col("arm") == 0, F.col("x"))).cast("double")
            / F.sum(F.when(F.col("arm") == 0, 1))
        ).alias("diff"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_users",
        F.round("diff", 9).alias("mean_diff"),
        F.round("ci_lo", 9).alias("ci_lo"),
        F.round("ci_hi", 9).alias("ci_hi"),
        "n_resamples",
        ((F.col("ci_lo") > 0) | (F.col("ci_hi") < 0))
        .cast("int")
        .alias("significant"),
    )


# ---------------------------------------------------------------------------
# #442 hill_diversity — effective source counts per language
# ---------------------------------------------------------------------------


@query(
    "q_hill_diversity",
    oracle="""
        WITH cells AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        ),
        tot AS (
            SELECT lang, CAST(SUM(n) AS BIGINT) AS nl,
                   CAST(COUNT(*) AS BIGINT) AS d0,
                   CAST(SUM(n * n) AS BIGINT) AS n2
            FROM cells GROUP BY lang
        ),
        ent AS (
            SELECT c.lang,
                   CAST(SUM(CAST(
                       (CAST(c.n AS DOUBLE) / t.nl)
                       * LN(CAST(c.n AS DOUBLE) / t.nl)
                       AS DECIMAL(38,12))) AS DOUBLE) AS neg_h
            FROM cells c JOIN tot t ON t.lang = c.lang
            GROUP BY c.lang
        )
        SELECT t.lang, t.nl AS n_docs, t.d0 AS d0_richness,
               ROUND(EXP(-e.neg_h), 9) AS d1_shannon,
               ROUND(CAST(t.nl AS DOUBLE) * t.nl / t.n2, 9) AS d2_simpson
        FROM tot t JOIN ent e ON e.lang = t.lang
        ORDER BY t.lang
    """,
    operators=(23, 252, 442),
    doc="Hill-number diversity profile (#442): the effective number "
    "of sources feeding each language at orders q = 0, 1, 2 — D0 "
    "raw richness, D1 = exp(Shannon) (the 'perplexity of the source "
    "mix'), D2 = 1/Simpson = N²/Σn² (dominance-weighted) — the "
    "ecology-standard diversity ladder that turns 'how concentrated "
    "is this language's sourcing' (#252's Gini/HHI lens) into "
    "same-unit effective counts comparable across languages, the "
    "number data-mixing reviews actually discuss ('German "
    "effectively comes from 3 sources'). D2 is a ratio of exact "
    "integer moments; D1's p·ln p terms are shared IEEE trees "
    "quantized through DECIMAL(38,12) before the exact sum (n > 0 "
    "by construction — no LN(0)). Scale: one (lang, source) census.",
    bench=False,
)
def q_hill_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = cells.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("nl"),
        F.count(F.lit(1)).cast("bigint").alias("d0"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("n2"),
    )
    p = F.col("n").cast("double") / F.col("nl")
    ent = (
        cells.join(tot.select("lang", "nl"), "lang")
        .groupBy("lang")
        .agg(
            F.sum((p * F.log(p)).cast("decimal(38,12)"))
            .cast("double")
            .alias("neg_h")
        )
    )
    return (
        tot.join(ent, "lang")
        .select(
            "lang",
            F.col("nl").alias("n_docs"),
            F.col("d0").alias("d0_richness"),
            F.round(F.exp(-F.col("neg_h")), 9).alias("d1_shannon"),
            F.round(
                F.col("nl").cast("double") * F.col("nl") / F.col("n2"), 9
            ).alias("d2_simpson"),
        )
        .orderBy("lang")
    )
