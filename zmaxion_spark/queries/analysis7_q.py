"""Round-7 inference + forecasting wave — SURVEY.md §2 (#373–#380).

Completes the hypothesis-testing family with the classical two-sample
and paired tests the rounds-5/6 machinery ranked but never tested
directly, and extends the forecasting shelf beyond Holt-linear (#332)
to seasonal state-space and autoregressive closed forms.

Parity disciplines (all proven elsewhere in the repo, reused):

- Rank statistics live on VALUE CELLS (per-arm frequency censuses
  cross-joined / windowed), never user-pair rows; midranks use the
  integer 2·rank trick (#349): 2·avg_rank = 2·count(less) +
  count(equal) + 1, so rank sums stay BIGINT until one final IEEE
  tree quantized at ROUND(9).
- Fisher's exact test needs ln-factorials; engine lgamma/pow are NOT
  portable, so lf(n) = lnΓ(n+9) − Σ_{i=1..8} ln(n+i) with the
  Stirling series written as explicit mul/add (x*x*x chains, never
  POWER) and the SAME generated SQL text evaluated by BOTH engines
  (DuckDB directly, Spark via F.expr) — identical parse, identical
  IEEE tree. Probability terms compare on the LOG scale with a 1e-7
  slack so a last-ulp LN difference can never flip a term's
  inclusion, and sum through DECIMAL(38,18).
- Recursive folds (Holt-Winters) follow the #344 discipline: Spark
  F.aggregate over the per-series day array vs a DuckDB recursive
  CTE carrying the identical state — here a 7-slot seasonal LIST
  updated by an indexed list_transform — with every step an
  identical mul/add tree of double literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query

_Z_95 = "1.959963984540054"  # two-sided 5% normal quantile
_CHI2_1_95 = "3.841458820694124"  # chi2(1) 95%
_CHI2_2_95 = "5.991464547107979"  # chi2(2) 95%
_CVM_CRIT_05 = "0.461"  # two-sample Cramer-von Mises 5% asymptotic


# ---------------------------------------------------------------------------
# #373 mann_whitney — tie-corrected two-sample rank test
# ---------------------------------------------------------------------------


@query(
    "q_mann_whitney",
    oracle=f"""
        WITH v AS (
            SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        ca AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v
               WHERE arm = 0 GROUP BY x),
        cb AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v
               WHERE arm = 1 GROUP BY x),
        cells AS (
            SELECT CAST(SUM(CASE WHEN a.x > b.x THEN a.f * b.f ELSE 0 END)
                        AS BIGINT) AS gt,
                   CAST(SUM(CASE WHEN a.x = b.x THEN a.f * b.f ELSE 0 END)
                        AS BIGINT) AS ties
            FROM ca a CROSS JOIN cb b
        ),
        marg AS (
            SELECT (SELECT CAST(SUM(f) AS BIGINT) FROM ca) AS n1,
                   (SELECT CAST(SUM(f) AS BIGINT) FROM cb) AS n2
        ),
        tie3 AS (
            SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
            FROM (SELECT COALESCE(a.f, 0) + COALESCE(b.f, 0) AS t
                  FROM ca a FULL OUTER JOIN cb b ON b.x = a.x)
        )
        SELECT m.n1, m.n2,
               CAST(2 * c.gt + c.ties AS DOUBLE) / 2 AS u_stat,
               ROUND((2 * c.gt + c.ties - CAST(m.n1 AS DOUBLE) * m.n2)
                     / (2 * SQRT(CAST(m.n1 AS DOUBLE) * m.n2 / 12
                                 * ((m.n1 + m.n2 + 1)
                                    - CAST(t.tsum AS DOUBLE)
                                      / ((CAST(m.n1 AS DOUBLE) + m.n2)
                                         * (m.n1 + m.n2 - 1))))), 9) AS z,
               CAST(ABS((2 * c.gt + c.ties - CAST(m.n1 AS DOUBLE) * m.n2)
                        / (2 * SQRT(CAST(m.n1 AS DOUBLE) * m.n2 / 12
                                    * ((m.n1 + m.n2 + 1)
                                       - CAST(t.tsum AS DOUBLE)
                                         / ((CAST(m.n1 AS DOUBLE) + m.n2)
                                            * (m.n1 + m.n2 - 1))))))
                    > {_Z_95} AS INT) AS significant
        FROM cells c CROSS JOIN marg m CROSS JOIN tie3 t
    """,
    operators=(14, 23, 24, 373),
    doc="Mann-Whitney U (#373): the tie-corrected two-sample rank "
    "test for the per-user activity arms whose effect Cliff's delta "
    "(#368) sizes — U = P-count(X>Y) + half-ties from the SAME "
    "per-arm value-cell cross join, normal z with the exact tie "
    "correction sigma^2 = n1 n2/12 [(N+1) - sum(t^3-t)/(N(N-1))]. "
    "Everything integer until one IEEE tree: 2U = 2·gt + ties is "
    "BIGINT, tie cubes sum over the pooled census. Scale: cells are "
    "|distinct values|^2, never user pairs; the per-user rollup is "
    "the only row-scale pass.",
    bench=False,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select((F.col("user_id") % 2).alias("arm"), "x")
        .cache()  # three derivations below — one rollup pass, not three
    )
    ca = (
        v.filter(F.col("arm") == 0)
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    cb = (
        v.filter(F.col("arm") == 1)
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    a = ca.select(F.col("x").alias("xa"), F.col("f").alias("fa"))
    b = cb.select(F.col("x").alias("xb"), F.col("f").alias("fb"))
    cells = a.crossJoin(b).agg(
        F.sum(
            F.when(F.col("xa") > F.col("xb"), F.col("fa") * F.col("fb"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("gt"),
        F.sum(
            F.when(F.col("xa") == F.col("xb"), F.col("fa") * F.col("fb"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("ties"),
    )
    marg = v.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    tie3 = (
        a.join(b, F.col("xa") == F.col("xb"), "full")
        .select(
            (F.coalesce(F.col("fa"), F.lit(0)) + F.coalesce(F.col("fb"), F.lit(0))).alias("t")
        )
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("bigint")
            .alias("tsum")
        )
    )
    u2 = 2 * F.col("gt") + F.col("ties")
    n1, n2 = F.col("n1"), F.col("n2")
    sig = F.sqrt(
        n1.cast("double") * n2 / 12
        * (
            (n1 + n2 + 1)
            - F.col("tsum").cast("double")
            / ((n1.cast("double") + n2) * (n1 + n2 - 1))
        )
    )
    z = (u2 - n1.cast("double") * n2) / (2 * sig)
    return (
        cells.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(tie3))
        .select(
            "n1",
            "n2",
            (u2.cast("double") / 2).alias("u_stat"),
            F.round(z, 9).alias("z"),
            (F.abs(z) > float(_Z_95)).cast("int").alias("significant"),
        )
    )


# ---------------------------------------------------------------------------
# #374 wilcoxon_signed_rank — paired early-vs-late activity shift
# ---------------------------------------------------------------------------


@query(
    "q_wilcoxon_signed_rank",
    oracle=f"""
        WITH o AS (
            SELECT user_id,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        sp AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o),
        pairs AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN d * 2 < (SELECT mn + mx FROM sp)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                   - CAST(SUM(CASE WHEN d * 2 >= (SELECT mn + mx FROM sp)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS diff
            FROM o GROUP BY user_id
        ),
        nz AS (SELECT ABS(diff) AS a,
                      CASE WHEN diff > 0 THEN 1 ELSE 0 END AS pos
               FROM pairs WHERE diff <> 0),
        cen AS (
            SELECT a, CAST(SUM(pos) AS BIGINT) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS f
            FROM nz GROUP BY a
        ),
        rk AS (
            SELECT a, fp, f,
                   2 * (CAST(SUM(f) OVER (ORDER BY a) AS BIGINT) - f)
                   + f + 1 AS r2
            FROM cen
        ),
        agg AS (
            SELECT CAST(SUM(fp * r2) AS BIGINT) AS w2p,
                   CAST(SUM(f) AS BIGINT) AS n,
                   CAST(SUM(f * f * f - f) AS BIGINT) AS tsum
            FROM rk
        )
        SELECT n, CAST(w2p AS DOUBLE) / 2 AS w_plus,
               ROUND((w2p - CAST(n AS DOUBLE) * (n + 1) / 2)
                     / (2 * SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1)
                                 / 24 - CAST(tsum AS DOUBLE) / 48)), 9) AS z,
               CAST(ABS((w2p - CAST(n AS DOUBLE) * (n + 1) / 2)
                        / (2 * SQRT(CAST(n AS DOUBLE) * (n + 1)
                                    * (2 * n + 1) / 24
                                    - CAST(tsum AS DOUBLE) / 48)))
                    > {_Z_95} AS INT) AS significant
        FROM agg
    """,
    operators=(23, 30, 31, 374),
    doc="Wilcoxon signed-rank (#374): the paired shift test — did "
    "each user's activity change between the early and late halves "
    "of the span? Per-user diff = early - late event counts, zeros "
    "dropped per the standard recipe, |diff| midranks via the #349 "
    "integer 2·rank census (2·rank = 2·cum_less + f + 1 from ONE "
    "cumulative window over the |diff| census), W+ as an exact "
    "BIGINT 2W, tie-corrected sigma^2 = n(n+1)(2n+1)/24 - "
    "sum(t^3-t)/48 — the matched-pairs complement of Mann-Whitney "
    "(#373) that a two-sample test on the same data would get wrong "
    "by ignoring the pairing. Scale: one per-user rollup, then "
    "|distinct diff| cells.",
    bench=False,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    sp = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    pairs = (
        o.crossJoin(F.broadcast(sp))
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("d") * 2 < F.col("mn") + F.col("mx"), 1)
                    .otherwise(0)
                ).cast("bigint")
                - F.sum(
                    F.when(F.col("d") * 2 >= F.col("mn") + F.col("mx"), 1)
                    .otherwise(0)
                ).cast("bigint")
            ).alias("diff")
        )
    )
    nz = pairs.filter(F.col("diff") != 0).select(
        F.abs(F.col("diff")).alias("a"),
        F.when(F.col("diff") > 0, 1).otherwise(0).alias("pos"),
    )
    cen = nz.groupBy("a").agg(
        F.sum("pos").cast("bigint").alias("fp"),
        F.count(F.lit(1)).cast("bigint").alias("f"),
    )
    w_cum = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, 0)
    rk = cen.select(
        "a",
        "fp",
        "f",
        (
            2 * (F.sum("f").over(w_cum).cast("bigint") - F.col("f"))
            + F.col("f")
            + 1
        ).alias("r2"),
    )
    agg = rk.agg(
        F.sum(F.col("fp") * F.col("r2")).cast("bigint").alias("w2p"),
        F.sum("f").cast("bigint").alias("n"),
        F.sum(F.col("f") * F.col("f") * F.col("f") - F.col("f"))
        .cast("bigint")
        .alias("tsum"),
    )
    n = F.col("n")
    sig = F.sqrt(
        n.cast("double") * (n + 1) * (2 * n + 1) / 24
        - F.col("tsum").cast("double") / 48
    )
    z = (F.col("w2p") - n.cast("double") * (n + 1) / 2) / (2 * sig)
    return agg.select(
        "n",
        (F.col("w2p").cast("double") / 2).alias("w_plus"),
        F.round(z, 9).alias("z"),
        (F.abs(z) > float(_Z_95)).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #375 fisher_exact — 2x2 exact test via portable ln-factorials
# ---------------------------------------------------------------------------


def _sql_lf(e: str) -> str:
    """ln n! for an integer SQL expression, as a portable text tree.

    lf(n) = lnGamma(n+9) - sum_{i=1..8} ln(n+i), with lnGamma by the
    Stirling series at x = n+9 >= 9 (error < 1e-13 there). No POWER,
    no engine lgamma — explicit mul/add chains only, so DuckDB and
    Spark parse the IDENTICAL expression text into identical IEEE
    trees. 0.9189385332046727 = ln(2*pi)/2.
    """
    x = f"(CAST({e} AS DOUBLE) + 9.0)"
    stirling = (
        f"(({x} - 0.5) * LN({x}) - {x} + 0.9189385332046727"
        f" + 1.0 / (12.0 * {x})"
        f" - 1.0 / (360.0 * ({x} * {x} * {x}))"
        f" + 1.0 / (1260.0 * ({x} * {x} * {x} * {x} * {x})))"
    )
    shift = " + ".join(f"LN(CAST({e} AS DOUBLE) + {i}.0)" for i in range(1, 9))
    return f"({stirling} - ({shift}))"


def _fisher_lp(k: str) -> str:
    """log hypergeometric P(K = k) given marginals r1, r2, c1, c2, nn."""
    return (
        f"({_sql_lf('r1')} + {_sql_lf('r2')} + {_sql_lf('c1')}"
        f" + {_sql_lf('c2')} - {_sql_lf('nn')} - {_sql_lf(k)}"
        f" - {_sql_lf(f'(r1 - {k})')} - {_sql_lf(f'(c1 - {k})')}"
        f" - {_sql_lf(f'(r2 - c1 + {k})')})"
    )


_FISHER_CELLS_SQL = """
        SELECT CAST(SUM(CASE WHEN source = 'src1' AND lang = 'en'
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN source <> 'src1' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2,
               CAST(COUNT(*) AS BIGINT) AS nn
        FROM documents
"""


@query(
    "q_fisher_exact",
    oracle=f"""
        WITH cells AS ({_FISHER_CELLS_SQL}),
        ks AS (
            SELECT c.*, UNNEST(GENERATE_SERIES(
                       CASE WHEN c.c1 - c.r2 > 0 THEN c.c1 - c.r2 ELSE 0 END,
                       CASE WHEN c.r1 < c.c1 THEN c.r1 ELSE c.c1 END)) AS k
            FROM cells c
        ),
        lps AS (
            SELECT k, a, r1, r2, c1, c2, nn,
                   {_fisher_lp('k')} AS lp,
                   {_fisher_lp('a')} AS lp_obs
            FROM ks
        )
        SELECT ANY_VALUE(a) AS a, ANY_VALUE(r1) AS r1, ANY_VALUE(c1) AS c1,
               ANY_VALUE(nn) AS nn,
               ROUND(CAST(SUM(CAST(CASE WHEN lp <= lp_obs + 1e-7
                                        THEN EXP(lp) ELSE 0 END
                                   AS DECIMAL(38,18))) AS DOUBLE), 9)
                   AS p_two_sided,
               ROUND(CAST(EXP((SELECT {_fisher_lp('a')} FROM cells))
                          AS DOUBLE), 9) AS p_observed,
               CAST(CAST(SUM(CAST(CASE WHEN lp <= lp_obs + 1e-7
                                       THEN EXP(lp) ELSE 0 END
                                  AS DECIMAL(38,18))) AS DOUBLE) < 0.05
                    AS INT) AS significant
        FROM lps
    """,
    operators=(24, 44, 280, 375),
    doc="Fisher's exact test (#375) on the (source=src1) x (lang=en) "
    "2x2 document table — the EXACT small-count independence test "
    "where the chi-square screen (#280) is unreliable; two-sided p = "
    "sum of hypergeometric P(k) over all tables as extreme as "
    "observed. Parity: ln-factorials via the shifted Stirling series "
    "generated as ONE SQL text evaluated by both engines (F.expr on "
    "Spark) — no engine lgamma/pow in the tree; term inclusion "
    "compares LOG probabilities with 1e-7 slack so a last-ulp LN "
    "difference cannot flip a term; the probability sum quantizes "
    "through DECIMAL(38,18). Scale: the k-range is min(r1,c1)+1 "
    "cells from ONE 1-row census — Fisher is a small-table test; "
    "at large counts the chi-square (#280) takes over, and the "
    "k-range scan stays linear and partitionable regardless.",
    bench=False,
)
def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.agg(
        F.sum(
            F.when((F.col("source") == "src1") & (F.col("lang") == "en"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("bigint")
        .alias("r1"),
        F.sum(F.when(F.col("source") != "src1", 1).otherwise(0))
        .cast("bigint")
        .alias("r2"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
        F.count(F.lit(1)).cast("bigint").alias("nn"),
    )
    ks = cells.select(
        "*",
        F.explode(
            F.sequence(
                F.greatest(F.col("c1") - F.col("r2"), F.lit(0).cast("bigint")),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    lps = ks.select(
        "k",
        "a",
        "r1",
        "c1",
        "nn",
        F.expr(_fisher_lp("k")).alias("lp"),
        F.expr(_fisher_lp("a")).alias("lp_obs"),
    )
    psum = F.sum(
        F.when(F.col("lp") <= F.col("lp_obs") + 1e-7, F.exp(F.col("lp")))
        .otherwise(0.0)
        .cast("decimal(38,18)")
    ).cast("double")
    return lps.groupBy().agg(
        F.any_value(F.col("a")).alias("a"),
        F.any_value(F.col("r1")).alias("r1"),
        F.any_value(F.col("c1")).alias("c1"),
        F.any_value(F.col("nn")).alias("nn"),
        F.round(psum, 9).alias("p_two_sided"),
        F.round(F.exp(F.any_value(F.col("lp_obs"))), 9).alias("p_observed"),
        (psum < 0.05).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #376 cochran_q — k paired binary classifiers on one holdout
# ---------------------------------------------------------------------------

_CQ_STOPWORDS = "('the','a','of','and','to','in','is','it')"


@query(
    "q_cochran_q",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, CAST(lang = 'en' AS INT) AS truth,
                   UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        feat AS (
            SELECT doc_id, ANY_VALUE(truth) AS truth,
                   CAST(COUNT(*) AS BIGINT) AS n_tok,
                   CAST(SUM(CASE WHEN tok IN {_CQ_STOPWORDS}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                   CAST(SUM(LENGTH(tok)) AS BIGINT) AS n_chars,
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_dist
            FROM toks GROUP BY doc_id
        ),
        scored AS (
            SELECT doc_id,
                   CAST((CAST(n_stop AS DOUBLE) / n_tok >= 0.08) = (truth = 1)
                        AS INT) AS x1,
                   CAST((CAST(n_chars AS DOUBLE) / n_tok <= 4.6) = (truth = 1)
                        AS INT) AS x2,
                   CAST((CAST(n_dist AS DOUBLE) / n_tok <= 0.62) = (truth = 1)
                        AS INT) AS x3
            FROM feat
        )
        SELECT CAST(SUM(x1) AS BIGINT) AS t1,
               CAST(SUM(x2) AS BIGINT) AS t2,
               CAST(SUM(x3) AS BIGINT) AS t3,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(2.0 * (3 * (CAST(SUM(x1) AS DOUBLE) * SUM(x1)
                                 + CAST(SUM(x2) AS DOUBLE) * SUM(x2)
                                 + CAST(SUM(x3) AS DOUBLE) * SUM(x3))
                            - CAST(SUM(x1) + SUM(x2) + SUM(x3) AS DOUBLE)
                              * (SUM(x1) + SUM(x2) + SUM(x3)))
                     / (3 * CAST(SUM(x1 + x2 + x3) AS DOUBLE)
                        - SUM((x1 + x2 + x3) * (x1 + x2 + x3))), 9)
                   AS q_stat,
               CAST(2.0 * (3 * (CAST(SUM(x1) AS DOUBLE) * SUM(x1)
                                + CAST(SUM(x2) AS DOUBLE) * SUM(x2)
                                + CAST(SUM(x3) AS DOUBLE) * SUM(x3))
                           - CAST(SUM(x1) + SUM(x2) + SUM(x3) AS DOUBLE)
                             * (SUM(x1) + SUM(x2) + SUM(x3)))
                    / (3 * CAST(SUM(x1 + x2 + x3) AS DOUBLE)
                       - SUM((x1 + x2 + x3) * (x1 + x2 + x3)))
                    > {_CHI2_2_95} AS INT) AS significant
        FROM scored
    """,
    operators=(23, 41, 66, 376),
    doc="Cochran's Q (#376): do k=3 binary is-English detectors "
    "(stopword-ratio, mean-token-length, type-token-ratio — each a "
    "row-local heuristic in the #66 family) have the SAME error rate "
    "on the same documents? Q = (k-1)[k·sum(Tj^2) - (sum Tj)^2] / "
    "[k·sum(ui) - sum(ui^2)] over per-doc correctness indicators — "
    "the k-classifier generalization of McNemar (#367) that one "
    "overall-accuracy comparison can't answer because the SAME docs "
    "are scored by all three. All sums exact BIGINTs from one "
    "per-doc pass; one IEEE tree at ROUND(9), chi2(2) gate. Scale: "
    "one token-stream aggregation, then a 1-row census.",
    bench=False,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("truth"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    stop = [s.strip("'") for s in _CQ_STOPWORDS.strip("()").split(",")]
    feat = toks.groupBy("doc_id").agg(
        F.any_value(F.col("truth")).alias("truth"),
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("tok").isin(stop), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stop"),
        F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
        F.countDistinct("tok").cast("bigint").alias("n_dist"),
    )
    truth = F.col("truth") == 1
    scored = feat.select(
        "doc_id",
        ((F.col("n_stop").cast("double") / F.col("n_tok") >= 0.08) == truth)
        .cast("int")
        .alias("x1"),
        ((F.col("n_chars").cast("double") / F.col("n_tok") <= 4.6) == truth)
        .cast("int")
        .alias("x2"),
        ((F.col("n_dist").cast("double") / F.col("n_tok") <= 0.62) == truth)
        .cast("int")
        .alias("x3"),
    )
    u = F.col("x1") + F.col("x2") + F.col("x3")
    agg = scored.agg(
        F.sum("x1").cast("bigint").alias("t1"),
        F.sum("x2").cast("bigint").alias("t2"),
        F.sum("x3").cast("bigint").alias("t3"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(u).cast("bigint").alias("su"),
        F.sum(u * u).cast("bigint").alias("su2"),
    )
    t1, t2, t3 = F.col("t1"), F.col("t2"), F.col("t3")
    num = 2.0 * (
        3 * (t1.cast("double") * t1 + t2.cast("double") * t2 + t3.cast("double") * t3)
        - (t1 + t2 + t3).cast("double") * (t1 + t2 + t3)
    )
    den = 3 * F.col("su").cast("double") - F.col("su2")
    qs = num / den
    return agg.select(
        "t1",
        "t2",
        "t3",
        "n_docs",
        F.round(qs, 9).alias("q_stat"),
        (qs > float(_CHI2_2_95)).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #377 cramer_von_mises — two-sample ECDF distance test
# ---------------------------------------------------------------------------


@query(
    "q_cramer_von_mises",
    oracle=f"""
        WITH v AS (
            SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        cen AS (
            SELECT x,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS fa,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS fb
            FROM v GROUP BY x
        ),
        marg AS (
            SELECT CAST(SUM(fa) AS BIGINT) AS n1,
                   CAST(SUM(fb) AS BIGINT) AS n2
            FROM cen
        ),
        cum AS (
            SELECT x, fa, fb,
                   CAST(SUM(fa) OVER (ORDER BY x) AS BIGINT) AS ca,
                   CAST(SUM(fb) OVER (ORDER BY x) AS BIGINT) AS cb
            FROM cen
        ),
        s AS (
            SELECT m.n1, m.n2,
                   CAST(SUM(CAST((c.fa + c.fb)
                                 * (m.n2 * c.ca - m.n1 * c.cb)
                                 * (m.n2 * c.ca - m.n1 * c.cb)
                                 AS DECIMAL(38,0))) AS DOUBLE) AS ssq
            FROM cum c CROSS JOIN marg m
            GROUP BY m.n1, m.n2
        )
        SELECT n1, n2,
               ROUND(ssq / ((CAST(n1 AS DOUBLE) + n2) * (n1 + n2)
                            * CAST(n1 AS DOUBLE) * n2), 9) AS t_stat,
               CAST(ssq / ((CAST(n1 AS DOUBLE) + n2) * (n1 + n2)
                           * CAST(n1 AS DOUBLE) * n2)
                    > {_CVM_CRIT_05} AS INT) AS significant
        FROM s
    """,
    operators=(23, 31, 272, 377),
    doc="Two-sample Cramer-von Mises (#377): T = n1 n2/N^2 * "
    "sum_v t_v (F1(v) - F2(v))^2 over the pooled value census — the "
    "whole-ECDF companion to KS (#272): KS sees only the single "
    "largest gap, CvM integrates EVERY gap, so it catches "
    "distributional drift spread across the range that KS misses. "
    "Parity: the ECDF difference stays integer as n2·cumA - n1·cumB "
    "(BIGINT), squares sum through DECIMAL(38,0) exactly, one final "
    "IEEE division at ROUND(9), 0.461 asymptotic 5% gate. Scale: "
    "per-arm census + one ordered window over distinct values.",
    bench=False,
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select((F.col("user_id") % 2).alias("arm"), "x")
    )
    cen = v.groupBy("x").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("fa"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("fb"),
    )
    marg = cen.agg(
        F.sum("fa").cast("bigint").alias("n1"),
        F.sum("fb").cast("bigint").alias("n2"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = cen.select(
        "x",
        "fa",
        "fb",
        F.sum("fa").over(w).cast("bigint").alias("ca"),
        F.sum("fb").over(w).cast("bigint").alias("cb"),
    )
    diff = F.col("n2") * F.col("ca") - F.col("n1") * F.col("cb")
    s = (
        cum.crossJoin(F.broadcast(marg))
        .groupBy("n1", "n2")
        .agg(
            F.sum(((F.col("fa") + F.col("fb")) * diff * diff).cast("decimal(38,0)"))
            .cast("double")
            .alias("ssq")
        )
    )
    n1, n2 = F.col("n1"), F.col("n2")
    t = F.col("ssq") / (
        (n1.cast("double") + n2) * (n1 + n2) * n1.cast("double") * n2
    )
    return s.select(
        "n1",
        "n2",
        F.round(t, 9).alias("t_stat"),
        (t > float(_CVM_CRIT_05)).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# shared daily-grid SQL prelude (the #343/#344 zero-completed grid)
# ---------------------------------------------------------------------------

_GRID_SQL = """
        o AS (
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
        )
"""


def _daily_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-completed (event_type, t, x) daily-count grid, t from 0."""
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.col("mn"),
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d"),
    )
    types = o.select("event_type").distinct()
    cnt = o.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    return (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type",
            (F.col("d") - F.col("mn")).alias("t"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("x"),
        )
    )


# ---------------------------------------------------------------------------
# #378 ar2_forecast — Yule-Walker AR(2) fit + 2-step forecast
# ---------------------------------------------------------------------------


@query(
    "q_ar2_forecast",
    oracle=f"""
        WITH {_GRID_SQL},
        mom AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sx2
            FROM grid GROUP BY event_type
        ),
        lag1 AS (
            SELECT a.event_type,
                   CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
                   CAST(SUM(a.x) AS BIGINT) AS sh,
                   CAST(SUM(b.x) AS BIGINT) AS st
            FROM grid a JOIN grid b
              ON b.event_type = a.event_type AND b.t = a.t - 1
            GROUP BY a.event_type
        ),
        lag2 AS (
            SELECT a.event_type,
                   CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
                   CAST(SUM(a.x) AS BIGINT) AS sh,
                   CAST(SUM(b.x) AS BIGINT) AS st
            FROM grid a JOIN grid b
              ON b.event_type = a.event_type AND b.t = a.t - 2
            GROUP BY a.event_type
        ),
        lastv AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN rn = 1 THEN x ELSE 0 END) AS BIGINT)
                       AS x_last,
                   CAST(SUM(CASE WHEN rn = 2 THEN x ELSE 0 END) AS BIGINT)
                       AS x_prev
            FROM (SELECT event_type, x,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY t DESC) AS rn
                  FROM grid)
            GROUP BY event_type
        ),
        par AS (
            SELECT m.event_type, m.n,
                   CAST(m.sx AS DOUBLE) / m.n AS mu,
                   CAST(m.sx2 AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n
                       AS c0,
                   (CAST(l1.sxy AS DOUBLE)
                    - (CAST(m.sx AS DOUBLE) / m.n) * (l1.sh + l1.st)
                    + (m.n - 1) * (CAST(m.sx AS DOUBLE) / m.n)
                      * (CAST(m.sx AS DOUBLE) / m.n)) AS c1,
                   (CAST(l2.sxy AS DOUBLE)
                    - (CAST(m.sx AS DOUBLE) / m.n) * (l2.sh + l2.st)
                    + (m.n - 2) * (CAST(m.sx AS DOUBLE) / m.n)
                      * (CAST(m.sx AS DOUBLE) / m.n)) AS c2,
                   lv.x_last, lv.x_prev
            FROM mom m
            JOIN lag1 l1 ON l1.event_type = m.event_type
            JOIN lag2 l2 ON l2.event_type = m.event_type
            JOIN lastv lv ON lv.event_type = m.event_type
        ),
        fit AS (
            SELECT event_type, n, mu, x_last, x_prev,
                   c1 / c0 AS r1, c2 / c0 AS r2, c0,
                   (c1 / c0) * (1 - c2 / c0)
                   / (1 - (c1 / c0) * (c1 / c0)) AS phi1,
                   (c2 / c0 - (c1 / c0) * (c1 / c0))
                   / (1 - (c1 / c0) * (c1 / c0)) AS phi2
            FROM par
        )
        SELECT event_type, n AS n_days,
               ROUND(phi1, 9) AS phi1, ROUND(phi2, 9) AS phi2,
               ROUND(mu + phi1 * (x_last - mu) + phi2 * (x_prev - mu), 9)
                   AS forecast_1,
               ROUND(mu + phi1 * (mu + phi1 * (x_last - mu)
                                  + phi2 * (x_prev - mu) - mu)
                        + phi2 * (x_last - mu), 9) AS forecast_2,
               ROUND((c0 / n) * (1 - phi1 * r1 - phi2 * r2), 9)
                   AS sigma2_resid
        FROM fit
        ORDER BY event_type
    """,
    operators=(13, 23, 31, 343, 378),
    doc="Yule-Walker AR(2) (#378) per daily-count series: "
    "autocovariances c0/c1/c2 from exact integer cross-moments "
    "(the #343 bounded-lag-join discipline: sum(x_t x_(t-k)) is "
    "BIGINT, mean-centering happens once in doubles), closed-form "
    "phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2), one- and "
    "two-step-ahead forecasts from the last two observations, and "
    "the residual innovation variance c0/n·(1-phi1 r1-phi2 r2) — "
    "the autoregressive complement to Holt-linear (#332): AR "
    "captures mean-reverting dynamics where exponential smoothing "
    "assumes a drifting level. Scale: two bounded self-joins on the "
    "(series, day) grid; series parallelize.",
    bench=False,
)
def q_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _daily_grid(spark, sf_dir).cache()
    mom = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    ga = grid.select("event_type", F.col("t").alias("ta"), F.col("x").alias("xa"))

    def lagmom(k: int, name: str) -> DataFrame:
        gb = grid.select(
            "event_type", (F.col("t") + k).alias("ta"), F.col("x").alias("xb")
        )
        return (
            ga.join(gb, ["event_type", "ta"])
            .groupBy("event_type")
            .agg(
                F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias(f"sxy{name}"),
                F.sum("xa").cast("bigint").alias(f"sh{name}"),
                F.sum("xb").cast("bigint").alias(f"st{name}"),
            )
        )

    w_desc = Window.partitionBy("event_type").orderBy(F.desc("t"))
    lastv = (
        grid.withColumn("rn", F.row_number().over(w_desc))
        .filter(F.col("rn") <= 2)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("rn") == 1, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("x_last"),
            F.sum(F.when(F.col("rn") == 2, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("x_prev"),
        )
    )
    j = (
        mom.join(lagmom(1, "1"), "event_type")
        .join(lagmom(2, "2"), "event_type")
        .join(lastv, "event_type")
    )
    mu = F.col("sx").cast("double") / F.col("n")
    c0 = F.col("sx2").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    c1 = (
        F.col("sxy1").cast("double")
        - mu * (F.col("sh1") + F.col("st1"))
        + (F.col("n") - 1) * mu * mu
    )
    c2 = (
        F.col("sxy2").cast("double")
        - mu * (F.col("sh2") + F.col("st2"))
        + (F.col("n") - 2) * mu * mu
    )
    par = j.select(
        "event_type",
        "n",
        "x_last",
        "x_prev",
        mu.alias("mu"),
        c0.alias("c0"),
        (c1 / c0).alias("r1"),
        (c2 / c0).alias("r2"),
    )
    r1, r2 = F.col("r1"), F.col("r2")
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    f1 = F.col("mu") + phi1 * (F.col("x_last") - F.col("mu")) + phi2 * (
        F.col("x_prev") - F.col("mu")
    )
    f2 = F.col("mu") + phi1 * (f1 - F.col("mu")) + phi2 * (
        F.col("x_last") - F.col("mu")
    )
    return par.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(phi1, 9).alias("phi1"),
        F.round(phi2, 9).alias("phi2"),
        F.round(f1, 9).alias("forecast_1"),
        F.round(f2, 9).alias("forecast_2"),
        F.round((F.col("c0") / F.col("n")) * (1 - phi1 * r1 - phi2 * r2), 9).alias(
            "sigma2_resid"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #379 granger_lag — does one series' lag improve predicting another?
# ---------------------------------------------------------------------------


def _granger_dir_sql(cause: str, effect: str) -> str:
    """One Granger direction: F-test of adding cause_(t-1) to an AR(1)."""
    return f"""
        SELECT '{cause}' AS cause, '{effect}' AS effect, s.m,
               ROUND((s.rss_r - s.rss_u) * (s.m - 3) / s.rss_u, 9) AS f_stat,
               CAST((s.rss_r - s.rss_u) * (s.m - 3) / s.rss_u
                    > {_CHI2_1_95} AS INT) AS significant
        FROM (
            SELECT m,
                   (syy - sy * sy / m)
                   - (s1y - s1 * sy / m) * (s1y - s1 * sy / m)
                     / (s11 - s1 * s1 / m) AS rss_r,
                   (syy - sy * sy / m)
                   - (((s1y - s1 * sy / m) * (s22 - s2 * s2 / m)
                       - (s2y - s2 * sy / m) * (s12 - s1 * s2 / m))
                      * (s1y - s1 * sy / m)
                      + ((s2y - s2 * sy / m) * (s11 - s1 * s1 / m)
                         - (s1y - s1 * sy / m) * (s12 - s1 * s2 / m))
                        * (s2y - s2 * sy / m))
                     / ((s11 - s1 * s1 / m) * (s22 - s2 * s2 / m)
                        - (s12 - s1 * s2 / m) * (s12 - s1 * s2 / m)) AS rss_u
            FROM (
                SELECT CAST(COUNT(*) AS DOUBLE) AS m,
                       CAST(SUM(y.x) AS DOUBLE) AS sy,
                       CAST(SUM(y.x * y.x) AS DOUBLE) AS syy,
                       CAST(SUM(yl.x) AS DOUBLE) AS s1,
                       CAST(SUM(yl.x * yl.x) AS DOUBLE) AS s11,
                       CAST(SUM(xl.x) AS DOUBLE) AS s2,
                       CAST(SUM(xl.x * xl.x) AS DOUBLE) AS s22,
                       CAST(SUM(yl.x * xl.x) AS DOUBLE) AS s12,
                       CAST(SUM(yl.x * y.x) AS DOUBLE) AS s1y,
                       CAST(SUM(xl.x * y.x) AS DOUBLE) AS s2y
                FROM grid y
                JOIN grid yl ON yl.event_type = y.event_type
                            AND yl.t = y.t - 1
                JOIN grid xl ON xl.event_type = '{cause}'
                            AND xl.t = y.t - 1
                WHERE y.event_type = '{effect}'
            )
        ) s
    """


@query(
    "q_granger_lag",
    oracle=f"""
        WITH {_GRID_SQL}
        {_granger_dir_sql('click', 'view')}
        UNION ALL
        {_granger_dir_sql('view', 'click')}
        ORDER BY cause
    """,
    operators=(13, 23, 163, 379),
    doc="Granger lag test (#379) between the click and view daily "
    "series, BOTH directions: does adding cause_(t-1) to the AR(1) "
    "y_t ~ y_(t-1) reduce RSS more than chance? F = (RSS_r - RSS_u)"
    "(m-3)/RSS_u with the unrestricted two-regressor OLS in closed "
    "form (partitioned normal equations — determinant ratios of "
    "centered moments, the #163 regression discipline), gated at "
    "the F(1,inf)=chi2(1) 5% critical value (m-3 is large). The "
    "asymmetry of the two rows IS the result: correlation (#158) is "
    "symmetric, lagged predictive content is not. All moments from "
    "exact integer grid counts in one pass; one IEEE tree each. "
    "Scale: two bounded self-joins on the zero-completed grid.",
    bench=False,
)
def q_granger_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _daily_grid(spark, sf_dir).cache()

    def direction(cause: str, effect: str) -> DataFrame:
        y = grid.filter(F.col("event_type") == effect).select(
            F.col("t"), F.col("x").alias("y")
        )
        yl = grid.filter(F.col("event_type") == effect).select(
            (F.col("t") + 1).alias("t"), F.col("x").alias("z1")
        )
        xl = grid.filter(F.col("event_type") == cause).select(
            (F.col("t") + 1).alias("t"), F.col("x").alias("z2")
        )
        mom = (
            y.join(yl, "t")
            .join(xl, "t")
            .agg(
                F.count(F.lit(1)).cast("double").alias("m"),
                F.sum("y").cast("double").alias("sy"),
                F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
                F.sum("z1").cast("double").alias("s1"),
                F.sum(F.col("z1") * F.col("z1")).cast("double").alias("s11"),
                F.sum("z2").cast("double").alias("s2"),
                F.sum(F.col("z2") * F.col("z2")).cast("double").alias("s22"),
                F.sum(F.col("z1") * F.col("z2")).cast("double").alias("s12"),
                F.sum(F.col("z1") * F.col("y")).cast("double").alias("s1y"),
                F.sum(F.col("z2") * F.col("y")).cast("double").alias("s2y"),
            )
        )
        m = F.col("m")
        syy_c = F.col("syy") - F.col("sy") * F.col("sy") / m
        s11_c = F.col("s11") - F.col("s1") * F.col("s1") / m
        s22_c = F.col("s22") - F.col("s2") * F.col("s2") / m
        s12_c = F.col("s12") - F.col("s1") * F.col("s2") / m
        s1y_c = F.col("s1y") - F.col("s1") * F.col("sy") / m
        s2y_c = F.col("s2y") - F.col("s2") * F.col("sy") / m
        rss_r = syy_c - s1y_c * s1y_c / s11_c
        det = s11_c * s22_c - s12_c * s12_c
        rss_u = syy_c - (
            (s1y_c * s22_c - s2y_c * s12_c) * s1y_c
            + (s2y_c * s11_c - s1y_c * s12_c) * s2y_c
        ) / det
        f_stat = (rss_r - rss_u) * (m - 3) / rss_u
        return mom.select(
            F.lit(cause).alias("cause"),
            F.lit(effect).alias("effect"),
            m.alias("m"),
            F.round(f_stat, 9).alias("f_stat"),
            (f_stat > float(_CHI2_1_95)).cast("int").alias("significant"),
        )

    return direction("click", "view").unionAll(direction("view", "click")).orderBy(
        "cause"
    )


# ---------------------------------------------------------------------------
# #380 holt_winters — additive seasonal exponential smoothing (m=7)
# ---------------------------------------------------------------------------

_HW_M = 7
_HW_ALPHA = "0.2"
_HW_BETA = "0.1"
_HW_GAMMA = "0.3"


@query(
    "q_holt_winters",
    oracle=f"""
        WITH RECURSIVE {_GRID_SQL},
        ser AS (
            SELECT event_type,
                   LIST(CAST(x AS DOUBLE) ORDER BY t) AS ys,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN t < 7 THEN x ELSE 0 END) AS BIGINT)
                       AS sum1,
                   CAST(SUM(CASE WHEN t >= 7 AND t < 14 THEN x ELSE 0 END)
                        AS BIGINT) AS sum2
            FROM grid GROUP BY event_type
        ),
        init AS (
            SELECT event_type, ys, n,
                   CAST(sum1 AS DOUBLE) / 7 AS l0,
                   (CAST(sum2 AS DOUBLE) - sum1) / 49 AS b0
            FROM ser
        ),
        hw AS (
            SELECT event_type, ys, n, CAST(6 AS BIGINT) AS t,
                   l0 AS l, b0 AS b, CAST(0 AS DOUBLE) AS sse,
                   list_transform(ys[1:7], v -> v - l0) AS s
            FROM init
            UNION ALL
            SELECT event_type, ys, n, t + 1,
                   CAST({_HW_ALPHA} AS DOUBLE)
                     * (ys[t + 2] - s[((t + 1) % 7) + 1])
                   + CAST(0.8 AS DOUBLE)
                     * (l + b),
                   CAST({_HW_BETA} AS DOUBLE)
                     * ((CAST({_HW_ALPHA} AS DOUBLE)
                         * (ys[t + 2] - s[((t + 1) % 7) + 1])
                         + CAST(0.8 AS DOUBLE) * (l + b)) - l)
                   + CAST(0.9 AS DOUBLE) * b,
                   sse + (ys[t + 2] - ((l + b) + s[((t + 1) % 7) + 1]))
                         * (ys[t + 2] - ((l + b) + s[((t + 1) % 7) + 1])),
                   list_transform(generate_series(0, 6), i ->
                       CASE WHEN i = (t + 1) % 7
                            THEN CAST({_HW_GAMMA} AS DOUBLE)
                                 * (ys[t + 2]
                                    - (CAST({_HW_ALPHA} AS DOUBLE)
                                       * (ys[t + 2] - s[((t + 1) % 7) + 1])
                                       + CAST(0.8 AS DOUBLE) * (l + b)))
                                 + CAST(0.7 AS DOUBLE) * s[((t + 1) % 7) + 1]
                            ELSE s[i + 1] END)
            FROM hw WHERE t + 1 <= n - 1
        )
        SELECT event_type, n AS n_days,
               ROUND(l, 9) AS level, ROUND(b, 9) AS trend,
               ROUND(SQRT(sse / (n - 7)), 9) AS rmse,
               ROUND((l + b) + s[(CAST(n % 7 AS INT)) + 1], 9) AS forecast_1,
               ROUND((l + CAST(7 AS DOUBLE) * b)
                     + s[(CAST((n + 6) % 7 AS INT)) + 1], 9) AS forecast_7
        FROM hw WHERE t = n - 1
        ORDER BY event_type
    """,
    operators=(23, 44, 332, 344, 380),
    doc="Additive Holt-Winters (#380) per daily-count series, weekly "
    "season m=7, alpha=0.2 beta=0.1 gamma=0.3: level/trend/seasonal "
    "recursions l' = a(x - s_old) + (1-a)(l+b), b' = B(l'-l) + "
    "(1-B)b, s' = G(x-l') + (1-G)s_old, seeded by the classical "
    "two-week init (l0 = mean of week 1, b0 = (mean2-mean1)/7, "
    "s_i = x_i - l0), one-step RMSE against the prior fit (RMSE, not "
    "raw SSE: at sf1+ the accumulated SSE's magnitude pushes the 9th "
    "decimal below one double ulp, where the engines' ROUND routes — "
    "binary expansion vs shortest-repr — can land on different "
    "quanta; the sqrt keeps the quantum above ulp at every decade), "
    "and 1- and "
    "7-day-ahead forecasts — the seasonal upgrade of Holt-linear "
    "(#332) that a trend-only smoother aliases on weekly traffic. "
    "Parity: the #344 fold discipline extended to LIST state — "
    "Spark F.aggregate carries struct(l, b, sse, t, s array(7)) and "
    "updates the seasonal slot by indexed transform; DuckDB's "
    "recursive CTE carries the identical list via list_transform — "
    "every step the same mul/add tree of CAST-to-double literals, "
    "integer init sums. Scale: series parallelize; per-series state "
    "is 10 doubles regardless of row count; fold length is the day "
    "span after the rollup.",
    bench=False,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _daily_grid(spark, sf_dir)
    ser = grid.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "x"))),
            lambda s: s["x"].cast("double"),
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("t") < 7, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sum1"),
        F.sum(F.when((F.col("t") >= 7) & (F.col("t") < 14), F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sum2"),
    )
    init = ser.select(
        "event_type",
        "ys",
        "n",
        (F.col("sum1").cast("double") / 7).alias("l0"),
        ((F.col("sum2").cast("double") - F.col("sum1")) / 49).alias("b0"),
    )
    alpha, beta, gamma = 0.2, 0.1, 0.3

    def step(acc, x):
        t_new = acc["t"] + F.lit(1).cast("bigint")
        idx = (t_new % 7).cast("int")
        s_old = F.element_at(acc["s"], idx + 1)
        l_new = F.lit(alpha) * (x - s_old) + F.lit(0.8) * (acc["l"] + acc["b"])
        b_new = F.lit(beta) * (l_new - acc["l"]) + F.lit(0.9) * acc["b"]
        s_val = F.lit(gamma) * (x - l_new) + F.lit(0.7) * s_old
        err = x - ((acc["l"] + acc["b"]) + s_old)
        s_new = F.transform(
            F.sequence(F.lit(0), F.lit(6)),
            lambda i: F.when(i == idx, s_val).otherwise(
                F.element_at(acc["s"], i.cast("int") + 1)
            ),
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            (acc["sse"] + err * err).alias("sse"),
            t_new.alias("t"),
            s_new.alias("s"),
        )

    s0 = F.transform(F.slice(F.col("ys"), 1, 7), lambda v: v - F.col("l0"))
    init_state = F.struct(
        F.col("l0").alias("l"),
        F.col("b0").alias("b"),
        F.lit(0.0).alias("sse"),
        F.lit(6).cast("bigint").alias("t"),
        s0.alias("s"),
    )
    rest = F.slice(F.col("ys"), 8, F.size(F.col("ys")) - 7)
    folded = init.select(
        "event_type",
        "n",
        F.aggregate(rest, init_state, step).alias("st"),
    )
    st = F.col("st")
    f1 = (st["l"] + st["b"]) + F.element_at(
        st["s"], (F.col("n") % 7).cast("int") + 1
    )
    f7 = (st["l"] + F.lit(7.0) * st["b"]) + F.element_at(
        st["s"], ((F.col("n") + 6) % 7).cast("int") + 1
    )
    return folded.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(st["l"], 9).alias("level"),
        F.round(st["b"], 9).alias("trend"),
        F.round(F.sqrt(st["sse"] / (F.col("n") - 7)), 9).alias("rmse"),
        F.round(f1, 9).alias("forecast_1"),
        F.round(f7, 9).alias("forecast_7"),
    ).orderBy("event_type")
