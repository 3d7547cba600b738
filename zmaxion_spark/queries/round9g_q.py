"""Round-9 wave 7 — SURVEY.md §2.28 (#449–#454).

Survey weighting, economics, and recommendation closure: IPF raking
(the post-stratification weighting every survey/calibration pipeline
runs), Laspeyres/Paasche/Fisher price indices (the index-number
algebra of year-over-year comparisons), an algebraic-angle seasonal
periodogram with spectral entropy (frequency-domain seasonality,
libm-free by construction), Gumbel block-maxima EVT (tail risk beyond
CVaR #298), weighted Slope One (the deviation-based CF predictor), and
the Ochiai bipartite projection (co-purchase association normalized by
both margins — the set-cosine PMI #151 doesn't give).

Parity disciplines reused from the repo:

- Iterative scaling (IPF) mirrors the #153/#432/#443 valve: each
  round's cells re-quantize to ROUND(12) after the margin division,
  margin sums pass through DECIMAL(38,18).
- The periodogram's cos/sin values are ALGEBRAIC (periods 2/3/5/6/10
  only need 0.5, √3/2, (√5±1)/4, √(10±2√5)/4) — built from SQRT,
  which IEEE 754 requires correctly rounded, so both engines compute
  bit-identical tables with zero trig libm exposure.
- Order-dependent double sums quantize per-term to a fixed grid and
  accumulate through DECIMAL (the #445/#447 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #449 raking_ipf — iterative proportional fitting to uniform margins
# ---------------------------------------------------------------------------

_IPF_ITERS = 6

# Each half-step references its predecessor exactly ONCE (margins via
# window sums): DuckDB inlines CTEs, so a twice-referenced iteration
# CTE re-evaluates its whole history — exponential blowup over 12
# half-steps. Single-reference chains stay linear.
_SQL_IPF_STEP = """
        mr{i} AS (
            SELECT r, seg,
                   ROUND(m * (CAST(0.2 AS DOUBLE)
                              / CAST(SUM(CAST(m AS DECIMAL(38,18)))
                                     OVER (PARTITION BY r) AS DOUBLE)),
                         12) AS m
            FROM m{prev}
        ),
        m{i} AS (
            SELECT r, seg,
                   ROUND(m * (CAST(0.2 AS DOUBLE)
                              / CAST(SUM(CAST(m AS DECIMAL(38,18)))
                                     OVER (PARTITION BY seg) AS DOUBLE)),
                         12) AS m
            FROM mr{i}
        )
"""


def _ipf_oracle() -> str:
    steps = ",".join(
        _SQL_IPF_STEP.format(prev=i - 1, i=i) for i in range(1, _IPF_ITERS + 1)
    )
    return f"""
        WITH cells AS (
            SELECT n.n_regionkey AS r, c.c_mktsegment AS seg,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cells),
        m0 AS (SELECT r, seg, CAST(cnt AS DOUBLE) / tot.t AS m
               FROM cells, tot),
        {steps}
        SELECT c.r, c.seg, c.cnt,
               ROUND(CAST(c.cnt AS DOUBLE) / tot.t, 12) AS raw_share,
               m.m AS raked_share,
               ROUND(m.m / (CAST(c.cnt AS DOUBLE) / tot.t), 9) AS weight
        FROM cells c
        JOIN m{_IPF_ITERS} m ON m.r = c.r AND m.seg = c.seg
        CROSS JOIN tot
        ORDER BY c.r, c.seg
    """


@query(
    "q_raking_ipf",
    oracle=_ipf_oracle(),
    operators=(13, 23, 449),
    doc=f"IPF raking (#449), {_IPF_ITERS} exact unrolled iterations: "
    "calibrate the region × market-segment sample shares to uniform "
    "(0.2 / 0.2) target margins by alternating row and column "
    "scaling — Deming-Stephan iterative proportional fitting, the "
    "post-stratification weighting step every survey/panel pipeline "
    "runs before reporting, and the 2-margin version of #437's "
    "single-margin apportionment. Emits per-cell raked share and "
    "the design weight raked/raw. Parity: the start matrix is exact "
    "integer counts over the total (one IEEE division); each "
    "half-step's margin sums pass through DECIMAL(38,18) and each "
    "scaled cell re-quantizes to the 1e-12 grid — bit-identical "
    "matrices after every half-round (the #153 valve). Scale: one "
    "broadcast-dimension rollup to 25 cells; iterations are cell "
    "algebra.",
    bench=False,
)
def q_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cells = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("r"), F.col("c_mktsegment").alias("seg")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    tot = cells.agg(F.sum("cnt").cast("bigint").alias("t"))
    m = cells.crossJoin(F.broadcast(tot)).select(
        "r", "seg", (F.col("cnt").cast("double") / F.col("t")).alias("m")
    )
    for _ in range(_IPF_ITERS):
        rs = m.groupBy("r").agg(
            F.sum(F.col("m").cast("decimal(38,18)")).cast("double").alias("s")
        )
        m = m.join(F.broadcast(rs), "r").select(
            "r",
            "seg",
            F.round(F.col("m") * (F.lit(0.2).cast("double") / F.col("s")), 12).alias(
                "m"
            ),
        )
        cs = m.groupBy("seg").agg(
            F.sum(F.col("m").cast("decimal(38,18)")).cast("double").alias("s")
        )
        # Eager checkpoint valve per round (the #153/#443 discipline):
        # each half-step reads its input twice (margin sum + join), so
        # an unvalved loop doubles the plan 12 times; ROUND(12) makes
        # the matrix checkpoint-invariant.
        m = (
            m.join(F.broadcast(cs), "seg")
            .select(
                "r",
                "seg",
                F.round(
                    F.col("m") * (F.lit(0.2).cast("double") / F.col("s")), 12
                ).alias("m"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        cells.crossJoin(F.broadcast(tot))
        .join(m, ["r", "seg"])
        .select(
            "r",
            "seg",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("t"), 12).alias(
                "raw_share"
            ),
            F.col("m").alias("raked_share"),
            F.round(
                F.col("m") / (F.col("cnt").cast("double") / F.col("t")), 9
            ).alias("weight"),
        )
        .orderBy("r", "seg")
    )


# ---------------------------------------------------------------------------
# #450 price_index — Laspeyres / Paasche / Fisher year-over-year chain
# ---------------------------------------------------------------------------


@query(
    "q_price_index",
    oracle="""
        WITH py AS (
            SELECT l_partkey AS pk,
                   CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS y,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS rev,
                   CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.y AS y0, b.y AS y1, a.pk,
                   CAST(a.rev AS DOUBLE) / a.q / 100 AS p0,
                   CAST(b.rev AS DOUBLE) / b.q / 100 AS p1,
                   a.q AS q0, b.q AS q1
            FROM py a JOIN py b ON b.pk = a.pk AND b.y = a.y + 1
            WHERE a.q > 0 AND b.q > 0
        ),
        sums AS (
            SELECT y0, y1, CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(CAST(FLOOR(p1 * q0 * 1e6 + 0.5) / 1e6
                                 AS DECIMAL(38,6))) AS DOUBLE) AS l_num,
                   CAST(SUM(CAST(FLOOR(p0 * q0 * 1e6 + 0.5) / 1e6
                                 AS DECIMAL(38,6))) AS DOUBLE) AS l_den,
                   CAST(SUM(CAST(FLOOR(p1 * q1 * 1e6 + 0.5) / 1e6
                                 AS DECIMAL(38,6))) AS DOUBLE) AS p_num,
                   CAST(SUM(CAST(FLOOR(p0 * q1 * 1e6 + 0.5) / 1e6
                                 AS DECIMAL(38,6))) AS DOUBLE) AS p_den
            FROM pairs GROUP BY 1, 2
        )
        SELECT y0, y1, n_parts,
               ROUND(l_num / l_den, 9) AS laspeyres,
               ROUND(p_num / p_den, 9) AS paasche,
               ROUND(SQRT((l_num / l_den) * (p_num / p_den)), 9) AS fisher
        FROM sums ORDER BY y0
    """,
    operators=(13, 23, 42, 450),
    doc="Price indices (#450): Laspeyres (base-year basket), Paasche "
    "(current-year basket), and Fisher (their geometric mean — the "
    "'ideal' index satisfying time reversal) chained over adjacent "
    "ship years on parts present in both — the index-number algebra "
    "behind every deflated year-over-year comparison, and the "
    "substitution-bias bracket (L overstates inflation, P "
    "understates; F splits). Parity: per-(part,year) revenue cents "
    "and quantities are exact BIGINTs, unit prices single IEEE "
    "divisions, each p·q product quantizes to the 1e-6 grid and "
    "sums through DECIMAL(38,6); Fisher's SQRT is IEEE-correctly-"
    "rounded. Scale: one rollup to (part, year) cells, a self-join "
    "on (part, adjacent-year) — co-partitioned on part — then "
    "year-pair cells.",
    bench=False,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    py = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.year("l_shipdate").cast("bigint").alias("y"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev"),
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("q"),
        )
        .filter(F.col("q") > 0)
        .localCheckpoint()
    )
    a, b = py.alias("a"), py.alias("b")
    pairs = a.join(
        b,
        (F.col("b.pk") == F.col("a.pk")) & (F.col("b.y") == F.col("a.y") + 1),
    ).select(
        F.col("a.y").alias("y0"),
        F.col("b.y").alias("y1"),
        (F.col("a.rev").cast("double") / F.col("a.q") / 100).alias("p0"),
        (F.col("b.rev").cast("double") / F.col("b.q") / 100).alias("p1"),
        F.col("a.q").alias("q0"),
        F.col("b.q").alias("q1"),
    )

    def _q6(col):
        return (F.floor(col * 1e6 + 0.5) / 1e6).cast("decimal(38,6)")

    sums = pairs.groupBy("y0", "y1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(_q6(F.col("p1") * F.col("q0"))).cast("double").alias("l_num"),
        F.sum(_q6(F.col("p0") * F.col("q0"))).cast("double").alias("l_den"),
        F.sum(_q6(F.col("p1") * F.col("q1"))).cast("double").alias("p_num"),
        F.sum(_q6(F.col("p0") * F.col("q1"))).cast("double").alias("p_den"),
    )
    return sums.select(
        "y0",
        "y1",
        "n_parts",
        F.round(F.col("l_num") / F.col("l_den"), 9).alias("laspeyres"),
        F.round(F.col("p_num") / F.col("p_den"), 9).alias("paasche"),
        F.round(
            F.sqrt((F.col("l_num") / F.col("l_den")) * (F.col("p_num") / F.col("p_den"))),
            9,
        ).alias("fisher"),
    ).orderBy("y0")


# ---------------------------------------------------------------------------
# #451 algebraic periodogram — seasonal power probe + spectral entropy
# ---------------------------------------------------------------------------

# cos/sin lookup tables per period, as SQL expression strings shared
# verbatim by both engines. Periods 2/3/5/6/10 need only algebraic
# values: 0.5, SQRT(3)/2, (SQRT(5)±1)/4, SQRT(10±2·SQRT(5))/4 — all
# built from SQRT (correctly rounded per IEEE 754 on both engines),
# so the tables are bit-identical with no trig libm anywhere.
_S3 = "SQRT(3.0)/2"
_C5A = "(SQRT(5.0)-1)/4"   # cos 72°
_C5B = "(SQRT(5.0)+1)/4"   # cos 36°
_S5A = "SQRT(10.0+2*SQRT(5.0))/4"  # sin 72°
_S5B = "SQRT(10.0-2*SQRT(5.0))/4"  # sin 36°

_TRIG: dict[int, tuple[list[str], list[str]]] = {
    2: (["1.0", "-1.0"], ["0.0", "0.0"]),
    3: (["1.0", "-0.5", "-0.5"], ["0.0", _S3, f"-({_S3})"]),
    5: (
        ["1.0", _C5A, f"-({_C5B})", f"-({_C5B})", _C5A],
        ["0.0", _S5A, _S5B, f"-({_S5B})", f"-({_S5A})"],
    ),
    6: (
        ["1.0", "0.5", "-0.5", "-1.0", "-0.5", "0.5"],
        ["0.0", _S3, _S3, "0.0", f"-({_S3})", f"-({_S3})"],
    ),
    10: (
        ["1.0", _C5B, _C5A, f"-({_C5A})", f"-({_C5B})",
         "-1.0", f"-({_C5B})", f"-({_C5A})", _C5A, _C5B],
        ["0.0", _S5B, _S5A, _S5A, _S5B,
         "0.0", f"-({_S5B})", f"-({_S5A})", f"-({_S5A})", f"-({_S5B})"],
    ),
}


def _trig_case(p: int, table: int, t_expr: str) -> str:
    """CASE expression for cos (table=0) / sin (table=1) of 2π(t mod p)/p."""
    vals = _TRIG[p][table]
    whens = " ".join(
        f"WHEN {t_expr} % {p} = {j} THEN CAST({v} AS DOUBLE)"
        for j, v in enumerate(vals)
    )
    return f"CASE {whens} END"


def _periodogram_oracle() -> str:
    probes = " UNION ALL ".join(
        f"""
        SELECT {p} AS period,
               CAST(SUM(CAST(FLOOR(y * ({_trig_case(p, 0, 't')}) * 1e6 + 0.5)
                             / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS c,
               CAST(SUM(CAST(FLOOR(y * ({_trig_case(p, 1, 't')}) * 1e6 + 0.5)
                             / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s
        FROM idx"""
        for p in sorted(_TRIG)
    )
    return f"""
        WITH daily AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        idx AS (
            SELECT (ROW_NUMBER() OVER (ORDER BY d)) - 1 AS t, y FROM daily
        ),
        probes AS ({probes}),
        pw AS (
            SELECT period, ROUND(c * c + s * s, 6) AS power FROM probes
        ),
        tp AS (
            SELECT CAST(SUM(CAST(power AS DECIMAL(38,6))) AS DOUBLE) AS tot
            FROM pw
        ),
        sh AS (
            SELECT period, power, ROUND(power / tp.tot, 12) AS share
            FROM pw, tp
        ),
        ent AS (
            SELECT CAST(SUM(CAST(
                       CASE WHEN share > 0
                            THEN FLOOR(-share * LN(share) * 1e12 + 0.5) / 1e12
                            ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE) AS h
            FROM sh
        )
        SELECT sh.period, sh.power, sh.share,
               ROUND(ent.h, 9) AS spectral_entropy
        FROM sh, ent ORDER BY sh.period
    """


@query(
    "q_periodogram",
    oracle=_periodogram_oracle(),
    operators=(24, 42, 43, 451),
    doc="Seasonal periodogram (#451) of the daily event-count series "
    "at probe periods {2,3,5,6,10} days, plus the spectral entropy "
    "of the normalized power distribution — the frequency-domain "
    "seasonality lens beside #275's time-domain decomposition and "
    "#425's strength ratios (low entropy = one dominant cycle, high "
    "= broadband). The engine-parity trick: those five periods need "
    "only ALGEBRAIC cos/sin values (0.5, √3/2, (√5±1)/4, "
    "√(10±2√5)/4), built from SQRT — which IEEE 754 requires "
    "correctly rounded — via (t mod p) CASE tables, so both engines "
    "compute bit-identical trigonometry with ZERO libm trig calls "
    "(the #13-fix class avoided by construction, not absorbed). "
    "Per-term products quantize to 1e-6 and sum through "
    "DECIMAL(38,6); entropy terms through the 1e-12 grid. Scale: "
    "one rollup to the bounded day census, then 5-cell algebra.",
    bench=False,
)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"), "y"
    ).localCheckpoint()

    def _q6(expr: str):
        return F.expr(f"CAST(FLOOR({expr} * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))")

    probes = None
    for p in sorted(_TRIG):
        one = idx.agg(
            F.sum(_q6(f"y * ({_trig_case(p, 0, 't')})")).cast("double").alias("c"),
            F.sum(_q6(f"y * ({_trig_case(p, 1, 't')})")).cast("double").alias("s"),
        ).select(F.lit(p).cast("int").alias("period"), "c", "s")
        probes = one if probes is None else probes.unionAll(one)
    pw = probes.select(
        "period",
        F.round(F.col("c") * F.col("c") + F.col("s") * F.col("s"), 6).alias(
            "power"
        ),
    )
    tp = pw.agg(
        F.sum(F.col("power").cast("decimal(38,6)")).cast("double").alias("tot")
    )
    sh = pw.crossJoin(F.broadcast(tp)).select(
        "period", "power", F.round(F.col("power") / F.col("tot"), 12).alias("share")
    )
    ent = sh.agg(
        F.sum(
            F.when(
                F.col("share") > 0,
                F.floor(-F.col("share") * F.log("share") * 1e12 + 0.5) / 1e12,
            )
            .otherwise(0.0)
            .cast("decimal(38,12)")
        )
        .cast("double")
        .alias("h")
    )
    return (
        sh.crossJoin(F.broadcast(ent))
        .select(
            "period", "power", "share", F.round(F.col("h"), 9).alias("spectral_entropy")
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# #452 gumbel_maxima — block-maxima EVT fit with exceedance contract
# ---------------------------------------------------------------------------

_EULER_GAMMA = "0.5772156649015329"
_PI = "3.141592653589793"


@query(
    "q_gumbel_maxima",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                        + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS ym,
                   CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS d,
                   CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1, 2
        ),
        blocks AS (
            SELECT ym, CAST(MAX(y) AS BIGINT) AS mx
            FROM daily GROUP BY ym
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(mx) AS BIGINT) AS s1,
                   CAST(SUM((mx * mx) // 1000000000) AS BIGINT) AS s2h,
                   CAST(SUM((mx * mx) % 1000000000) AS BIGINT) AS s2l,
                   CAST(MAX(mx) AS BIGINT) AS mxx
            FROM blocks
        ),
        fit AS (
            SELECT n, mxx,
                   CAST(s1 AS DOUBLE) / n AS m1,
                   ((CAST(s2h AS DOUBLE) * 1e9 + CAST(s2l AS DOUBLE))
                    - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS var,
                   2 * (s1 // n) AS thr
            FROM mo
        ),
        par AS (
            SELECT n, thr, mxx,
                   SQRT(6 * var) / {_PI} AS beta,
                   m1 - {_EULER_GAMMA} * (SQRT(6 * var) / {_PI}) AS mu
            FROM fit
        )
        SELECT n AS n_blocks,
               CAST(thr AS BIGINT) AS threshold,
               mxx AS max_observed,
               ROUND(mu, 6) AS mu,
               ROUND(beta, 6) AS beta,
               ROUND(1 - EXP(-EXP(-((CAST(thr AS DOUBLE) - mu) / beta))), 9)
                   AS p_exceed_threshold,
               ROUND(mu - beta * LN(-LN(1 - 1.0 / 20)), 6)
                   AS return_level_20
        FROM par
    """,
    operators=(24, 42, 43, 452),
    doc="Gumbel block-maxima EVT (#452): fit the Gumbel distribution "
    "to monthly maxima of daily revenue by method of moments "
    "(β = s√6/π, μ = m − γβ), then grade the exceedance probability "
    "of a 2×-mean-max threshold and the 20-block return level — the "
    "extreme-value tail lens that answers 'how bad is the worst "
    "month in 20?' where CVaR (#298) only averages the observed "
    "tail. Parity: daily sums, per-month maxima, and Σmx² (div/mod-"
    "1e9 limbs) are exact BIGINTs; the threshold is an integer "
    "(2·(Σ div n)); β/μ are one IEEE tree whose only non-arithmetic "
    "ops are correctly-rounded SQRTs; the double-exponential CDF "
    "and the LN(−LN(0.95)) return level are single-cell libm calls "
    "quantized at 1e-9/1e-6 (the accepted single-cell exposure). "
    "Scale: two rollups (day, month) then 1-row algebra.",
    bench=False,
)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym"),
            F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    blocks = daily.groupBy("ym").agg(F.max("y").cast("bigint").alias("mx"))
    mo = blocks.select(
        "mx", (F.col("mx") * F.col("mx")).alias("mx2")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s1"),
        F.sum(F.expr("mx2 div 1000000000")).cast("bigint").alias("s2h"),
        F.sum(F.expr("mx2 % 1000000000")).cast("bigint").alias("s2l"),
        F.max("mx").cast("bigint").alias("mxx"),
    )
    fit = mo.select(
        "n",
        "mxx",
        (F.col("s1").cast("double") / F.col("n")).alias("m1"),
        (
            (
                (F.col("s2h").cast("double") * 1e9 + F.col("s2l").cast("double"))
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
        (2 * F.expr("s1 div n")).alias("thr"),
    )
    beta = F.sqrt(6 * F.col("var")) / F.expr(_PI)
    mu = F.col("m1") - F.expr(_EULER_GAMMA) * beta
    return fit.select(
        F.col("n").alias("n_blocks"),
        F.col("thr").cast("bigint").alias("threshold"),
        F.col("mxx").alias("max_observed"),
        F.round(mu, 6).alias("mu"),
        F.round(beta, 6).alias("beta"),
        F.round(
            1 - F.exp(-F.exp(-((F.col("thr").cast("double") - mu) / beta))), 9
        ).alias("p_exceed_threshold"),
        F.round(mu - beta * F.log(-F.log(F.lit(1 - 1.0 / 20))), 6).alias(
            "return_level_20"
        ),
    )


# ---------------------------------------------------------------------------
# #453 slope_one — weighted Slope One CF predictions, per-item MAE
# ---------------------------------------------------------------------------


@query(
    "q_slope_one",
    oracle="""
        WITH r AS (
            SELECT user_id AS u, event_type AS i,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ),
        dev AS (
            SELECT a.i AS i, b.i AS j,
                   CAST(COUNT(*) AS BIGINT) AS n_ij,
                   CAST(SUM(a.x - b.x) AS BIGINT) AS sdiff
            FROM r a JOIN r b ON b.u = a.u AND b.i <> a.i
            GROUP BY 1, 2
        ),
        pred AS (
            SELECT r.u, d.i,
                   CAST(SUM(CAST(FLOOR(
                       (r.x + CAST(d.sdiff AS DOUBLE) / d.n_ij) * d.n_ij
                       * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE)
                       / CAST(SUM(d.n_ij) AS BIGINT) AS p
            FROM r JOIN dev d ON d.j = r.i
            GROUP BY 1, 2
        )
        SELECT a.i AS item,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(CAST(SUM(CAST(FLOOR(ABS(p.p - a.x) * 1e9 + 0.5) / 1e9
                              AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 9)
                   AS mae,
               -- "+ 0" canonicalizes -0.0 (a tiny negative mean bias
               -- rounds to -0.0 in DuckDB, +0.0 in Spark) to +0.0.
               ROUND(CAST(SUM(CAST(FLOOR((p.p - a.x) * 1e9 + 0.5) / 1e9
                              AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 9)
                   + 0 AS bias
        FROM r a JOIN pred p ON p.u = a.u AND p.i = a.i
        GROUP BY 1 ORDER BY 1
    """,
    operators=(13, 23, 453),
    doc="Weighted Slope One (#453): predict each user's intensity on "
    "item i from their OTHER items j via the co-rater average "
    "deviation dev(i,j) = Σ(x_i − x_j)/n_ij, weighted by co-rater "
    "support — Lemire & Maclachlan's deviation-based CF predictor, "
    "the simplest item-item recommender with a closed form (no "
    "training loop, trivially updatable) and the precursor whose "
    "residuals item-CF (#387) and factor models fight over. Graded "
    "as per-item MAE and signed bias of the leave-the-item-in "
    "predictions. Parity: ratings (event counts) and deviation "
    "numerators are exact BIGINTs; each weighted term and each "
    "per-user error quantizes to a fixed grid (1e-6 / 1e-9) and "
    "sums through DECIMAL. Scale: deviations shuffle user-bounded "
    "item pairs (≤|types|² cells); predictions are one join on the "
    "5-row broadcast deviation table + one groupBy(user, item).",
    bench=False,
)
def q_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("u"), F.col("event_type").alias("i"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .localCheckpoint()
    )
    a, b = r.alias("a"), r.alias("b")
    dev = (
        a.join(b, (F.col("b.u") == F.col("a.u")) & (F.col("b.i") != F.col("a.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ij"),
            F.sum(F.col("a.x") - F.col("b.x")).cast("bigint").alias("sdiff"),
        )
    )
    rj = r.select("u", F.col("i").alias("j"), "x")
    pred = (
        rj.join(F.broadcast(dev), "j")
        .groupBy("u", "i")
        .agg(
            (
                F.sum(
                    (
                        F.floor(
                            (
                                F.col("x")
                                + F.col("sdiff").cast("double") / F.col("n_ij")
                            )
                            * F.col("n_ij")
                            * 1e6
                            + 0.5
                        )
                        / 1e6
                    ).cast("decimal(38,6)")
                ).cast("double")
                / F.sum("n_ij").cast("bigint")
            ).alias("p")
        )
    )
    return (
        r.join(pred, (pred["u"] == r["u"]) & (pred["i"] == r["i"]))
        .select(r["i"].alias("item"), F.col("p"), F.col("x"))
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(
                F.sum(
                    (
                        F.floor(F.abs(F.col("p") - F.col("x")) * 1e9 + 0.5) / 1e9
                    ).cast("decimal(38,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mae"),
            F.round(
                F.sum(
                    (F.floor((F.col("p") - F.col("x")) * 1e9 + 0.5) / 1e9).cast(
                        "decimal(38,9)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("_bias_r"),
        )
        # + 0 mirrors the oracle's -0.0 canonicalization (IEEE:
        # -0.0 + 0 = +0.0) — caught by the sf0.1 bit audit (r10).
        .select(
            "item",
            "n_users",
            "mae",
            (F.col("_bias_r") + F.lit(0)).alias("bias"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# #454 bipartite_ochiai — co-purchase association by set cosine, top-20
# ---------------------------------------------------------------------------


@query(
    "q_bipartite_ochiai",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        deg AS (SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS d
                FROM items GROUP BY 1),
        pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM items a JOIN items b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2),
        sc AS (SELECT pr.u, pr.v, pr.c, du.d AS du, dv.d AS dv,
                      ROUND(CAST(pr.c AS DOUBLE)
                            / SQRT(CAST(du.d AS DOUBLE) * dv.d), 12) AS ochiai
               FROM pr
               JOIN deg du ON du.pk = pr.u
               JOIN deg dv ON dv.pk = pr.v
               WHERE pr.c >= 2)
        SELECT u, v, c, du, dv, ochiai
        FROM sc
        ORDER BY ochiai DESC, u, v
        LIMIT 20
    """,
    operators=(13, 23, 36, 454),
    doc="Ochiai bipartite projection (#454): project the order-part "
    "incidence onto part-part edges scored by the set cosine "
    "c/√(dᵤ·dᵥ) — the margin-normalized association that PMI (#151) "
    "approximates probabilistically and raw co-counts (#152's edge "
    "weights) ignore entirely: a pair co-ordered 5 times means "
    "something different when both parts appear in 6 orders vs 600. "
    "Graded as the global top-20 (support ≥ 2). Parity: co-counts "
    "and degrees are exact integers, Ochiai is one IEEE tree with a "
    "correctly-rounded SQRT, ROUND(12) pins the sort key, and the "
    "(score desc, u, v) order is total. Scale: the #152 sorted-"
    "basket pair expansion bounds fan-out by basket size; top-20 "
    "is TakeOrderedAndProject (per-partition top-k + driver merge), "
    "no global sort.",
    bench=False,
)
def q_bipartite_ochiai(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    deg = items.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    pairs = (
        items.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.posexplode("ps").alias("i", "u"), F.col("ps"))
        .select("u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= 2)
    )
    du = deg.select(F.col("pk").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("pk").alias("v"), F.col("d").alias("dv"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "c",
            "du",
            "dv",
            F.round(
                F.col("c").cast("double")
                / F.sqrt(F.col("du").cast("double") * F.col("dv")),
                12,
            ).alias("ochiai"),
        )
        .orderBy(F.desc("ochiai"), "u", "v")
        .limit(20)
    )
