"""Round-9 wave 11 — SURVEY.md §2.28 (#475–#479).

Process mining, optimal transport, and SPC closure: the alpha-miner
footprint matrix (the causal/parallel/choice relations process
discovery starts from — #312 checks conformance against a known
model; the footprint DISCOVERS the model), entropy-regularized
Sinkhorn optimal transport (the modern OT workhorse — and literally
IPF #449 on an exp(−C/ε) kernel, so the valve discipline carries
over), Wilson score intervals (the proportion CI that behaves at
small n and extreme p̂ where the Wald interval collapses), Cp/Cpk
process capability (SPC's spec-limit grade beside the #237/#344
control charts), and Tukey's HSD studentized-range pairwise test
(the parametric post-hoc beside rank-based Dunn #419).

Parity disciplines reused from the repo:

- Sinkhorn = the #449 IPF valve verbatim: kernel cells are k-cell
  EXP quantized at 1e-12, each half-step re-quantizes ROUND(12),
  margin sums ride DECIMAL(38,18), oracle CTEs single-reference.
- Footprint relations are pure integer censuses over entity-grain
  ordered windows (partitioned by user — the acceptable shape).
- Wilson/Cpk/HSD are IEEE trees over integer moments with
  correctly-rounded SQRT as the only non-arithmetic op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #475 alpha_footprint — process-discovery relation matrix
# ---------------------------------------------------------------------------


@query(
    "q_alpha_footprint",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        df AS (
            SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
            FROM ordered WHERE nxt IS NOT NULL
            GROUP BY 1, 2
        ),
        types AS (SELECT DISTINCT event_type AS t FROM events),
        pairs AS (
            SELECT a.t AS a, b.t AS b
            FROM types a JOIN types b ON a.t < b.t
        )
        SELECT p.a, p.b,
               COALESCE(ab.c, 0) AS n_ab,
               COALESCE(ba.c, 0) AS n_ba,
               CASE WHEN COALESCE(ab.c, 0) > 0 AND COALESCE(ba.c, 0) > 0
                        THEN 'parallel'
                    WHEN COALESCE(ab.c, 0) > 0 THEN 'causal_ab'
                    WHEN COALESCE(ba.c, 0) > 0 THEN 'causal_ba'
                    ELSE 'choice' END AS relation
        FROM pairs p
        LEFT JOIN df ab ON ab.a = p.a AND ab.b = p.b
        LEFT JOIN df ba ON ba.a = p.b AND ba.b = p.a
        ORDER BY p.a, p.b
    """,
    operators=(30, 31, 312, 475),
    doc="Alpha-miner footprint matrix (#475): direct-follows counts "
    "per activity pair from per-user ordered event traces, classified "
    "into the alpha algorithm's relations — causal (a>b, never b>a), "
    "parallel (both directions observed), choice (never adjacent) — "
    "the matrix van der Aalst's process DISCOVERY builds a Petri net "
    "from; #312's conformance checking assumes a model, this is "
    "where the model comes from. Parity: the successor derivation "
    "is a LEAD over entity-grain windows (partitioned by user, the "
    "acceptable shape) with (ts, event_id) as a total per-user "
    "order; everything downstream is exact integer censuses and "
    "CASE classification — no floats at all. Scale: direct-follows "
    "shuffle is |types|² cells after map-side combine; the pair "
    "frame is a broadcast cross of the bounded type census.",
    bench=False,
)
def q_alpha_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    df = ordered.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    types = ev.select(F.col("event_type").alias("t")).distinct()
    ta, tb = types.alias("ta"), types.alias("tb")
    pairs = ta.join(tb, F.col("ta.t") < F.col("tb.t")).select(
        F.col("ta.t").alias("a"), F.col("tb.t").alias("b")
    )
    ab = df.select(F.col("a").alias("pa"), F.col("b").alias("pb"), F.col("c").alias("cab"))
    ba = df.select(F.col("b").alias("pa"), F.col("a").alias("pb"), F.col("c").alias("cba"))
    out = (
        pairs.join(
            F.broadcast(ab),
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left",
        )
        .drop("pa", "pb")
        .join(
            F.broadcast(ba),
            (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
            "left",
        )
        .drop("pa", "pb")
        .select(
            "a",
            "b",
            F.coalesce(F.col("cab"), F.lit(0)).cast("bigint").alias("n_ab"),
            F.coalesce(F.col("cba"), F.lit(0)).cast("bigint").alias("n_ba"),
        )
    )
    rel = (
        F.when((F.col("n_ab") > 0) & (F.col("n_ba") > 0), "parallel")
        .when(F.col("n_ab") > 0, "causal_ab")
        .when(F.col("n_ba") > 0, "causal_ba")
        .otherwise("choice")
    )
    return out.select("a", "b", "n_ab", "n_ba", rel.alias("relation")).orderBy(
        "a", "b"
    )


# ---------------------------------------------------------------------------
# #476 sinkhorn_transport — entropy-regularized OT between margins
# ---------------------------------------------------------------------------

_SK_ITERS = 6

# Row/column scaling with margins from the data; each half-step
# references its predecessor exactly once (window sums — the #449
# anti-inlining rule).
_SQL_SK_STEP = """
        mr{i} AS (
            SELECT ri, ci, r_tgt, c_tgt,
                   ROUND(m * (r_tgt
                              / CAST(SUM(CAST(m AS DECIMAL(38,18)))
                                     OVER (PARTITION BY ri) AS DOUBLE)),
                         12) AS m
            FROM m{prev}
        ),
        m{i} AS (
            SELECT ri, ci, r_tgt, c_tgt,
                   ROUND(m * (c_tgt
                              / CAST(SUM(CAST(m AS DECIMAL(38,18)))
                                     OVER (PARTITION BY ci) AS DOUBLE)),
                         12) AS m
            FROM mr{i}
        )
"""


def _sinkhorn_oracle() -> str:
    steps = ",".join(
        _SQL_SK_STEP.format(prev=i - 1, i=i) for i in range(1, _SK_ITERS + 1)
    )
    return f"""
        WITH cust AS (
            SELECT n.n_regionkey AS r, c.c_mktsegment AS seg
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        ),
        rm AS (
            SELECT r AS ri, CAST(COUNT(*) AS BIGINT) AS rc FROM cust GROUP BY r
        ),
        cm AS (
            SELECT seg AS ci, CAST(COUNT(*) AS BIGINT) AS cc
            FROM cust GROUP BY seg
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cust),
        segidx AS (
            SELECT ci, cc,
                   CAST(ROW_NUMBER() OVER (ORDER BY ci) - 1 AS BIGINT) AS cj
            FROM cm
        ),
        kern AS (
            SELECT rm.ri, s.ci,
                   CAST(rm.rc AS DOUBLE) / tot.t AS r_tgt,
                   CAST(s.cc AS DOUBLE) / tot.t AS c_tgt,
                   ABS(rm.ri - s.cj) AS cost,
                   FLOOR(EXP(-CAST(ABS(rm.ri - s.cj) AS DOUBLE)) * 1e12 + 0.5)
                       / 1e12 AS k
            FROM rm CROSS JOIN segidx s CROSS JOIN tot
        ),
        m0 AS (
            SELECT ri, ci, r_tgt, c_tgt, k AS m FROM kern
        ),
        {steps},
        cost AS (
            SELECT CAST(SUM(CAST(FLOOR(f.m * k.cost * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(38,12))) AS DOUBLE) AS tc
            FROM m{_SK_ITERS} f
            JOIN kern k ON k.ri = f.ri AND k.ci = f.ci
        )
        SELECT f.ri AS region, f.ci AS segment,
               f.m AS mass,
               ROUND(c.tc, 9) AS transport_cost
        FROM m{_SK_ITERS} f CROSS JOIN cost c
        ORDER BY f.ri, f.ci
    """


@query(
    "q_sinkhorn_transport",
    oracle=_sinkhorn_oracle(),
    operators=(13, 23, 449, 476),
    doc=f"Sinkhorn optimal transport (#476), {_SK_ITERS} exact unrolled "
    "scaling rounds: move the region marginal onto the segment "
    "marginal over an index-distance cost, through the entropy-"
    "regularized kernel exp(−C/ε) — Cuturi's algorithm, which IS "
    "iterative proportional fitting (#449) run on a kernel instead "
    "of the observed table; the graded output is the 25-cell "
    "transport PLAN plus its cost, the 2-D generalization of the "
    "1-D Wasserstein drift (#335). Parity: margins are exact "
    "integer ratios; the 25 kernel EXPs quantize through the 1e-12 "
    "grid up front; every half-step re-quantizes ROUND(12) with "
    "DECIMAL(38,18) margin sums (bit-identical matrices each "
    "half-round); cost terms quantize 1e-12 + DECIMAL. Scale: two "
    "dimension rollups to 5-cell margins; iterations are 25-cell "
    "algebra.",
    bench=False,
)
def q_sinkhorn_transport(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(F.col("n_regionkey").alias("r"), F.col("c_mktsegment").alias("seg"))
    rm = base.groupBy(F.col("r").alias("ri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("rc")
    )
    cm = base.groupBy(F.col("seg").alias("ci")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    segidx = cm.select(
        "ci",
        "cc",
        (F.row_number().over(Window.orderBy("ci")) - 1).cast("bigint").alias("cj"),
    )
    kern = (
        rm.crossJoin(F.broadcast(segidx))
        .crossJoin(F.broadcast(tot))
        .select(
            "ri",
            "ci",
            (F.col("rc").cast("double") / F.col("t")).alias("r_tgt"),
            (F.col("cc").cast("double") / F.col("t")).alias("c_tgt"),
            F.abs(F.col("ri") - F.col("cj")).alias("cost"),
            (
                F.floor(
                    F.exp(-F.abs(F.col("ri") - F.col("cj")).cast("double"))
                    * 1e12
                    + 0.5
                )
                / 1e12
            ).alias("k"),
        )
        .localCheckpoint()
    )
    m = kern.select("ri", "ci", "r_tgt", "c_tgt", F.col("k").alias("m"))
    for _ in range(_SK_ITERS):
        rs = m.groupBy("ri").agg(
            F.sum(F.col("m").cast("decimal(38,18)")).cast("double").alias("s")
        )
        m = m.join(F.broadcast(rs), "ri").select(
            "ri",
            "ci",
            "r_tgt",
            "c_tgt",
            F.round(F.col("m") * (F.col("r_tgt") / F.col("s")), 12).alias("m"),
        )
        cs = m.groupBy("ci").agg(
            F.sum(F.col("m").cast("decimal(38,18)")).cast("double").alias("s")
        )
        m = (
            m.join(F.broadcast(cs), "ci")
            .select(
                "ri",
                "ci",
                "r_tgt",
                "c_tgt",
                F.round(F.col("m") * (F.col("c_tgt") / F.col("s")), 12).alias("m"),
            )
            .localCheckpoint(eager=True)
        )
    cost = (
        m.join(kern.select("ri", "ci", "cost"), ["ri", "ci"])
        .select(
            (F.floor(F.col("m") * F.col("cost") * 1e12 + 0.5) / 1e12)
            .cast("decimal(38,12)")
            .alias("term")
        )
        .agg(F.sum("term").cast("double").alias("tc"))
    )
    return (
        m.crossJoin(F.broadcast(cost))
        .select(
            F.col("ri").alias("region"),
            F.col("ci").alias("segment"),
            F.col("m").alias("mass"),
            F.round(F.col("tc"), 9).alias("transport_cost"),
        )
        .orderBy("region", "segment")
    )


# ---------------------------------------------------------------------------
# #477 wilson_interval — score CIs for per-type engagement rates
# ---------------------------------------------------------------------------

_WZ = "1.959964"


@query(
    "q_wilson_interval",
    oracle=f"""
        WITH peru AS (
            SELECT user_id,
                   CAST(MAX(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS converted
            FROM events GROUP BY user_id
        ),
        seg AS (
            SELECT user_id % 4 AS cohort,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(converted) AS BIGINT) AS x
            FROM peru GROUP BY 1
        )
        SELECT cohort, n, x,
               ROUND(CAST(x AS DOUBLE) / n, 9) AS p_hat,
               ROUND((CAST(x AS DOUBLE) / n + {_WZ} * {_WZ} / (2 * n)
                      - {_WZ} * SQRT((CAST(x AS DOUBLE) / n)
                                     * (1 - CAST(x AS DOUBLE) / n) / n
                                     + {_WZ} * {_WZ} / (4.0 * n * n)))
                     / (1 + {_WZ} * {_WZ} / n), 9) AS wilson_lo,
               ROUND((CAST(x AS DOUBLE) / n + {_WZ} * {_WZ} / (2 * n)
                      + {_WZ} * SQRT((CAST(x AS DOUBLE) / n)
                                     * (1 - CAST(x AS DOUBLE) / n) / n
                                     + {_WZ} * {_WZ} / (4.0 * n * n)))
                     / (1 + {_WZ} * {_WZ} / n), 9) AS wilson_hi
        FROM seg ORDER BY cohort
    """,
    operators=(23, 24, 477),
    doc="Wilson score intervals (#477) for per-cohort conversion "
    "rates: the score-test CI (p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²))"
    "/(1 + z²/n) — the proportion interval that stays inside [0,1] "
    "and keeps coverage at small n and extreme p̂, where the naive "
    "Wald ±z√(p̂(1−p̂)/n) the #147 z-test inverts collapses to a "
    "zero-width lie at p̂ ∈ {0,1}. Cohorts are the md5-free "
    "user_id%4 split. Parity: (n, x) are exact integers per cohort "
    "and each bound is one IEEE tree whose only non-arithmetic op "
    "is a correctly-rounded SQRT — no libm at all. Scale: one "
    "per-user rollup + a 4-cell census.",
    bench=False,
)
def q_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    peru = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("converted")
        )
    )
    seg = peru.groupBy((F.col("user_id") % 4).alias("cohort")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
    )
    z = F.expr(_WZ)
    p = F.col("x").cast("double") / F.col("n")
    rad = z * F.sqrt(
        p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    den = 1 + z * z / F.col("n")
    return seg.select(
        "cohort",
        "n",
        "x",
        F.round(p, 9).alias("p_hat"),
        F.round((p + z * z / (2 * F.col("n")) - rad) / den, 9).alias("wilson_lo"),
        F.round((p + z * z / (2 * F.col("n")) + rad) / den, 9).alias("wilson_hi"),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# #478 process_capability — Cp / Cpk against derived spec limits
# ---------------------------------------------------------------------------


@query(
    "q_process_capability",
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
        spec AS (
            SELECT n, sy,
                   (sy // n) AS tgt,
                   ((sy // n) * 6) // 10 AS lsl,
                   ((sy // n) * 14) // 10 AS usl,
                   CAST(sy AS DOUBLE) / n AS mu,
                   SQRT(((CAST(syyh AS DOUBLE) * 1e9 + CAST(syyl AS DOUBLE))
                         - CAST(sy AS DOUBLE) * sy / n) / (n - 1)) AS s
            FROM mo
        ),
        oos AS (
            SELECT CAST(SUM(CASE WHEN d.y < sp.lsl OR d.y > sp.usl
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
            FROM daily d, spec sp
        )
        SELECT sp.n AS n_days,
               CAST(sp.lsl AS BIGINT) AS lsl,
               CAST(sp.usl AS BIGINT) AS usl,
               ROUND(sp.mu, 6) AS mean_rev,
               ROUND(sp.s, 6) AS sd_rev,
               ROUND((sp.usl - sp.lsl) / (6 * sp.s), 9) AS cp,
               ROUND(LEAST(sp.usl - sp.mu, sp.mu - sp.lsl) / (3 * sp.s), 9)
                   AS cpk,
               o.n_out AS n_out_of_spec
        FROM spec sp, oos o
    """,
    operators=(24, 43, 478),
    doc="Process capability (#478): Cp = (USL−LSL)/6σ and "
    "Cpk = min(USL−μ, μ−LSL)/3σ of daily revenue against spec "
    "limits derived as ±40% of the integer mean — SPC's promise "
    "grade ('can this process STAY in spec', Cpk < 1.33 is the "
    "classic not-capable cut) beside the #237/#344/#352 charts "
    "that only ask 'did it just shift'; the out-of-spec day count "
    "is the exact empirical check on the capability claim. Parity: "
    "spec limits are pure integer div arithmetic off BIGINT sums, "
    "moments carry y² limbs, Cp/Cpk are one IEEE tree with a "
    "correctly-rounded SQRT, and the violation count is an exact "
    "integer census. Scale: bounded day census + 1-row algebra.",
    bench=False,
)
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    spec = mo.select(
        "n",
        F.expr("(sy div n) * 6 div 10").alias("lsl"),
        F.expr("(sy div n) * 14 div 10").alias("usl"),
        (F.col("sy").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                (F.col("syyh").cast("double") * 1e9 + F.col("syyl").cast("double"))
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("s"),
    )
    oos = (
        daily.crossJoin(F.broadcast(spec))
        .agg(
            F.sum(
                F.when(
                    (F.col("y") < F.col("lsl")) | (F.col("y") > F.col("usl")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_out")
        )
    )
    return spec.crossJoin(F.broadcast(oos)).select(
        F.col("n").alias("n_days"),
        F.col("lsl").cast("bigint").alias("lsl"),
        F.col("usl").cast("bigint").alias("usl"),
        F.round(F.col("mu"), 6).alias("mean_rev"),
        F.round(F.col("s"), 6).alias("sd_rev"),
        F.round((F.col("usl") - F.col("lsl")) / (6 * F.col("s")), 9).alias("cp"),
        F.round(
            F.least(F.col("usl") - F.col("mu"), F.col("mu") - F.col("lsl"))
            / (3 * F.col("s")),
            9,
        ).alias("cpk"),
        F.col("n_out").alias("n_out_of_spec"),
    )


# ---------------------------------------------------------------------------
# #479 tukey_hsd — studentized-range pairwise means test
# ---------------------------------------------------------------------------


@query(
    "q_tukey_hsd",
    oracle="""
        WITH v AS (
            SELECT c_nationkey AS g,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS x
            FROM customer
        ),
        cells AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(x) AS BIGINT) AS s_i
            FROM v GROUP BY g
        ),
        gmo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS k,
                   CAST(SUM((x * x) // 1000000000) AS BIGINT) AS qh,
                   CAST(SUM((x * x) % 1000000000) AS BIGINT) AS ql
            FROM v
        ),
        ssw AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       CAST(s_i AS DOUBLE) * s_i / n_i + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE) AS sb
            FROM cells
        ),
        msw AS (
            SELECT ((CAST(g.qh AS DOUBLE) * 1e9 + g.ql) - s.sb)
                       / (g.n - g.k) AS msw,
                   g.k
            FROM gmo g, ssw s
        ),
        q AS (
            SELECT a.g AS g1, b.g AS g2,
                   ROUND(ABS(CAST(a.s_i AS DOUBLE) / a.n_i
                             - CAST(b.s_i AS DOUBLE) / b.n_i)
                         / SQRT(m.msw / 2
                                * (1.0 / a.n_i + 1.0 / b.n_i)), 9) AS q_stat
            FROM cells a
            JOIN cells b ON a.g < b.g
            CROSS JOIN msw m
        ),
        flagged AS (
            SELECT CAST(SUM(CASE WHEN q_stat > 3.9 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_signif
            FROM q
        )
        SELECT q.g1, q.g2, q.q_stat, f.n_signif
        FROM q, flagged f
        ORDER BY q.q_stat DESC, q.g1, q.g2
        LIMIT 10
    """,
    operators=(23, 24, 419, 479),
    doc="Tukey HSD (#479): studentized-range pairwise statistics "
    "q = |x̄ᵢ−x̄ⱼ|/√(MSW/2·(1/nᵢ+1/nⱼ)) over nation mean balances — "
    "the PARAMETRIC post-hoc whose single-step familywise control "
    "is exactly what running k² t-tests (#147) destroys, and the "
    "mean-based twin of rank-based Dunn (#419); graded as the "
    "top-10 operating points plus the count over the q≈3.9 "
    "(k=25, 5%) cut, the #424 documented-constant policy. Parity: "
    "cell moments exact BIGINTs, pooled MSW whole-unit-quantized "
    "through DECIMAL(38,0) (the #448 discipline), each q one IEEE "
    "tree ROUND(9)-pinned, (q desc, pair) a total order. Scale: "
    "25-cell pair algebra behind one rollup.",
    bench=False,
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("g"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("x"),
    )
    cells = v.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("x").cast("bigint").alias("s_i"),
    ).localCheckpoint()
    gmo = v.select("g", "x", (F.col("x") * F.col("x")).alias("x2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("g").cast("bigint").alias("k"),
        F.sum(F.expr("x2 div 1000000000")).cast("bigint").alias("qh"),
        F.sum(F.expr("x2 % 1000000000")).cast("bigint").alias("ql"),
    )
    ssw = cells.agg(
        F.sum(
            F.floor(
                F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i") + 0.5
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sb")
    )
    msw = gmo.crossJoin(F.broadcast(ssw)).select(
        (
            (
                (F.col("qh").cast("double") * 1e9 + F.col("ql"))
                - F.col("sb")
            )
            / (F.col("n") - F.col("k"))
        ).alias("msw")
    )
    a, b = cells.alias("a"), cells.alias("b")
    q = (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .crossJoin(F.broadcast(msw))
        .select(
            F.col("a.g").alias("g1"),
            F.col("b.g").alias("g2"),
            F.round(
                F.abs(
                    F.col("a.s_i").cast("double") / F.col("a.n_i")
                    - F.col("b.s_i").cast("double") / F.col("b.n_i")
                )
                / F.sqrt(
                    F.col("msw")
                    / 2
                    * (1.0 / F.col("a.n_i") + 1.0 / F.col("b.n_i"))
                ),
                9,
            ).alias("q_stat"),
        )
        .localCheckpoint()
    )
    flagged = q.agg(
        F.sum(F.when(F.col("q_stat") > 3.9, 1).otherwise(0))
        .cast("bigint")
        .alias("n_signif")
    )
    return (
        q.crossJoin(F.broadcast(flagged))
        .orderBy(F.desc("q_stat"), "g1", "g2")
        .limit(10)
    )
