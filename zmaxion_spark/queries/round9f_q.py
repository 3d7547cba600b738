"""Round-9 wave 6 — SURVEY.md §2.28 (#443–#448).

Structure and inference closure: HITS hubs/authorities (the bipartite
complement of PageRank #153 / eigencentrality #432), per-node local
clustering coefficients (the node-level refinement of #152's global
cc), Theil inequality with exact between/within decomposition (the
additive lens Gini #252 lacks), the Jarque-Bera normality gate,
Durbin-Watson residual autocorrelation for the #158 regression, and
positive-part James-Stein shrinkage of small-cell means (the
empirical-Bayes estimator behind every "smoothed group mean").

Parity disciplines reused from the repo:

- Fixed-iteration sketches (HITS) re-quantize each round through
  ROUND(12) after a sup-norm normalize and carry per-edge
  contributions through DECIMAL(38,18) sums — the #153/#432 valve.
- Moment statistics (JB, DW, JS) keep every per-row value INTEGER
  and split wide power sums into div/mod-1e9 (or 1e6²) BIGINT limbs
  so every engine-side int→double cast is of an exact BIGINT — the
  #307 integer-exact discipline; first doubles appear at the 1-row
  (or k-cell) stage from bit-identical integers.
- Small-cell ln terms (Theil) go through the shared-IEEE quantize
  FLOOR(x·1e12 + 0.5)/1e12 and DECIMAL sums for order independence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #443 hits_scores — HITS hubs/authorities on the nation trade graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 4
_HITS_DEC = "decimal(38,18)"

# Each CTE references its predecessor exactly ONCE (sup-norm via a
# window MAX, not a scalar subquery): DuckDB inlines CTEs, so a
# twice-referenced iteration CTE re-evaluates its whole history —
# exponential blowup over 8 half-steps. Single-reference chains stay
# linear.
_SQL_HITS_STEP = """
        ar{i} AS (
            SELECT e.dst,
                   CAST(SUM(CAST(h.h * e.w AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM e JOIN h{prev} h ON h.src = e.src
            GROUP BY e.dst
        ),
        a{i} AS (
            SELECT dst, ROUND(s / MAX(s) OVER (), 12) AS a
            FROM ar{i}
        ),
        hr{i} AS (
            SELECT e.src,
                   CAST(SUM(CAST(a.a * e.w AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM e JOIN a{i} a ON a.dst = e.dst
            GROUP BY e.src
        ),
        h{i} AS (
            SELECT src, ROUND(s / MAX(s) OVER (), 12) AS h
            FROM hr{i}
        )
"""


def _hits_oracle() -> str:
    steps = ",".join(
        _SQL_HITS_STEP.format(prev=i - 1, i=i)
        for i in range(1, _HITS_ITERS + 1)
    )
    return f"""
        WITH e AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ),
        h0 AS (SELECT DISTINCT src, CAST(1.0 AS DOUBLE) AS h FROM e),
        {steps}
        SELECT side, node, score FROM (
            SELECT 'hub' AS side, src AS node, h AS score FROM h{_HITS_ITERS}
            UNION ALL
            SELECT 'authority', dst, a FROM a{_HITS_ITERS}
        ) ORDER BY side, node
    """


@query(
    "q_hits_scores",
    oracle=_hits_oracle(),
    operators=(13, 23, 443),
    doc=f"HITS hubs/authorities (#443), {_HITS_ITERS} exact unrolled "
    "iterations over the customer-nation → supplier-nation trade "
    "graph. Where PageRank (#153) scores a node by incoming "
    "endorsement and eigencentrality (#432) by undirected influence, "
    "HITS separates the two BIPARTITE roles: a good hub points at "
    "good authorities and vice versa — the query/catalog duality "
    "behind co-citation analysis. Parity: per-edge contributions "
    "h·w are identical IEEE trees, per-node sums pass through "
    "DECIMAL(38,18) for order independence, each round sup-norm "
    "normalizes (max is an exact comparison, division a single IEEE "
    "op) and re-quantizes to the 1e-12 grid — bit-identical vectors "
    "after every round, the #432 valve. Scale: the 4-table star "
    "join collapses to O(nations²) edges before any iteration; each "
    "round is one join + one groupBy on that edge list.",
    bench=False,
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .localCheckpoint()
    )
    h = e.select("src").distinct().withColumn("h", F.lit(1.0).cast("double"))
    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            e.join(h, "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("h") * F.col("w")).cast(_HITS_DEC))
                .cast("double")
                .alias("s")
            )
        )
        amax = ar.agg(F.max("s").alias("m"))
        a = (
            ar.crossJoin(F.broadcast(amax))
            .select("dst", F.round(F.col("s") / F.col("m"), 12).alias("a"))
            .localCheckpoint(eager=True)
        )
        hr = (
            e.join(a, "dst")
            .groupBy("src")
            .agg(
                F.sum((F.col("a") * F.col("w")).cast(_HITS_DEC))
                .cast("double")
                .alias("s")
            )
        )
        hmax = hr.agg(F.max("s").alias("m"))
        # Eager checkpoint valve per round (the #153 discipline): the
        # max-normalize reads its input twice, so an unvalved loop
        # doubles the plan every half-step; ROUND(12) makes the result
        # checkpoint-invariant.
        h = (
            hr.crossJoin(F.broadcast(hmax))
            .select("src", F.round(F.col("s") / F.col("m"), 12).alias("h"))
            .localCheckpoint(eager=True)
        )
    hubs = h.select(
        F.lit("hub").alias("side"),
        F.col("src").alias("node"),
        F.col("h").alias("score"),
    )
    auths = a.select(
        F.lit("authority").alias("side"),
        F.col("dst").alias("node"),
        F.col("a").alias("score"),
    )
    return hubs.unionAll(auths).orderBy("side", "node")


# ---------------------------------------------------------------------------
# #444 local_clustering — per-node clustering coefficients, decile census
# ---------------------------------------------------------------------------

# items/e are MATERIALIZED: the edge CTE is referenced five times
# (deg union + three triangle aliases); DuckDB's default inlining
# re-evaluates the order-pair self-join per reference, which spilled
# ~80 GB of temp at the sf10 decade. Materialization computes it once.
_SQL_COPURCHASE_EDGES_F = """
        items AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
               FROM items a JOIN items b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2),
        e AS MATERIALIZED (SELECT u, v FROM pr WHERE c >= 2)
"""


@query(
    "q_local_clustering",
    oracle=f"""
        WITH {_SQL_COPURCHASE_EDGES_F},
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
                FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                GROUP BY node),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1
                JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        tcnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t
                 FROM (SELECT a AS node FROM tri
                       UNION ALL SELECT b FROM tri
                       UNION ALL SELECT c FROM tri)
                 GROUP BY node),
        lcc AS (SELECT d.node, d.d, COALESCE(t.t, 0) AS t,
                       CAST(2.0 * COALESCE(t.t, 0) AS DOUBLE)
                           / (d.d * (d.d - 1)) AS lcc
                FROM deg d LEFT JOIN tcnt t ON t.node = d.node
                WHERE d.d >= 2)
        SELECT LEAST(CAST(FLOOR(lcc * 10) AS BIGINT), 9) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(t) AS BIGINT) AS n_tri_incidences,
               CAST(SUM(CAST(FLOOR(lcc * 1e12 + 0.5) / 1e12
                             AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS mean_lcc
        FROM lcc GROUP BY 1 ORDER BY 1
    """,
    operators=(13, 23, 152, 444),
    doc="Local clustering coefficients (#444) on the co-purchase part "
    "graph: per node, 2·t/(d·(d−1)) — how close the node's "
    "neighborhood is to a clique — graded as a decile census (node "
    "counts, triangle incidences, decile mean). The node-level "
    "refinement of #152's single global cc: a graph can have high "
    "global cc yet a bimodal local distribution (hub-and-spoke vs "
    "clique communities), which is exactly what the decile histogram "
    "separates. Parity: t and d are exact integers (oriented wedge "
    "join, each triangle counted once per member node), lcc is one "
    "IEEE division, decile election is FLOOR on that deterministic "
    "double, and decile means pass each lcc through the shared-IEEE "
    "1e-12 quantize + DECIMAL sum. Scale: same bounded basket "
    "fan-out as #152; the triple join shuffles id triples only.",
    bench=False,
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.graph_q import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    lcc = (
        deg.join(tcnt, "node", "left")
        .withColumn("t", F.coalesce(F.col("t"), F.lit(0).cast("bigint")))
        .filter(F.col("d") >= 2)
        .withColumn(
            "lcc",
            (2.0 * F.col("t")).cast("double") / (F.col("d") * (F.col("d") - 1)),
        )
    )
    return (
        lcc.groupBy(
            F.least(F.floor(F.col("lcc") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias(
                "decile"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("t").cast("bigint").alias("n_tri_incidences"),
            (
                F.sum(
                    (F.floor(F.col("lcc") * 1e12 + 0.5) / 1e12).cast(
                        "decimal(38,12)"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_lcc"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# #445 theil_inequality — Theil T with between/within-region decomposition
# ---------------------------------------------------------------------------


@query(
    "q_theil_inequality",
    oracle="""
        WITH cells AS (
            SELECT n.n_regionkey AS r, n.n_nationkey AS g,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS x
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(x) AS BIGINT) AS xt,
                       CAST(COUNT(*) AS BIGINT) AS ng
                FROM cells),
        tterm AS (
            SELECT FLOOR((CAST(x AS DOUBLE) / xt)
                         * LN(CAST(x AS DOUBLE) / xt * ng) * 1e12 + 0.5)
                       / 1e12 AS term
            FROM cells, tot
        ),
        reg AS (SELECT r, CAST(SUM(x) AS BIGINT) AS xr,
                       CAST(COUNT(*) AS BIGINT) AS nr
                FROM cells GROUP BY r),
        bterm AS (
            SELECT FLOOR((CAST(xr AS DOUBLE) / xt)
                         * LN(CAST(xr AS DOUBLE) / xt
                              * (CAST(ng AS DOUBLE) / nr)) * 1e12 + 0.5)
                       / 1e12 AS term
            FROM reg, tot
        ),
        win AS (
            SELECT c.r,
                   CAST(SUM(CAST(FLOOR((CAST(c.x AS DOUBLE) / g.xr)
                           * LN(CAST(c.x AS DOUBLE) / g.xr * g.nr)
                           * 1e12 + 0.5) / 1e12
                           AS DECIMAL(38,12))) AS DOUBLE) AS tr,
                   CAST(MAX(g.xr) AS BIGINT) AS xr
            FROM cells c JOIN reg g ON g.r = c.r
            GROUP BY c.r
        ),
        tw AS (
            SELECT CAST(SUM(CAST(FLOOR((CAST(xr AS DOUBLE) / tot.xt) * tr
                                       * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(38,12))) AS DOUBLE) AS t_within
            FROM win, tot
        )
        SELECT tot.ng AS n_nations,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM reg) AS n_regions,
               (SELECT CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                FROM tterm) AS t_total,
               (SELECT CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                FROM bterm) AS t_between,
               tw.t_within,
               ROUND((SELECT CAST(SUM(CAST(term AS DECIMAL(38,12)))
                              AS DOUBLE) FROM tterm)
                     - (SELECT CAST(SUM(CAST(term AS DECIMAL(38,12)))
                                    AS DOUBLE) FROM bterm)
                     - tw.t_within, 9) AS additivity_gap
        FROM tot, tw
    """,
    operators=(13, 23, 43, 445),
    doc="Theil T inequality (#445) of revenue across nations, exactly "
    "decomposed into between-region + within-region components — the "
    "additive property that makes Theil the inequality lens for "
    "mix-vs-dispersion questions Gini/HHI (#252) cannot answer "
    "(is revenue inequality driven by regions differing, or by "
    "nations within a region?). Parity: all 25 nation cells are "
    "exact integer cent sums; shares are single IEEE divisions of "
    "exact BIGINTs; each of the ≤25 ln terms passes the shared-IEEE "
    "FLOOR(x·1e12+0.5)/1e12 quantize and sums through "
    "DECIMAL(38,12) for order independence; the additivity gap "
    "(quantization residual, ~1e-12) is itself graded. Scale: one "
    "star-join rollup to 25 cells; everything after is cell algebra.",
    bench=False,
)
def q_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("r"), F.col("n_nationkey").alias("g"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("x")
        )
        .localCheckpoint()
    )
    tot = cells.agg(
        F.sum("x").cast("bigint").alias("xt"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    def _q12(col):
        return F.floor(col * 1e12 + 0.5) / 1e12

    t_total = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            _q12(
                (F.col("x").cast("double") / F.col("xt"))
                * F.log(F.col("x").cast("double") / F.col("xt") * F.col("ng"))
            ).alias("term")
        )
        .agg(
            F.sum(F.col("term").cast("decimal(38,12)"))
            .cast("double")
            .alias("t_total")
        )
    )
    reg = cells.groupBy("r").agg(
        F.sum("x").cast("bigint").alias("xr"),
        F.count(F.lit(1)).cast("bigint").alias("nr"),
    )
    t_between = (
        reg.crossJoin(F.broadcast(tot))
        .select(
            _q12(
                (F.col("xr").cast("double") / F.col("xt"))
                * F.log(
                    F.col("xr").cast("double")
                    / F.col("xt")
                    * (F.col("ng").cast("double") / F.col("nr"))
                )
            ).alias("term")
        )
        .agg(
            F.sum(F.col("term").cast("decimal(38,12)"))
            .cast("double")
            .alias("t_between")
        )
    )
    win = (
        cells.join(F.broadcast(reg), "r")
        .groupBy("r")
        .agg(
            F.sum(
                _q12(
                    (F.col("x").cast("double") / F.col("xr"))
                    * F.log(
                        F.col("x").cast("double") / F.col("xr") * F.col("nr")
                    )
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("tr"),
            F.max("xr").cast("bigint").alias("xr"),
        )
    )
    t_within = (
        win.crossJoin(F.broadcast(tot))
        .select(
            _q12((F.col("xr").cast("double") / F.col("xt")) * F.col("tr")).alias(
                "term"
            )
        )
        .agg(
            F.sum(F.col("term").cast("decimal(38,12)"))
            .cast("double")
            .alias("t_within")
        )
    )
    n_regions = reg.agg(F.count(F.lit(1)).cast("bigint").alias("n_regions"))
    return (
        tot.select(F.col("ng").alias("n_nations"))
        .crossJoin(F.broadcast(n_regions))
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(t_between))
        .crossJoin(F.broadcast(t_within))
        .select(
            "n_nations",
            "n_regions",
            "t_total",
            "t_between",
            "t_within",
            F.round(
                F.col("t_total") - F.col("t_between") - F.col("t_within"), 9
            ).alias("additivity_gap"),
        )
    )


# ---------------------------------------------------------------------------
# #446 jarque_bera — normality gate from integer-limb power sums
# ---------------------------------------------------------------------------


@query(
    "q_jarque_bera",
    oracle="""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS x
            FROM orders
        ),
        lims AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s1,
                   CAST(SUM((x * x) // 1000000000) AS BIGINT) AS s2h,
                   CAST(SUM((x * x) % 1000000000) AS BIGINT) AS s2l,
                   CAST(SUM((x * x * x) // 1000000000) AS BIGINT) AS s3h,
                   CAST(SUM((x * x * x) % 1000000000) AS BIGINT) AS s3l,
                   CAST(SUM(((x * x) // 1000000) * ((x * x) // 1000000))
                        AS BIGINT) AS s4a,
                   CAST(SUM(2 * ((x * x) // 1000000) * ((x * x) % 1000000))
                        AS BIGINT) AS s4b,
                   CAST(SUM(((x * x) % 1000000) * ((x * x) % 1000000))
                        AS BIGINT) AS s4c
            FROM v
        ),
        mom AS (
            SELECT n,
                   CAST(s1 AS DOUBLE) / n AS m1,
                   (CAST(s2h AS DOUBLE) * 1e9 + CAST(s2l AS DOUBLE)) / n AS r2,
                   (CAST(s3h AS DOUBLE) * 1e9 + CAST(s3l AS DOUBLE)) / n AS r3,
                   (CAST(s4a AS DOUBLE) * 1e12 + CAST(s4b AS DOUBLE) * 1e6
                    + CAST(s4c AS DOUBLE)) / n AS r4
            FROM lims
        ),
        cm AS (
            SELECT n, m1,
                   r2 - m1 * m1 AS m2,
                   r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
                   r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
                      - 3 * m1 * m1 * m1 * m1 AS m4
            FROM mom
        )
        SELECT n,
               ROUND(m1, 9) AS mean_x,
               ROUND(m3 / (m2 * SQRT(m2)), 9) AS skewness,
               ROUND(m4 / (m2 * m2) - 3, 9) AS excess_kurtosis,
               ROUND(CAST(n AS DOUBLE) / 6
                     * ((m3 / (m2 * SQRT(m2))) * (m3 / (m2 * SQRT(m2)))
                        + ((m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3)) / 4),
                     9) AS jb_stat,
               CAST(CAST(n AS DOUBLE) / 6
                    * ((m3 / (m2 * SQRT(m2))) * (m3 / (m2 * SQRT(m2)))
                       + ((m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3)) / 4)
                    > 5.991 AS BOOLEAN) AS reject_normal_5pct
        FROM cm
    """,
    operators=(24, 43, 446),
    doc="Jarque-Bera normality test (#446) on order totals: skewness, "
    "excess kurtosis, and JB = n/6·(S² + K²/4) against the chi²(2) "
    "5% critical value 5.991 — the moment-based normality gate that "
    "justifies (or vetoes) every z-interval downstream (#147/#422). "
    "Parity: x is integer dollars via the shared-IEEE FLOOR "
    "quantize; Σx² and Σx³ are carried as div/mod-1e9 BIGINT limb "
    "pairs and Σx⁴ as three limbs of (x² div 1e6, x² mod 1e6) "
    "squares — every limb an exact BIGINT whose int64→double cast "
    "is correctly rounded on both engines (the #307 discipline; "
    "limbs stay under 2^63 through ~sf10) — so the raw moments are "
    "bit-identical doubles and the JB value is one shared IEEE "
    "tree with SQRT (correctly rounded by IEEE) as the only "
    "non-arithmetic op. Scale: one map-side-combined aggregate.",
    bench=False,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = F.floor(F.col("o_totalprice") + 0.5).cast("bigint")
    lims = (
        load_table(spark, sf_dir, "orders")
        .select(x.alias("x"))
        .select(
            "x",
            (F.col("x") * F.col("x")).alias("x2"),
            (F.col("x") * F.col("x") * F.col("x")).alias("x3"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(F.expr("x2 div 1000000000")).cast("bigint").alias("s2h"),
            F.sum(F.expr("x2 % 1000000000")).cast("bigint").alias("s2l"),
            F.sum(F.expr("x3 div 1000000000")).cast("bigint").alias("s3h"),
            F.sum(F.expr("x3 % 1000000000")).cast("bigint").alias("s3l"),
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
    )
    mom = lims.select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("m1"),
        (
            (F.col("s2h").cast("double") * 1e9 + F.col("s2l").cast("double"))
            / F.col("n")
        ).alias("r2"),
        (
            (F.col("s3h").cast("double") * 1e9 + F.col("s3l").cast("double"))
            / F.col("n")
        ).alias("r3"),
        (
            (
                F.col("s4a").cast("double") * 1e12
                + F.col("s4b").cast("double") * 1e6
                + F.col("s4c").cast("double")
            )
            / F.col("n")
        ).alias("r4"),
    )
    cm = mom.select(
        "n",
        "m1",
        (F.col("r2") - F.col("m1") * F.col("m1")).alias("m2"),
        (
            F.col("r3")
            - 3 * F.col("m1") * F.col("r2")
            + 2 * F.col("m1") * F.col("m1") * F.col("m1")
        ).alias("m3"),
        (
            F.col("r4")
            - 4 * F.col("m1") * F.col("r3")
            + 6 * F.col("m1") * F.col("m1") * F.col("r2")
            - 3 * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
        ).alias("m4"),
    )
    skew = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    jb = F.col("n").cast("double") / 6 * (skew * skew + (exk * exk) / 4)
    return cm.select(
        "n",
        F.round(F.col("m1"), 9).alias("mean_x"),
        F.round(skew, 9).alias("skewness"),
        F.round(exk, 9).alias("excess_kurtosis"),
        F.round(jb, 9).alias("jb_stat"),
        (jb > 5.991).alias("reject_normal_5pct"),
    )


# ---------------------------------------------------------------------------
# #447 durbin_watson — residual autocorrelation of the daily-revenue OLS
# ---------------------------------------------------------------------------


@query(
    "q_durbin_watson",
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
        fit AS (
            SELECT n,
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
            SELECT t,
                   CAST(FLOOR(CAST(y AS DOUBLE) - (f.a + f.b * t) + 0.5)
                        AS BIGINT) AS eq
            FROM idx, fit f
        ),
        res2 AS (
            SELECT t, eq, eq - LAG(eq) OVER (ORDER BY t) AS deq FROM res
        ),
        dw AS (
            SELECT
                CAST(SUM((eq * eq) // 1000000000) AS BIGINT) AS sseh,
                CAST(SUM((eq * eq) % 1000000000) AS BIGINT) AS ssel,
                CAST(SUM((deq * deq) // 1000000000) AS BIGINT) AS sddh,
                CAST(SUM((deq * deq) % 1000000000) AS BIGINT) AS sddl
            FROM res2
        )
        SELECT f.n AS n_days,
               ROUND(f.a, 6) AS intercept,
               ROUND(f.b, 6) AS slope,
               ROUND((CAST(dw.sddh AS DOUBLE) * 1e9 + CAST(dw.sddl AS DOUBLE))
                     / (CAST(dw.sseh AS DOUBLE) * 1e9 + CAST(dw.ssel AS DOUBLE)),
                     9) AS dw_stat,
               CAST((CAST(dw.sddh AS DOUBLE) * 1e9 + CAST(dw.sddl AS DOUBLE))
                    / (CAST(dw.sseh AS DOUBLE) * 1e9 + CAST(dw.ssel AS DOUBLE))
                    < 1.5 AS BOOLEAN) AS positive_autocorr
        FROM fit f, dw
    """,
    operators=(24, 31, 158, 447),
    doc="Durbin-Watson test (#447) on the residuals of the daily-"
    "revenue-on-time OLS: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² ∈ [0,4], ≈2 under "
    "no autocorrelation — the residual-independence gate the #158 "
    "regression's standard errors silently assume (positively "
    "autocorrelated residuals make OLS CIs lie). Parity: the day "
    "grid is a bounded census (~2.4k rows), OLS moments are exact "
    "BIGINTs (dollars via shared-IEEE FLOOR; t·y < 2^63 through "
    "sf10), slope/intercept one IEEE tree, and residuals quantize "
    "to whole dollars (shared-IEEE FLOOR of identical doubles) so "
    "both quadratic forms are sums of exact INTEGER squares carried "
    "as div/mod-1e9 BIGINT limbs — no floating sum anywhere (a "
    "1e-6 float grid was the first draft; its FLOOR argument "
    "e²·1e6 ≈ 1e20 overflows Spark's long-typed floor while "
    "DuckDB's stays double — caught by the strict gate at sf0.01). "
    "The lag runs on the bounded day census — the "
    "documented acceptable single-partition window shape. Scale: "
    "one rollup to days, then cell algebra.",
    bench=False,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

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
    b = (
        F.col("n").cast("double") * F.col("sty")
        - F.col("st").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("stt")
        - F.col("st").cast("double") * F.col("st")
    )
    fit = mo.select(
        "n",
        b.alias("b"),
        ((F.col("sy").cast("double") - b * F.col("st")) / F.col("n")).alias("a"),
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        F.floor(
            F.col("y").cast("double")
            - (F.col("a") + F.col("b") * F.col("t"))
            + 0.5
        )
        .cast("bigint")
        .alias("eq"),
    )
    w = Window.orderBy("t")
    res2 = res.select(
        "t",
        "eq",
        (F.col("eq") - F.lag("eq").over(w)).alias("deq"),
    ).select(
        (F.col("eq") * F.col("eq")).alias("e2"),
        (F.col("deq") * F.col("deq")).alias("d2"),
    )
    dw = res2.agg(
        F.sum(F.expr("e2 div 1000000000")).cast("bigint").alias("sseh"),
        F.sum(F.expr("e2 % 1000000000")).cast("bigint").alias("ssel"),
        F.sum(F.expr("d2 div 1000000000")).cast("bigint").alias("sddh"),
        F.sum(F.expr("d2 % 1000000000")).cast("bigint").alias("sddl"),
    )
    ratio = (
        F.col("sddh").cast("double") * 1e9 + F.col("sddl").cast("double")
    ) / (F.col("sseh").cast("double") * 1e9 + F.col("ssel").cast("double"))
    return fit.crossJoin(F.broadcast(dw)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("a"), 6).alias("intercept"),
        F.round(F.col("b"), 6).alias("slope"),
        F.round(ratio, 9).alias("dw_stat"),
        (ratio < 1.5).alias("positive_autocorr"),
    )


# ---------------------------------------------------------------------------
# #448 james_stein — positive-part EB shrinkage of nation mean balances
# ---------------------------------------------------------------------------


@query(
    "q_james_stein",
    oracle="""
        WITH cells AS (
            SELECT c_nationkey AS g,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS s_i,
                   CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                            * CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS q_i
            FROM customer GROUP BY 1
        ),
        gl AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(SUM(s_i) AS BIGINT) AS s
            FROM cells
        ),
        sig AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       CAST(q_i AS DOUBLE)
                       - CAST(s_i AS DOUBLE) * s_i / n_i + 0.5)
                       AS DECIMAL(38,0))) AS DOUBLE)
                   / (MAX(gl.n) - MAX(gl.k)) AS s2
            FROM cells, gl
        ),
        dev AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       (CAST(c.s_i AS DOUBLE) / c.n_i
                        - CAST(g.s AS DOUBLE) / g.n)
                       * (CAST(c.s_i AS DOUBLE) / c.n_i
                          - CAST(g.s AS DOUBLE) / g.n) * 1e6 + 0.5) / 1e6
                       AS DECIMAL(38,6))) AS DOUBLE) AS ssd
            FROM cells c, gl g
        )
        SELECT c.g AS nationkey,
               c.n_i,
               ROUND(CAST(c.s_i AS DOUBLE) / c.n_i / 100, 9) AS raw_mean,
               ROUND(GREATEST(CAST(0 AS DOUBLE),
                     1 - (g.k - 3) * (sig.s2 / c.n_i) / dev.ssd), 9)
                   AS shrink_weight,
               ROUND((CAST(g.s AS DOUBLE) / g.n
                      + GREATEST(CAST(0 AS DOUBLE),
                            1 - (g.k - 3) * (sig.s2 / c.n_i) / dev.ssd)
                        * (CAST(c.s_i AS DOUBLE) / c.n_i
                           - CAST(g.s AS DOUBLE) / g.n)) / 100, 9)
                   AS js_mean
        FROM cells c, gl g, sig, dev
        ORDER BY nationkey
    """,
    operators=(23, 24, 448),
    doc="Positive-part James-Stein shrinkage (#448) of per-nation mean "
    "account balances toward the grand mean: weight_i = max(0, 1 − "
    "(k−3)·(σ̂²/n_i)/Σ(x̄_j−x̄)²) — the empirical-Bayes estimator "
    "that dominates raw cell means for k ≥ 4 (Stein's paradox), and "
    "the principled version of every ad-hoc 'smoothed group mean' "
    "(#213's target encoding is its regularized cousin). Small cells "
    "shrink hard, big cells barely move — exactly the borrowing-"
    "strength behavior sparse-cell reporting needs. Parity: cell "
    "sums and squares are exact integer cents (c² < 2^63 through "
    "sf10); the pooled-SSE terms quantize to whole cents² (their "
    "magnitude outgrows a finer grid's long-typed floor by sf0.1) "
    "and the deviation terms to the 1e-6 grid, both summed through "
    "DECIMAL; "
    "each output row is one IEEE tree over those shared doubles. "
    "Scale: one rollup to 25 cells + broadcast cell algebra.",
    bench=False,
)
def q_james_stein(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    cells = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("g"), cents.alias("v"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum("v").cast("bigint").alias("s_i"),
            F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q_i"),
        )
        .localCheckpoint()
    )
    gl = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
    )
    def _q6(col):
        return (F.floor(col * 1e6 + 0.5) / 1e6).cast("decimal(38,6)")

    sig = (
        cells.crossJoin(F.broadcast(gl))
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("q_i").cast("double")
                        - F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i")
                        + 0.5
                    ).cast("decimal(38,0)")
                ).cast("double")
                / (F.max("n") - F.max("k"))
            ).alias("s2")
        )
    )
    dev = (
        cells.crossJoin(F.broadcast(gl))
        .agg(
            F.sum(
                _q6(
                    (
                        F.col("s_i").cast("double") / F.col("n_i")
                        - F.col("s").cast("double") / F.col("n")
                    )
                    * (
                        F.col("s_i").cast("double") / F.col("n_i")
                        - F.col("s").cast("double") / F.col("n")
                    )
                )
            )
            .cast("double")
            .alias("ssd")
        )
    )
    w = F.greatest(
        F.lit(0.0).cast("double"),
        1
        - (F.col("k") - 3)
        * (F.col("s2") / F.col("n_i"))
        / F.col("ssd"),
    )
    return (
        cells.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(sig))
        .crossJoin(F.broadcast(dev))
        .select(
            F.col("g").alias("nationkey"),
            "n_i",
            F.round(F.col("s_i").cast("double") / F.col("n_i") / 100, 9).alias(
                "raw_mean"
            ),
            F.round(w, 9).alias("shrink_weight"),
            F.round(
                (
                    F.col("s").cast("double") / F.col("n")
                    + w
                    * (
                        F.col("s_i").cast("double") / F.col("n_i")
                        - F.col("s").cast("double") / F.col("n")
                    )
                )
                / 100,
                9,
            ).alias("js_mean"),
        )
        .orderBy("nationkey")
    )
