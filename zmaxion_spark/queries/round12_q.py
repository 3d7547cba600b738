"""Round-12 wave: canonical-suite closure (#490–#499).

The round-10 verdict declared the inventory saturated and round 11
cleared the evidence backlog; this wave closes the SUITE-level gaps a
reference user would notice — every entry is the missing half of a
canonical pair the registry already grades one side of:

- #490/#491: TPC-H Q2 + Q11, the only two of the 22 public TPC-H
  shapes absent from the registry (both are partsupp-centric and the
  fixture has no partsupp table — here partsupp is DERIVED from
  lineitem's (l_partkey, l_suppkey) pairs, documented per query).
- #492 KPSS — the stationarity NULL test pairing q_adf_test (ADF's
  null is a unit root; KPSS's null is stationarity; the standard
  practice is to run both and read the 2×2).
- #493 PACF — the partial autocorrelation completing q_acf_ljung_box
  (ACF says "correlated at lag k"; PACF says "directly, netting out
  shorter lags" — the AR-order-selection tool).
- #494 Lo–MacKinlay variance ratio — the random-walk test beside
  q_hurst_exponent (Hurst estimates the memory exponent; VR tests it).
- #495 Breusch–Pagan — heteroscedasticity on the SAME daily-revenue
  OLS whose residual autocorrelation q_durbin_watson grades.
- #496 Pettitt — the rank-based single-changepoint TEST beside the
  binseg/CUSUM/Page-Hinkley DETECTORS (nonparametric, gives a p-value).
- #497 Bartlett — the parametric variance-homogeneity twin of
  q_levene_test (Levene is robust; Bartlett is the chi-square form).
- #498 Atkinson — the welfare-based member of the inequality family
  (Gini #252, Theil #445, Hoover/Palma #471, Lorenz #470, GMD #484).
- #499 price elasticity — binned log-log demand regression, the
  econometric reading of the (price, quantity) surface q_price_index
  summarizes as index numbers.

Float discipline (SURVEY §5 rule 1) as in rounds 9–11: bounded
censuses, exact BIGINT/DECIMAL moments (products through
DECIMAL(19,0)×DECIMAL(19,0) where a BIGINT square would overflow by
sf10), single shared-IEEE closed forms, ln/exp only on k-cell grids
with FLOOR(x·1e12+0.5)/1e12 quantization + DECIMAL(38,12) sums.
Windows run on the bounded day census only (the documented acceptable
single-partition shape). Reference parity: the reference snapshot
ships no source (SURVEY §0); shapes follow the public TPC-H spec and
the published statistics [PUB].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


def _q12(col):
    """Shared-IEEE 1e-12 quantization grid for libm terms."""
    return F.floor(col * 1e12 + 0.5) / 1e12


# ---------------------------------------------------------------------------
# Shared daily-revenue census (t, y) — the base series for #492/#494/#495.
# Same construction as q_durbin_watson (round9f_q.py): whole-dollar day
# sums are exact BIGINTs via shared-IEEE FLOOR.
# ---------------------------------------------------------------------------

_DAILY_SQL = """
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
# #490 TPC-H Q2 — minimum-cost supplier (adapted: derived partsupp)
# ---------------------------------------------------------------------------


@query(
    "q02_min_cost_supplier",
    oracle="""
        WITH ps AS (
            SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                   MIN(l_extendedprice / l_quantity) AS cost
            FROM lineitem GROUP BY 1, 2
        ),
        eur AS (
            SELECT p.p_partkey, p.p_brand, ps.cost,
                   s.s_acctbal, s.s_name, n.n_name
            FROM ps
            JOIN part p ON p.p_partkey = ps.partkey
            JOIN supplier s ON s.s_suppkey = ps.suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE p.p_size <= 15 AND p.p_type = 'STANDARD'
              AND r.r_name = 'EUROPE'
        ),
        mn AS (
            SELECT p_partkey, MIN(cost) AS min_cost FROM eur GROUP BY 1
        )
        SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_brand,
               ROUND(e.cost, 9) AS supply_cost
        FROM eur e
        JOIN mn ON mn.p_partkey = e.p_partkey AND e.cost = mn.min_cost
        ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey
        LIMIT 100
    """,
    operators=(13, 16, 23, 36, 95, 490),
    doc="TPC-H Q2 (#490), the minimum-cost-supplier correlated-min "
    "subquery — one of the two public TPC-H shapes the registry "
    "lacked. ADAPTED to the fixture (TESTDATA.md has no partsupp): "
    "partsupp is DERIVED as the distinct (l_partkey, l_suppkey) "
    "pairs of lineitem with supply cost = MIN unit price "
    "(l_extendedprice/l_quantity — one IEEE division per row, "
    "identical in both engines; MIN is order-independent). The spec's "
    "correlated 'cost = (SELECT MIN ...)' is the min-join-back, "
    "scoped to EUROPE suppliers and p_size<=15/STANDARD parts as the "
    "spec scopes to a size/type/region triple. Total order "
    "(s_acctbal DESC, n_name, s_name, p_partkey) makes LIMIT 100 "
    "deterministic. Scale: the ps rollup is the only fact-sized "
    "shuffle (co-partitioned on (part,supp) — bucketable); part/"
    "supplier/nation/region are broadcast dims; the min-join-back "
    "runs on the already-filtered EUROPE slice.",
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    eur = (
        ps.join(
            F.broadcast(
                part.filter(
                    (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
                )
            ),
            ps.partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("p_partkey", "p_brand", "cost", "s_acctbal", "s_name", "n_name")
    )
    # Round 12 (guide §2.4): the min-join-back evaluated the whole eur
    # subtree TWICE — the lineitem-sized ps rollup plus four broadcast
    # joins re-ran under the mn aggregate. A window MIN partitioned by
    # p_partkey computes the same correlated minimum in the single eur
    # pass (identical row set: every row with cost equal to its part's
    # minimum survives, ties included, exactly like the join-back).
    # A/B ×4 min 2.35 → 1.94 s, new < old in 3/4 cycles; oracle exact.
    flt = (
        eur.withColumn(
            "min_cost", F.min("cost").over(Window.partitionBy("p_partkey"))
        )
        .filter(F.col("cost") == F.col("min_cost"))
    )
    return (
        flt
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round(F.col("cost"), 9).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# #491 TPC-H Q11 — important stock (adapted: derived partsupp, EUROPE)
# ---------------------------------------------------------------------------


@query(
    "q11_important_stock",
    oracle="""
        WITH ps AS (
            SELECT l.l_partkey AS partkey,
                   CAST(SUM(CAST(FLOOR(l.l_extendedprice
                                       * (1 - l.l_discount) * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS val_cents
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'EUROPE'
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(val_cents) AS BIGINT) AS t,
                       CAST(COUNT(*) AS BIGINT) AS c FROM ps)
        SELECT partkey,
               CAST(val_cents AS DOUBLE) / 100 AS stock_value
        FROM ps, tot
        WHERE val_cents * c > t
        ORDER BY stock_value DESC, partkey
        LIMIT 100
    """,
    operators=(13, 16, 23, 97, 491),
    doc="TPC-H Q11 (#491), the important-stock global-scalar-gate "
    "HAVING — the second missing public TPC-H shape. ADAPTED: with "
    "no partsupp table, per-part 'stock value' is the discounted "
    "revenue cents of lineitems supplied by EUROPE-region suppliers "
    "(the spec's single-nation GERMANY scope widened to the region so "
    "the slice is non-empty at sf0.001), and the spec's SF-scaled "
    "0.0001/SF fraction is fixed at 0.001. The gate "
    "value > 0.001 * total compares EXACT integers "
    "(val_cents*1000 > t — no float threshold), the q15/#97 global-"
    "scalar-subquery shape. Scale: one fact rollup on partkey after a "
    "broadcast dim filter; the global total is a 1-row broadcast.",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    eur_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    ps = (
        li.join(F.broadcast(eur_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + 0.5
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("val_cents")
        )
    )
    # Round 12 (guide §2.4): the global-total scalar re-ran the whole
    # fact rollup as a second subtree. The rollup output is one row
    # per partkey — materialize it once; tot and the gate both read
    # the in-memory rows. A/B ×4 min 1.35 → 1.17 s, new < old in 3/4
    # cycles; oracle exact.
    ps = ps.localCheckpoint(eager=True)
    tot = ps.agg(
        F.sum("val_cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    return (
        ps.crossJoin(F.broadcast(tot))
        .filter(F.col("val_cents") * F.col("c") > F.col("t"))
        .select(
            "partkey",
            (F.col("val_cents").cast("double") / 100).alias("stock_value"),
        )
        .orderBy(F.col("stock_value").desc(), "partkey")
        .limit(100)
    )

# ---------------------------------------------------------------------------
# #492 kpss_test — KPSS level-stationarity test (null: stationary)
# ---------------------------------------------------------------------------


@query(
    "q_kpss_test",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + """,
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy
            FROM idx
        ),
        e AS (
            SELECT t,
                   CAST(FLOOR(CAST(y AS DOUBLE)
                              - CAST(sy AS DOUBLE) / n + 0.5) AS BIGINT) AS e
            FROM idx, mo
        ),
        s AS (
            SELECT t, e,
                   CAST(SUM(e) OVER (ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
            FROM e
        ),
        lagged AS (
            SELECT t, e, s,
                   LAG(e, 1) OVER (ORDER BY t) AS e1,
                   LAG(e, 2) OVER (ORDER BY t) AS e2,
                   LAG(e, 3) OVER (ORDER BY t) AS e3,
                   LAG(e, 4) OVER (ORDER BY t) AS e4
            FROM s
        ),
        sums AS (
            SELECT
                CAST(SUM(CAST(s AS DECIMAL(19,0))
                         * CAST(s AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ss2,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g0,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g1,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g2,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e3 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g3,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e4 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g4
            FROM lagged
        )
        SELECT mo.n AS n_days,
               ROUND(CAST(sums.ss2 AS DOUBLE)
                     / (CAST(mo.n AS DOUBLE)
                        * (CAST(sums.g0 AS DOUBLE)
                           + 2 * (0.8 * CAST(sums.g1 AS DOUBLE)
                                  + 0.6 * CAST(sums.g2 AS DOUBLE)
                                  + 0.4 * CAST(sums.g3 AS DOUBLE)
                                  + 0.2 * CAST(sums.g4 AS DOUBLE)))),
                     9) AS kpss_eta,
               CAST(CAST(sums.ss2 AS DOUBLE)
                    / (CAST(mo.n AS DOUBLE)
                       * (CAST(sums.g0 AS DOUBLE)
                          + 2 * (0.8 * CAST(sums.g1 AS DOUBLE)
                                 + 0.6 * CAST(sums.g2 AS DOUBLE)
                                 + 0.4 * CAST(sums.g3 AS DOUBLE)
                                 + 0.2 * CAST(sums.g4 AS DOUBLE))))
                    > 0.463 AS BOOLEAN) AS reject_stationary_5pct
        FROM mo, sums
    """,
    operators=(24, 31, 32, 492),
    doc="KPSS level-stationarity test (#492) on daily revenue — the "
    "NULL-reversed partner of q_adf_test (ADF null: unit root; KPSS "
    "null: stationary; running both reads the 2x2). eta = "
    "n^-2 Sum S_t^2 / s^2(l) with S_t the partial sums of the "
    "demeaned series and s^2(4) the Bartlett long-run variance "
    "(weights 1-j/5). Parity: day census exact BIGINT dollars, "
    "demeaned e_t re-quantized to whole dollars via shared-IEEE "
    "FLOOR, partial sums exact BIGINTs; S_t^2 and the five "
    "autocovariance sums ride DECIMAL(19,0)xDECIMAL(19,0) products "
    "(a BIGINT square of S_t~2e10 overflows at sf0.1) summed in "
    "DECIMAL(38,0) — no floating sum; the final eta is one shared "
    "IEEE tree with exact-literal Bartlett weights. Windows run on "
    "the bounded day census (documented single-partition shape). "
    "Scale: one rollup to ~2.4k days, then cell algebra.",
    bench=False,
)
def q_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    mo = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    e = idx.crossJoin(F.broadcast(mo)).select(
        "t",
        "n",
        F.floor(
            F.col("y").cast("double") - F.col("sy").cast("double") / F.col("n") + 0.5
        )
        .cast("bigint")
        .alias("e"),
    )
    w = Window.orderBy("t")
    lagged = e.select(
        "t",
        "e",
        F.sum("e").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("s"),
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
        F.lag("e", 3).over(w).alias("e3"),
        F.lag("e", 4).over(w).alias("e4"),
    )

    def _dprod(a: str, b: str, alias: str):
        return (
            F.sum(F.col(a).cast("decimal(19,0)") * F.col(b).cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias(alias)
        )

    sums = lagged.agg(
        _dprod("s", "s", "ss2"),
        _dprod("e", "e", "g0"),
        _dprod("e", "e1", "g1"),
        _dprod("e", "e2", "g2"),
        _dprod("e", "e3", "g3"),
        _dprod("e", "e4", "g4"),
    )
    eta = F.col("ss2").cast("double") / (
        F.col("n").cast("double")
        * (
            F.col("g0").cast("double")
            + 2
            * (
                0.8 * F.col("g1").cast("double")
                + 0.6 * F.col("g2").cast("double")
                + 0.4 * F.col("g3").cast("double")
                + 0.2 * F.col("g4").cast("double")
            )
        )
    )
    return mo.crossJoin(F.broadcast(sums)).select(
        F.col("n").alias("n_days"),
        F.round(eta, 9).alias("kpss_eta"),
        (eta > 0.463).alias("reject_stationary_5pct"),
    )


# ---------------------------------------------------------------------------
# #493 pacf — partial autocorrelation to lag 3 via Durbin–Levinson
# ---------------------------------------------------------------------------


@query(
    "q_pacf",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + """,
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy
            FROM idx
        ),
        e AS (
            SELECT t,
                   CAST(FLOOR(CAST(y AS DOUBLE)
                              - CAST(sy AS DOUBLE) / n + 0.5) AS BIGINT) AS e
            FROM idx, mo
        ),
        lagged AS (
            SELECT t, e,
                   LAG(e, 1) OVER (ORDER BY t) AS e1,
                   LAG(e, 2) OVER (ORDER BY t) AS e2,
                   LAG(e, 3) OVER (ORDER BY t) AS e3
            FROM e
        ),
        sums AS (
            SELECT
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g0,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g1,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g2,
                CAST(SUM(CAST(e AS DECIMAL(19,0))
                         * CAST(e3 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS g3
            FROM lagged
        ),
        rho AS (
            SELECT CAST(g1 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r1,
                   CAST(g2 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r2,
                   CAST(g3 AS DOUBLE) / CAST(g0 AS DOUBLE) AS r3
            FROM sums
        ),
        dl AS (
            SELECT r1, r2, r3,
                   r1 AS phi11,
                   (r2 - r1 * r1) / (1 - r1 * r1) AS phi22
            FROM rho
        ),
        dl2 AS (
            SELECT r1, r2, r3, phi11, phi22,
                   r1 - phi22 * r1 AS phi21
            FROM dl
        )
        SELECT lag, ROUND(rho_k, 9) AS rho, ROUND(pacf, 9) AS pacf
        FROM (
            SELECT 1 AS lag, r1 AS rho_k, phi11 AS pacf FROM dl2
            UNION ALL
            SELECT 2, r2, phi22 FROM dl2
            UNION ALL
            SELECT 3, r3,
                   (r3 - phi21 * r2 - phi22 * r1)
                       / (1 - phi21 * r1 - phi22 * r2)
            FROM dl2
        )
        ORDER BY lag
    """,
    operators=(24, 31, 32, 493),
    doc="Partial autocorrelation (#493) of daily revenue at lags 1-3 "
    "via the Durbin-Levinson recursion, unrolled exactly — the "
    "AR-order-selection companion of q_acf_ljung_box (ACF says "
    "'correlated at lag k'; PACF nets out the shorter lags). "
    "Parity: same demeaned whole-dollar day census as #492; "
    "autocovariances ride DECIMAL(19,0) products / DECIMAL(38,0) "
    "sums; rho_k and the unrolled phi_kk recursion are one shared "
    "IEEE tree per lag (identical parenthesization both engines); "
    "3-row output built by identical UNION/explode of the same "
    "1-row frame. Scale: one rollup to days, then k-cell algebra.",
    bench=False,
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    mo = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    e = idx.crossJoin(F.broadcast(mo)).select(
        "t",
        F.floor(
            F.col("y").cast("double") - F.col("sy").cast("double") / F.col("n") + 0.5
        )
        .cast("bigint")
        .alias("e"),
    )
    w = Window.orderBy("t")
    lagged = e.select(
        "e",
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
        F.lag("e", 3).over(w).alias("e3"),
    )

    def _dprod(a: str, b: str, alias: str):
        return (
            F.sum(F.col(a).cast("decimal(19,0)") * F.col(b).cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias(alias)
        )

    sums = lagged.agg(
        _dprod("e", "e", "g0"),
        _dprod("e", "e1", "g1"),
        _dprod("e", "e2", "g2"),
        _dprod("e", "e3", "g3"),
    )
    rho = sums.select(
        (F.col("g1").cast("double") / F.col("g0").cast("double")).alias("r1"),
        (F.col("g2").cast("double") / F.col("g0").cast("double")).alias("r2"),
        (F.col("g3").cast("double") / F.col("g0").cast("double")).alias("r3"),
    )
    dl2 = rho.select(
        "r1",
        "r2",
        "r3",
        F.col("r1").alias("phi11"),
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1"))
        ).alias("phi22"),
    ).select(
        "*",
        (F.col("r1") - F.col("phi22") * F.col("r1")).alias("phi21"),
    )
    phi33 = (
        F.col("r3") - F.col("phi21") * F.col("r2") - F.col("phi22") * F.col("r1")
    ) / (1 - F.col("phi21") * F.col("r1") - F.col("phi22") * F.col("r2"))
    rows = dl2.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("lag"),
                    F.col("r1").alias("rho_k"),
                    F.col("phi11").alias("pacf_k"),
                ),
                F.struct(
                    F.lit(2).alias("lag"),
                    F.col("r2").alias("rho_k"),
                    F.col("phi22").alias("pacf_k"),
                ),
                F.struct(
                    F.lit(3).alias("lag"),
                    F.col("r3").alias("rho_k"),
                    phi33.alias("pacf_k"),
                ),
            )
        ).alias("x")
    )
    return rows.select(
        F.col("x.lag").alias("lag"),
        F.round(F.col("x.rho_k"), 9).alias("rho"),
        F.round(F.col("x.pacf_k"), 9).alias("pacf"),
    ).orderBy("lag")

# ---------------------------------------------------------------------------
# #494 variance_ratio — Lo–MacKinlay random-walk test (q = 5)
# ---------------------------------------------------------------------------


@query(
    "q_variance_ratio",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + """,
        diffs AS (
            SELECT t,
                   y - LAG(y, 1) OVER (ORDER BY t) AS x,
                   y - LAG(y, 5) OVER (ORDER BY t) AS z
            FROM idx
        ),
        s1 AS (
            SELECT CAST(COUNT(x) AS BIGINT) AS m,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(x AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS sxx
            FROM diffs
        ),
        sq AS (
            SELECT CAST(COUNT(z) AS BIGINT) AS mq,
                   CAST(SUM(z) AS BIGINT) AS sz,
                   CAST(SUM(CAST(z AS DECIMAL(19,0))
                            * CAST(z AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS szz
            FROM diffs
        ),
        fit AS (
            SELECT m, mq,
                   CAST(sx AS DOUBLE) / m AS mu,
                   (CAST(sxx AS DOUBLE)
                    - 2 * (CAST(sx AS DOUBLE) / m) * CAST(sx AS DOUBLE)
                    + m * (CAST(sx AS DOUBLE) / m)
                        * (CAST(sx AS DOUBLE) / m)) / (m - 1) AS v1,
                   (CAST(szz AS DOUBLE)
                    - 2 * (5 * (CAST(sx AS DOUBLE) / m)) * CAST(sz AS DOUBLE)
                    + mq * (5 * (CAST(sx AS DOUBLE) / m))
                        * (5 * (CAST(sx AS DOUBLE) / m))) / (mq - 1) AS vq
            FROM s1, sq
        )
        SELECT m AS n_diffs,
               5 AS q,
               ROUND(vq / (5 * v1), 9) AS vr,
               ROUND((vq / (5 * v1) - 1)
                     / SQRT(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * m)),
                     9) AS z_stat,
               CAST(ABS((vq / (5 * v1) - 1)
                        / SQRT(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * m)))
                    > 1.96 AS BOOLEAN) AS reject_random_walk_5pct
        FROM fit
    """,
    operators=(24, 31, 32, 494),
    doc="Lo-MacKinlay variance-ratio test (#494) at q=5 on daily "
    "revenue: VR = Var(5-day diffs)/(5 Var(1-day diffs)), z under the "
    "homoskedastic null phi = 2(2q-1)(q-1)/(3qm) — the random-walk "
    "TEST beside q_hurst_exponent's memory ESTIMATE and q_adf_test's "
    "unit-root grade. Parity: both difference series are exact "
    "BIGINTs off the day census (y_t - y_{t-1}, y_t - y_{t-5} — no "
    "per-row float anywhere); their sums are BIGINT, their squares "
    "DECIMAL(19,0) products in DECIMAL(38,0) sums; variances come "
    "from raw-moment identities evaluated in one shared IEEE tree; "
    "SQRT is correctly rounded. Scale: one rollup to days, bounded "
    "lag windows, 1-row algebra.",
    bench=False,
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    w = Window.orderBy("t")
    diffs = idx.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("x"),
        (F.col("y") - F.lag("y", 5).over(w)).alias("z"),
    )
    sums = diffs.agg(
        F.count("x").cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.count("z").cast("bigint").alias("mq"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("z").cast("decimal(19,0)") * F.col("z").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("szz"),
    )
    mu = F.col("sx").cast("double") / F.col("m")
    v1 = (
        F.col("sxx").cast("double")
        - 2 * mu * F.col("sx").cast("double")
        + F.col("m") * mu * mu
    ) / (F.col("m") - 1)
    qmu = 5 * mu
    vq = (
        F.col("szz").cast("double")
        - 2 * qmu * F.col("sz").cast("double")
        + F.col("mq") * qmu * qmu
    ) / (F.col("mq") - 1)
    vr = vq / (5 * v1)
    phi = F.sqrt(
        F.lit(2.0) * (2 * 5 - 1) * (5 - 1) / (F.lit(3.0) * 5 * F.col("m"))
    )
    z = (vr - 1) / phi
    return sums.select(
        F.col("m").alias("n_diffs"),
        F.lit(5).alias("q"),
        F.round(vr, 9).alias("vr"),
        F.round(z, 9).alias("z_stat"),
        (F.abs(z) > 1.96).alias("reject_random_walk_5pct"),
    )


# ---------------------------------------------------------------------------
# #495 breusch_pagan — heteroscedasticity of the daily-revenue OLS
# ---------------------------------------------------------------------------


@query(
    "q_breusch_pagan",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + """,
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
            SELECT t,
                   CAST(FLOOR(CAST(y AS DOUBLE) - (f.a + f.b * t) + 0.5)
                        AS BIGINT) AS eq
            FROM idx, fit f
        ),
        e2 AS (
            SELECT t,
                   CAST(FLOOR(CAST(eq AS DOUBLE) / 100 + 0.5) AS DECIMAL(19,0))
                   * CAST(FLOOR(CAST(eq AS DOUBLE) / 100 + 0.5)
                          AS DECIMAL(19,0)) AS u
            FROM res
        ),
        bp AS (
            SELECT
                CAST(SUM(CAST(u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS su,
                CAST(SUM(CAST(t AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)) AS stu,
                CAST(SUM(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)) AS suu
            FROM e2
        )
        SELECT f.n AS n_days,
               ROUND(f.n
                     * ((CAST(f.n AS DOUBLE) * CAST(bp.stu AS DOUBLE)
                         - CAST(f.st AS DOUBLE) * CAST(bp.su AS DOUBLE))
                        * (CAST(f.n AS DOUBLE) * CAST(bp.stu AS DOUBLE)
                           - CAST(f.st AS DOUBLE) * CAST(bp.su AS DOUBLE)))
                     / ((CAST(f.n AS DOUBLE) * f.stt
                         - CAST(f.st AS DOUBLE) * f.st)
                        * (CAST(f.n AS DOUBLE) * CAST(bp.suu AS DOUBLE)
                           - CAST(bp.su AS DOUBLE) * CAST(bp.su AS DOUBLE))),
                     9) AS bp_stat,
               CAST(f.n
                    * ((CAST(f.n AS DOUBLE) * CAST(bp.stu AS DOUBLE)
                        - CAST(f.st AS DOUBLE) * CAST(bp.su AS DOUBLE))
                       * (CAST(f.n AS DOUBLE) * CAST(bp.stu AS DOUBLE)
                          - CAST(f.st AS DOUBLE) * CAST(bp.su AS DOUBLE)))
                    / ((CAST(f.n AS DOUBLE) * f.stt
                        - CAST(f.st AS DOUBLE) * f.st)
                       * (CAST(f.n AS DOUBLE) * CAST(bp.suu AS DOUBLE)
                          - CAST(bp.su AS DOUBLE) * CAST(bp.su AS DOUBLE)))
                    > 3.841 AS BOOLEAN) AS reject_homoscedastic_5pct
        FROM fit f, bp
    """,
    operators=(24, 31, 158, 495),
    doc="Breusch-Pagan LM test (#495) for heteroscedasticity of the "
    "daily-revenue-on-time OLS — the variance-side diagnostic of the "
    "SAME regression whose residual autocorrelation q_durbin_watson "
    "grades (BP = n R^2 of e^2 on t, Koenker's studentized form, vs "
    "chi^2(1) = 3.841). Parity: the fit and whole-dollar residual "
    "re-quantization replicate q_durbin_watson verbatim; e^2 rides "
    "DECIMAL(19,0)^2 products, and the auxiliary-regression moments "
    "(Sum e^2, Sum t e^2, Sum e^4) are DECIMAL(38,0) sums (e^4 ~ "
    "1e28 at sf0.1 — far past BIGINT; exact through sf10 at "
    "DECIMAL 38); R^2 is one shared IEEE tree of exact casts. "
    "Scale: one rollup to days, then 1-row algebra.",
    bench=False,
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.floor(
            F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("t")) + 0.5
        )
        .cast("bigint")
        .alias("eq"),
    )
    e100 = F.floor(F.col("eq").cast("double") / 100 + 0.5).cast("decimal(19,0)")
    e2 = res.select("t", (e100 * e100).alias("u"))
    bp = e2.agg(
        F.sum(F.col("u").cast("decimal(38,0)")).cast("decimal(38,0)").alias("su"),
        F.sum(F.col("t").cast("decimal(19,0)") * F.col("u").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("stu"),
        F.sum(F.col("u").cast("decimal(19,0)") * F.col("u").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("suu"),
    )
    num = (
        F.col("n").cast("double") * F.col("stu").cast("double")
        - F.col("st").cast("double") * F.col("su").cast("double")
    )
    r2 = (num * num) / (
        (F.col("n").cast("double") * F.col("stt") - F.col("st").cast("double") * F.col("st"))
        * (
            F.col("n").cast("double") * F.col("suu").cast("double")
            - F.col("su").cast("double") * F.col("su").cast("double")
        )
    )
    stat = F.col("n") * r2
    return fit.crossJoin(F.broadcast(bp)).select(
        F.col("n").alias("n_days"),
        F.round(stat, 9).alias("bp_stat"),
        (stat > 3.841).alias("reject_homoscedastic_5pct"),
    )

# ---------------------------------------------------------------------------
# #496 pettitt_test — rank-based single-changepoint test
# ---------------------------------------------------------------------------


@query(
    "q_pettitt_test",
    oracle="""
        WITH
"""
    + _DAILY_SQL
    + """,
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
        rk AS (
            SELECT t, d,
                   2 * (RANK() OVER (ORDER BY y) - 1)
                       + COUNT(*) OVER (PARTITION BY y) + 1 AS r2
            FROM idx
        ),
        u AS (
            SELECT t, d,
                   CAST(SUM(r2 - (n + 1)) OVER (ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ut
            FROM rk, nn
        ),
        k AS (
            SELECT CAST(MAX(ABS(ut)) AS BIGINT) AS kmax FROM u
        ),
        elect AS (
            SELECT u.t, u.d, u.ut
            FROM u, k
            WHERE ABS(u.ut) = k.kmax
            ORDER BY u.t
            LIMIT 1
        )
        SELECT nn.n AS n_days,
               elect.d AS change_day,
               k.kmax AS k_stat,
               ROUND(2 * EXP(-6.0 * k.kmax * k.kmax
                             / (CAST(nn.n AS DOUBLE) * nn.n * nn.n
                                + CAST(nn.n AS DOUBLE) * nn.n)),
                     9) AS p_approx,
               CAST(2 * EXP(-6.0 * k.kmax * k.kmax
                            / (CAST(nn.n AS DOUBLE) * nn.n * nn.n
                               + CAST(nn.n AS DOUBLE) * nn.n))
                    < 0.05 AS BOOLEAN) AS signif_5pct
        FROM nn, k, elect
    """,
    operators=(24, 30, 31, 496),
    doc="Pettitt single-changepoint test (#496) on daily revenue — "
    "the rank-based Mann-Whitney-style changepoint TEST (with its "
    "closed-form p approximation) beside the binseg/CUSUM/"
    "Page-Hinkley DETECTORS (#237/#352/#418): U_t = "
    "Sum_{i<=t,j>t} sgn(y_i - y_j), K = max|U_t|, p ~ "
    "2 exp(-6K^2/(n^3+n^2)). Parity: U_t collapses to the exact "
    "integer prefix identity Sum_{i<=t}(2 r_i - (n+1)) with midranks "
    "2r = 2(RANK-1) + ties + 1 (tie-safe, no floats anywhere until "
    "the single EXP cell, the accepted 1-cell libm exposure); the "
    "elected day is the earliest argmax (total order). Scale: one "
    "rollup to days; ranks and the prefix run on the bounded day "
    "census (documented single-partition shape).",
    bench=False,
)
def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _daily_idx(spark, sf_dir)
    nn = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rk = idx.select(
        "t",
        "d",
        (
            2 * (F.rank().over(Window.orderBy("y")) - 1)
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            + 1
        ).alias("r2"),
    )
    u = rk.crossJoin(F.broadcast(nn)).select(
        "t",
        "d",
        F.sum(F.col("r2") - (F.col("n") + 1))
        .over(Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("ut"),
    )
    k = u.agg(F.max(F.abs(F.col("ut"))).cast("bigint").alias("kmax"))
    elect = (
        u.crossJoin(F.broadcast(k))
        .filter(F.abs(F.col("ut")) == F.col("kmax"))
        .orderBy("t")
        .limit(1)
        .select("d")
    )
    nd = F.col("n").cast("double")
    p = 2 * F.exp(
        -6.0 * F.col("kmax") * F.col("kmax") / (nd * F.col("n") * F.col("n") + nd * F.col("n"))
    )
    return (
        nn.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(elect))
        .select(
            F.col("n").alias("n_days"),
            F.col("d").alias("change_day"),
            F.col("kmax").alias("k_stat"),
            F.round(p, 9).alias("p_approx"),
            (p < 0.05).alias("signif_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# #497 bartlett_test — parametric variance homogeneity across nations
# ---------------------------------------------------------------------------


@query(
    "q_bartlett_test",
    oracle="""
        WITH cells AS (
            SELECT c_nationkey AS g,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS s_i,
                   CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                                 AS DECIMAL(19,0))
                            * CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                                   AS DECIMAL(19,0)))
                        AS DECIMAL(38,0)) AS q_i
            FROM customer GROUP BY 1
        ),
        vi AS (
            SELECT g, n_i,
                   (CAST(q_i AS DOUBLE)
                    - CAST(s_i AS DOUBLE) * s_i / n_i) / (n_i - 1) AS v_i
            FROM cells
        ),
        gl AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(SUM(CAST(FLOOR((n_i - 1) * v_i + 0.5)
                                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ssw,
                   CAST(SUM(CAST(FLOOR((n_i - 1) * LN(v_i) * 1e9 + 0.5) / 1e9
                                 AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS sln,
                   CAST(SUM(CAST(FLOOR(1e12 / (n_i - 1) + 0.5) / 1e12
                                 AS DECIMAL(38,12))) AS DECIMAL(38,12))
                       AS srecip
            FROM vi
        )
        SELECT gl.k AS n_groups,
               gl.n AS n_rows,
               ROUND(((CAST(gl.n AS DOUBLE) - gl.k)
                      * LN(CAST(gl.ssw AS DOUBLE) / (CAST(gl.n AS DOUBLE) - gl.k))
                      - CAST(gl.sln AS DOUBLE))
                     / (1 + (CAST(gl.srecip AS DOUBLE)
                             - 1.0 / (CAST(gl.n AS DOUBLE) - gl.k))
                            / (3.0 * (gl.k - 1))),
                     9) AS bartlett_stat,
               CAST(((CAST(gl.n AS DOUBLE) - gl.k)
                     * LN(CAST(gl.ssw AS DOUBLE) / (CAST(gl.n AS DOUBLE) - gl.k))
                     - CAST(gl.sln AS DOUBLE))
                    / (1 + (CAST(gl.srecip AS DOUBLE)
                            - 1.0 / (CAST(gl.n AS DOUBLE) - gl.k))
                           / (3.0 * (gl.k - 1)))
                    > 36.415 AS BOOLEAN) AS reject_equal_var_5pct
        FROM gl
    """,
    operators=(23, 24, 43, 497),
    doc="Bartlett's test (#497) for variance homogeneity of customer "
    "balances across the 25 nations — the parametric chi-square twin "
    "of q_levene_test (Levene is outlier-robust; Bartlett is the "
    "classical likelihood form; disagreement between them flags "
    "non-normality). T = [(N-k) ln s_p^2 - Sum (n_i-1) ln s_i^2]/C, "
    "C = 1 + (Sum 1/(n_i-1) - 1/(N-k))/(3(k-1)), vs chi^2(24) = "
    "36.415. Parity: 25 cells of exact integer cent moments (cents^2 "
    "through DECIMAL(19,0) products); each cell's variance is one "
    "shared IEEE tree; the three 25-term cell sums — (n_i-1)s_i^2, "
    "(n_i-1) ln s_i^2, 1/(n_i-1) — are quantized (whole-cents^2 / 1e-9 / "
    "1e-12 grids matched to term magnitude so the shared long-typed "
    "FLOOR never overflows through sf10 — the #448 coarse-grid "
    "discipline) and summed through DECIMAL for "
    "order independence; ln on 26 cells total (the k-cell libm "
    "idiom). Scale: one rollup to 25 cells, then cell algebra. Units "
    "cancel in T (cents^2 vs dollars^2 shifts both ln terms "
    "identically).",
    bench=False,
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    cells = cust.groupBy(F.col("c_nationkey").alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum(cents).cast("bigint").alias("s_i"),
        F.sum(cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("q_i"),
    )
    vi = cells.select(
        "g",
        "n_i",
        (
            (
                F.col("q_i").cast("double")
                - F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i")
            )
            / (F.col("n_i") - 1)
        ).alias("v_i"),
    )
    gl = vi.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum(
            F.floor((F.col("n_i") - 1) * F.col("v_i") + 0.5).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("ssw"),
        F.sum(
            (
                F.floor((F.col("n_i") - 1) * F.log(F.col("v_i")) * 1e9 + 0.5)
                / 1e9
            ).cast("decimal(38,9)")
        )
        .cast("decimal(38,9)")
        .alias("sln"),
        F.sum(
            (F.floor(1e12 / (F.col("n_i") - 1) + 0.5) / 1e12).cast(
                "decimal(38,12)"
            )
        )
        .cast("decimal(38,12)")
        .alias("srecip"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k")
    num = (nd - kd) * F.log(F.col("ssw").cast("double") / (nd - kd)) - F.col(
        "sln"
    ).cast("double")
    c = 1 + (
        F.col("srecip").cast("double") - F.lit(1.0) / (nd - kd)
    ) / (F.lit(3.0) * (kd - 1))
    stat = num / c
    return gl.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        F.round(stat, 9).alias("bartlett_stat"),
        (stat > 36.415).alias("reject_equal_var_5pct"),
    )

# ---------------------------------------------------------------------------
# #498 atkinson_index — between-nation Atkinson inequality (eps 0.5, 1)
# ---------------------------------------------------------------------------


@query(
    "q_atkinson_index",
    oracle="""
        WITH cells AS (
            SELECT n.n_nationkey AS g,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS s_i
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1
        ),
        gl AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(SUM(s_i) AS BIGINT) AS s,
                   CAST(SUM(CAST(n_i AS DECIMAL(19,0))
                            * CAST(FLOOR(LN(CAST(s_i AS DOUBLE) / n_i)
                                         * 1e12 + 0.5) / 1e12
                                   AS DECIMAL(26,12)))
                        AS DECIMAL(38,12)) AS snln,
                   CAST(SUM(CAST(n_i AS DECIMAL(19,0))
                            * CAST(FLOOR(SQRT(CAST(s_i AS DOUBLE) / n_i)
                                         * 1e12 + 0.5) / 1e12
                                   AS DECIMAL(26,12)))
                        AS DECIMAL(38,12)) AS snsq
            FROM cells
        )
        SELECT gl.k AS n_nations,
               ROUND(CAST(gl.s AS DOUBLE) / gl.n / 100, 9) AS mean_value,
               ROUND(1 - (CAST(gl.snsq AS DOUBLE) / gl.n)
                         * (CAST(gl.snsq AS DOUBLE) / gl.n)
                         / (CAST(gl.s AS DOUBLE) / gl.n),
                     9) AS atkinson_05,
               ROUND(1 - EXP(CAST(gl.snln AS DOUBLE) / gl.n)
                         / (CAST(gl.s AS DOUBLE) / gl.n),
                     9) AS atkinson_1
        FROM gl
    """,
    operators=(13, 23, 43, 498),
    doc="Atkinson inequality indices (#498) of mean order value "
    "across the 25 nations at eps=0.5 and eps=1 — the welfare-based "
    "member completing the inequality family (Gini #252, Theil #445, "
    "Hoover/Palma #471, Lorenz #470, GMD #484): A_eps states the "
    "fraction of total income society could give up with no welfare "
    "loss were it equally distributed. BETWEEN-NATION form on the 25 "
    "exact integer cent cells (the #445 decomposition convention). "
    "A_1 = 1 - geomean/mean, A_05 = 1 - (mean of sqrt)^2/mean. "
    "Parity: cells are exact BIGINT cents; each cell's mu_i is one "
    "IEEE division; the <=25 ln/sqrt terms pass the shared-IEEE "
    "FLOOR(x*1e12+0.5)/1e12 quantize, multiply EXACT integer n_i "
    "weights inside DECIMAL (19,0)x(26,12), and sum through "
    "DECIMAL(38,12); one EXP cell. Scale: one star rollup to 25 "
    "cells, then cell algebra.",
    bench=False,
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_nationkey").alias("g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("s_i"),
        )
    )
    mu_i = F.col("s_i").cast("double") / F.col("n_i")
    gl = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
        F.sum(
            F.col("n_i").cast("decimal(19,0)")
            * (F.floor(F.log(mu_i) * 1e12 + 0.5) / 1e12).cast("decimal(26,12)")
        )
        .cast("decimal(38,12)")
        .alias("snln"),
        F.sum(
            F.col("n_i").cast("decimal(19,0)")
            * (F.floor(F.sqrt(mu_i) * 1e12 + 0.5) / 1e12).cast("decimal(26,12)")
        )
        .cast("decimal(38,12)")
        .alias("snsq"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    a05 = 1 - (F.col("snsq").cast("double") / F.col("n")) * (
        F.col("snsq").cast("double") / F.col("n")
    ) / mu
    a1 = 1 - F.exp(F.col("snln").cast("double") / F.col("n")) / mu
    return gl.select(
        F.col("k").alias("n_nations"),
        F.round(mu / 100, 9).alias("mean_value"),
        F.round(a05, 9).alias("atkinson_05"),
        F.round(a1, 9).alias("atkinson_1"),
    )


# ---------------------------------------------------------------------------
# #499 price_elasticity — binned log-log demand regression
# ---------------------------------------------------------------------------


@query(
    "q_price_elasticity",
    oracle="""
        WITH pc AS (
            SELECT p_partkey,
                   CAST(FLOOR(p_retailprice / 10) AS BIGINT) AS bin,
                   CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
            FROM part
        ),
        price_cells AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(cents) AS BIGINT) AS sp
            FROM pc GROUP BY 1
        ),
        qty_cells AS (
            SELECT pc.bin,
                   CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
                        AS BIGINT) AS sq
            FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
            GROUP BY 1
        ),
        xy AS (
            SELECT p.bin,
                   FLOOR(LN(CAST(p.sp AS DOUBLE) / p.n_parts) * 1e12 + 0.5)
                       / 1e12 AS x,
                   FLOOR(LN(CAST(q.sq AS DOUBLE)) * 1e12 + 0.5) / 1e12 AS y
            FROM price_cells p JOIN qty_cells q ON q.bin = p.bin
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(CAST(x AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS sy,
                   CAST(SUM(CAST(FLOOR(x * y * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS sxy,
                   CAST(SUM(CAST(FLOOR(x * x * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS sxx,
                   CAST(SUM(CAST(FLOOR(y * y * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(26,12))) AS DECIMAL(38,12)) AS syy
            FROM xy
        )
        SELECT nb AS n_bins,
               ROUND((CAST(nb AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(nb AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                     9) AS elasticity,
               ROUND(((CAST(nb AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      * (CAST(nb AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                     / ((CAST(nb AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(nb AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     9) AS r2,
               CAST(ABS((CAST(nb AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(nb AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    > 1 AS BOOLEAN) AS elastic
        FROM mo
    """,
    operators=(13, 23, 43, 499),
    doc="Price elasticity of demand (#499): binned log-log OLS of "
    "total quantity demanded on average catalog price over ten-"
    "dollar price bands of the part catalog — the econometric "
    "reading of the (price, quantity) surface q_price_index "
    "summarizes as index numbers (elasticity is the %-demand-per-"
    "%-price slope; |slope| > 1 = elastic). Parity: bands via "
    "shared-IEEE FLOOR(p_retailprice/10) (the fixture's 900-1000 "
    "range gives ~10 bands); band cells are exact integer cents and "
    "quantities; the <=10 ln terms per side are 1e-12-quantized, "
    "cross products re-quantized to the same grid, and all five OLS "
    "moments sum through DECIMAL(38,12); slope/R^2 one shared IEEE "
    "tree. Scale: one broadcast-joined rollup to ~10 cells each "
    "side, then cell algebra.",
    bench=False,
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    pc = part.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") / 10).cast("bigint").alias("bin"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    price_cells = pc.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("sp"),
    )
    qty_cells = (
        li.join(F.broadcast(pc), li.l_partkey == pc.p_partkey)
        .groupBy("bin")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("sq")
        )
    )
    xy = price_cells.join(qty_cells, "bin").select(
        (
            F.floor(
                F.log(F.col("sp").cast("double") / F.col("n_parts")) * 1e12 + 0.5
            )
            / 1e12
        ).alias("x"),
        (F.floor(F.log(F.col("sq").cast("double")) * 1e12 + 0.5) / 1e12).alias(
            "y"
        ),
    )
    mo = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum(F.col("x").cast("decimal(26,12)")).cast("decimal(38,12)").alias("sx"),
        F.sum(F.col("y").cast("decimal(26,12)")).cast("decimal(38,12)").alias("sy"),
        F.sum(
            (F.floor(F.col("x") * F.col("y") * 1e12 + 0.5) / 1e12).cast(
                "decimal(26,12)"
            )
        )
        .cast("decimal(38,12)")
        .alias("sxy"),
        F.sum(
            (F.floor(F.col("x") * F.col("x") * 1e12 + 0.5) / 1e12).cast(
                "decimal(26,12)"
            )
        )
        .cast("decimal(38,12)")
        .alias("sxx"),
        F.sum(
            (F.floor(F.col("y") * F.col("y") * 1e12 + 0.5) / 1e12).cast(
                "decimal(26,12)"
            )
        )
        .cast("decimal(38,12)")
        .alias("syy"),
    )
    nbd = F.col("nb").cast("double")
    num = nbd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    denx = nbd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    deny = nbd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    slope = num / denx
    return mo.select(
        F.col("nb").alias("n_bins"),
        F.round(slope, 9).alias("elasticity"),
        F.round((num * num) / (denx * deny), 9).alias("r2"),
        (F.abs(slope) > 1).alias("elastic"),
    )
