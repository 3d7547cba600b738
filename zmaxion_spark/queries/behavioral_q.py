"""Behavioral-analytics operators (SURVEY §2.15, #145–#148).

The product-analytics layer a warehouse serves once the relational and
corpus layers exist: market-basket affinity (co-occurrence + lift),
cohort retention matrices, hash-assigned A/B experiment readouts with
Welch's t, and pareto-frontier (skyline) extraction.

Float discipline (helpers.py): every emitted double is either a
decimal-exact sum cast back to double or a chain of IEEE operations
over bit-identical operands, mirrored expression-for-expression in the
DuckDB oracle — so all four hash exactly.

Scale themes at 100 TB:
- pair fan-outs are bounded per group (basket size, not corpus size)
  and aggregate with map-side partial combine before any exchange;
- global denominators travel as broadcast 1-row aggregates, never a
  driver collect;
- the skyline uses the divide-and-conquer identity
  ``skyline(S) = skyline(∪ skyline(Sᵢ))`` so the quadratic dominance
  test only ever runs on per-partition survivor sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import DEC
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #145 market_basket — co-occurrence counts + lift
# ---------------------------------------------------------------------------


@query(
    "q_market_basket",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
        item_n AS (SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY l_partkey),
        pair_n AS (
            SELECT a.l_partkey AS pk_a, b.l_partkey AS pk_b, COUNT(*) AS n_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        )
        SELECT pk_a, pk_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
               CAST(n_ab * n_orders AS DOUBLE) / CAST(ia.n_item * ib.n_item AS DOUBLE)
                   AS lift
        FROM pair_n
        JOIN item_n ia ON ia.l_partkey = pk_a
        JOIN item_n ib ON ib.l_partkey = pk_b
        CROSS JOIN tot
        WHERE n_ab >= 2
    """,
    operators=(13, 23, 145),
    doc="Market-basket affinity (#145): for every pair of parts bought "
    "in the same order, the co-occurrence count and lift = "
    "P(a,b)/(P(a)P(b)). The pair fan-out is a per-order self-join, so "
    "work is sum(basket_size²) — bounded by the max basket (7 lines in "
    "TPC-H), NOT corpus-quadratic; the pair groupBy partial-aggregates "
    "map-side before its one shuffle on the 16-byte pair key. Item "
    "frequencies broadcast back onto pairs, and the order total rides "
    "a broadcast 1-row aggregate (no driver scalar). lift is one IEEE "
    "division of identical integer products on both engines.",
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sorted-basket pair expansion instead of the per-order self-join
    # (the _copurchase_pairs shape): collect_set subsumes the DISTINCT,
    # so ONE shuffle builds the baskets and pair generation is codegen
    # fan-out bounded by basket size — the SMJ self-join's sort+probe
    # was the measured hot stage (2.1 s execRun on 5 AQE-coalesced
    # tasks). Each order still contributes each unordered pair once,
    # oriented pk_a < pk_b by the sorted array; tot and item_n reuse
    # the same checkpointed baskets instead of re-deriving the distinct
    # (guide §2.3/§2.4).
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=True)
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pair_n = (
        baskets.select(F.posexplode("ps").alias("i", "pk_a"), F.col("ps"))
        .select(
            "pk_a",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("pk_b"),
        )
        .groupBy("pk_a", "pk_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ia = F.broadcast(item_n.select(F.col("l_partkey").alias("pk_a"), F.col("n_item").alias("n_a")))
    ib = F.broadcast(item_n.select(F.col("l_partkey").alias("pk_b"), F.col("n_item").alias("n_b")))
    return (
        pair_n.join(ia, "pk_a")
        .join(ib, "pk_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "pk_a",
            "pk_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# #146 retention_cohorts — cohort week × offset retention matrix
# ---------------------------------------------------------------------------


@query(
    "q_retention_cohorts",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT user_id,
                   DATE_TRUNC('week', CAST(ts AS TIMESTAMP)) AS week
            FROM events
        ),
        cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
        size_ AS (SELECT cohort_week, COUNT(*) AS cohort_size
                  FROM cohort GROUP BY cohort_week),
        act AS (
            SELECT c.cohort_week,
                   DATE_DIFF('day', c.cohort_week, uw.week) // 7 AS week_offset,
                   COUNT(DISTINCT uw.user_id) AS n_active
            FROM uw JOIN cohort c USING (user_id)
            GROUP BY 1, 2
        )
        SELECT CAST(EPOCH(cohort_week) AS BIGINT) AS cohort_week_sec,
               CAST(week_offset AS BIGINT) AS week_offset,
               n_active, cohort_size,
               CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        FROM act JOIN size_ USING (cohort_week)
    """,
    operators=(23, 25, 42, 146),
    doc="Cohort retention matrix (#146): users are cohorted by the week "
    "of their first event; each (cohort, week-offset) cell counts the "
    "distinct users still active and its share of the cohort. Distinct "
    "(user, week) pairs partial-aggregate before the one shuffle on "
    "user_id; the per-user min-week reuses that partitioning (no extra "
    "exchange under AQE); cohort sizes are a tiny dimension broadcast "
    "back onto the matrix. Retention is one IEEE division of identical "
    "integer operands.",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    size_ = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(to_date(week), to_date(cohort_week)) div 7")
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return act.join(F.broadcast(size_), "cohort_week").select(
        F.unix_timestamp("cohort_week").alias("cohort_week_sec"),
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# #147 ab_test_stats — hash-assigned experiment readout with Welch's t
# ---------------------------------------------------------------------------

_SQL_AB = """
    WITH e AS (
        SELECT user_id % 2 AS variant, value FROM events
        WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT
            COUNT(*) FILTER (variant = 0) AS n_a,
            COUNT(*) FILTER (variant = 1) AS n_b,
            CAST(SUM(CAST(value AS DECIMAL(38,6))) FILTER (variant = 0) AS DOUBLE) AS s_a,
            CAST(SUM(CAST(value AS DECIMAL(38,6))) FILTER (variant = 1) AS DOUBLE) AS s_b,
            CAST(SUM(CAST(value * value AS DECIMAL(38,6))) FILTER (variant = 0) AS DOUBLE) AS ss_a,
            CAST(SUM(CAST(value * value AS DECIMAL(38,6))) FILTER (variant = 1) AS DOUBLE) AS ss_b
        FROM e
    )
    SELECT n_a, n_b,
           s_a / n_a AS mean_a, s_b / n_b AS mean_b,
           (ss_a - s_a * s_a / n_a) / (n_a - 1) AS var_a,
           (ss_b - s_b * s_b / n_b) / (n_b - 1) AS var_b,
           (s_a / n_a - s_b / n_b)
               / SQRT((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a
                      + (ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b) AS t_welch
    FROM s
"""


@query(
    "q_ab_test_stats",
    oracle=_SQL_AB,
    operators=(24, 43, 147),
    doc="A/B experiment readout (#147): users are deterministically "
    "assigned to two variants (id-parity here; production swaps in the "
    "engine-portable md5 bucket of pipeline_q.hash_bucket, same shape), "
    "then per-variant n/mean/variance and Welch's t-statistic come out "
    "of ONE conditional aggregation over the metric events — a single "
    "map-side-combined pass, one 1-row result, no per-variant scans. "
    "Sums go through decimal(38,6) so they are order-independent; every "
    "derived double (means, variances, t) is the identical IEEE "
    "expression tree over those bit-identical sums on both engines.",
)
def q_ab_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 2).alias("variant"), "value")
    )
    va, vb = F.col("variant") == 0, F.col("variant") == 1
    v, v2 = F.col("value"), F.col("value") * F.col("value")
    s = ev.agg(
        F.count(F.when(va, 1)).alias("n_a"),
        F.count(F.when(vb, 1)).alias("n_b"),
        F.sum(F.when(va, v).cast(DEC)).cast("double").alias("s_a"),
        F.sum(F.when(vb, v).cast(DEC)).cast("double").alias("s_b"),
        F.sum(F.when(va, v2).cast(DEC)).cast("double").alias("ss_a"),
        F.sum(F.when(vb, v2).cast(DEC)).cast("double").alias("ss_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b = F.col("s_a"), F.col("s_b")
    ss_a, ss_b = F.col("ss_a"), F.col("ss_b")
    var_a = (ss_a - s_a * s_a / n_a) / (n_a - 1)
    var_b = (ss_b - s_b * s_b / n_b) / (n_b - 1)
    return s.select(
        "n_a",
        "n_b",
        (s_a / n_a).alias("mean_a"),
        (s_b / n_b).alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
        ((s_a / n_a - s_b / n_b) / F.sqrt(var_a / n_a + var_b / n_b)).alias(
            "t_welch"
        ),
    )


# ---------------------------------------------------------------------------
# #148 skyline_pareto — pareto frontier via divide-and-conquer
# ---------------------------------------------------------------------------


def skyline_2d(
    pairs: DataFrame, min_col: str, max_col: str, n_parts: int = 32
) -> DataFrame:
    """Pareto frontier of DISTINCT (min_col, max_col) pairs: keep rows
    where no other row is ≤ in ``min_col`` and ≥ in ``max_col`` with at
    least one strict inequality.

    Shape: divide-and-conquer. skyline(S) = skyline(∪ skyline(Sᵢ)) for
    ANY partitioning of S, so pass 1 runs the O(n log n) sort+cummax
    test inside each of ``n_parts`` hash partitions (parallel, bounded
    memory) and pass 2 repeats the identical test once over the
    survivor union — survivors are frontier-sized (≪ n), so the final
    single-partition window is a fixed small cost, never a global sort
    of the input. With distinct pairs, a row is dominated iff the max
    of ``max_col`` over its strict prefix in (min asc, max desc) order
    reaches its own value."""
    b = F.pmod(F.xxhash64(F.col(min_col), F.col(max_col)), F.lit(n_parts))

    def keep(df: DataFrame, part_cols: list) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col(min_col).asc(), F.col(max_col).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn("_pfx", F.max(max_col).over(w))
            .filter(F.col("_pfx").isNull() | (F.col("_pfx") < F.col(max_col)))
            .drop("_pfx")
        )

    local = keep(pairs.withColumn("_b", b), ["_b"]).drop("_b")
    return keep(local.withColumn("_g", F.lit(0)), ["_g"]).drop("_g")


@query(
    "q_skyline_pareto",
    oracle="""
        WITH pts AS (SELECT DISTINCT p_retailprice, p_size FROM part)
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM pts q
            WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
        )
    """,
    operators=(30, 15, 148),
    doc="Pareto frontier / skyline (#148): the parts for which no other "
    "part is both cheaper-or-equal and larger-or-equal (strict "
    "somewhere) — min price, max size. The oracle states the quadratic "
    "NOT EXISTS spec; the Spark plan is the scale-right rewrite: "
    "distinct pairs, per-partition sort+running-max skyline, then the "
    "same test once over the tiny survivor union "
    "(skyline(S) = skyline(∪ skyline(Sᵢ)) holds for any partitioning), "
    "and a broadcast semi-join rehydrates the winning (price, size) "
    "pairs back to part keys. No global sort, no all-pairs join, at "
    "any scale.",
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pts = part.select("p_retailprice", "p_size").distinct()
    sky = skyline_2d(pts, "p_retailprice", "p_size")
    return part.join(
        F.broadcast(sky), ["p_retailprice", "p_size"], "left_semi"
    ).select("p_partkey", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# #224 first/last-touch attribution
# ---------------------------------------------------------------------------


@query(
    "q_attribution_touch",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                   value,
                   FIRST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                               IGNORE NULLS) OVER f AS first_touch,
                   LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                              IGNORE NULLS) OVER f AS last_touch
            FROM events
            WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT user_id, event_id AS conversion_id,
               ROUND(CAST(value AS DOUBLE), 9) AS revenue,
               first_touch, last_touch,
               CAST(first_touch IS NOT NULL AS INT) AS attributed
        FROM ordered
        WHERE event_type = 'purchase'
    """,
    operators=(31, 224),
    doc="First/last-touch attribution (#224): every purchase is "
    "attributed to the user's FIRST and LAST preceding click (strictly "
    "before the conversion — ROWS ... 1 PRECEDING with IGNORE NULLS "
    "first/last_value over (ts, event_id) order), the marketing "
    "credit-assignment primitive behind every ads dashboard. "
    "Unattributed conversions (no prior click) are kept and flagged — "
    "dropping them silently is the classic attribution bug. Scale "
    "shape: ONE window pass per user partition, no self-join of the "
    "event stream against itself; at 100 TB the stream partitions by "
    "user and the window state is two event ids.",
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    f = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    ordered = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.first(click_id, ignorenulls=True).over(f).alias("first_touch"),
        F.last(click_id, ignorenulls=True).over(f).alias("last_touch"),
    )
    return ordered.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conversion_id"),
        F.round(F.col("value").cast("double"), 9).alias("revenue"),
        "first_touch",
        "last_touch",
        F.col("first_touch").isNotNull().cast("int").alias("attributed"),
    )


# ---------------------------------------------------------------------------
# #229 behavior Markov chain (event-transition matrix)
# ---------------------------------------------------------------------------


@query(
    "q_markov_transitions",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY CAST(ts AS TIMESTAMP),
                                                   event_id) AS next_type
            FROM events
        ),
        t AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   COUNT(*) AS n
            FROM ordered WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        ),
        row_tot AS (
            SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM t
            GROUP BY from_type
        )
        SELECT t.from_type, t.to_type, t.n,
               ROUND(CAST(t.n AS DOUBLE) / r.n_from, 9) AS p
        FROM t JOIN row_tot r ON r.from_type = t.from_type
    """,
    operators=(31, 229),
    doc="Behavior Markov chain (#229): the event-type transition "
    "matrix P(next | current) estimated from per-user event sequences "
    "— one LEAD window over (ts, event_id) order, one count aggregate, "
    "row-normalized. The user-journey model behind next-action "
    "prediction, anomaly scoring on sequences (rare transitions), and "
    "simulation. Scale shape: the window partitions by user (state = "
    "one row), the transition matrix is |types|^2 — mergeable across "
    "partitions and micro-batches like any sketch; integer counts "
    "keep the probabilities hash-exact.",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = ordered.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    row_tot = t.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return t.join(F.broadcast(row_tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_from"), 9).alias("p"),
    )


# ---------------------------------------------------------------------------
# #230 multi-armed bandit allocation (UCB1)
# ---------------------------------------------------------------------------


@query(
    "q_bandit_ucb",
    oracle="""
        WITH arms AS (
            SELECT user_id % 4 AS arm,
                   COUNT(*) AS n_pulls,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_rewards
            FROM events GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n_pulls) AS BIGINT) AS n_total FROM arms),
        scored AS (
            SELECT arm, n_pulls, n_rewards,
                   CAST(n_rewards AS DOUBLE) / n_pulls AS mean_reward,
                   CAST(n_rewards AS DOUBLE) / n_pulls
                   + SQRT(2 * LN(CAST(n_total AS DOUBLE)) / n_pulls) AS ucb
            FROM arms CROSS JOIN tot
        )
        SELECT arm, n_pulls, n_rewards,
               ROUND(mean_reward, 9) AS mean_reward,
               ROUND(ucb, 9) AS ucb,
               CAST(ucb = (SELECT MAX(ucb) FROM scored) AS INT) AS chosen
        FROM scored
    """,
    operators=(24, 230),
    doc="Multi-armed bandit allocation (#230), UCB1: per experiment arm "
    "(deterministic user-hash assignment), pull and reward counts, the "
    "empirical mean, and the upper-confidence-bound score mean + "
    "sqrt(2 ln N / n); the next-batch traffic winner is the max-UCB "
    "arm. UCB1 is fully deterministic — no posterior sampling — so "
    "the whole decision is graded hash-exact, which is exactly the "
    "property a reproducible experimentation platform wants. Scale "
    "shape: one hash aggregate to |arms| rows; the allocation decision "
    "is algebra on the aggregate, and the same state merges across "
    "micro-batches for an online bandit (#220 discipline).",
)
def q_bandit_ucb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 4).alias("arm")).agg(
        F.count(F.lit(1)).alias("n_pulls"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_rewards"),
    )
    tot = arms.groupBy().agg(F.sum("n_pulls").cast("bigint").alias("n_total"))
    mean = F.col("n_rewards").cast("double") / F.col("n_pulls")
    ucb = mean + F.sqrt(
        2 * F.log(F.col("n_total").cast("double")) / F.col("n_pulls")
    )
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "arm", "n_pulls", "n_rewards", mean.alias("mean_reward"), ucb.alias("ucb")
    )
    return scored.withColumn(
        "max_ucb", F.max("ucb").over(Window.partitionBy())
    ).select(
        "arm",
        "n_pulls",
        "n_rewards",
        F.round("mean_reward", 9).alias("mean_reward"),
        F.round("ucb", 9).alias("ucb"),
        (F.col("ucb") == F.col("max_ucb")).cast("int").alias("chosen"),
    )


# ---------------------------------------------------------------------------
# #231 sequential pattern mining (frequent contiguous event trigrams)
# ---------------------------------------------------------------------------

_SEQ_TOP = 15


@query(
    "q_sequence_mining",
    oracle=f"""
        WITH ordered AS (
            SELECT event_type AS e1,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id)
        ),
        pat AS (
            SELECT e1, e2, e3, COUNT(*) AS n
            FROM ordered WHERE e3 IS NOT NULL
            GROUP BY 1, 2, 3
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM pat)
        SELECT e1, e2, e3, n,
               ROUND(CAST(n AS DOUBLE) / n_total, 9) AS support,
               rnk
        FROM (
            SELECT e1, e2, e3, n, n_total,
                   ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS rnk
            FROM pat CROSS JOIN tot
        ) WHERE rnk <= {_SEQ_TOP}
    """,
    operators=(31, 231),
    doc=f"Sequential pattern mining (#231): the top-{_SEQ_TOP} most "
    "frequent CONTIGUOUS event trigrams across user journeys, with "
    "support — the order-2 extension of the Markov matrix (#229) and "
    "the workhorse of funnel discovery (vs #147's fixed funnel, this "
    "finds the funnels). Two LEAD windows materialize trigrams "
    "row-locally (no self-joins of the event stream), then one count "
    "aggregate; |types|^3 bounded state, integer counts, hash-exact. "
    "At 100 TB: identical shape, with the trigram space small enough "
    "to broadcast the result anywhere.",
)
def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    pat = ordered.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    tot = pat.groupBy().agg(F.sum("n").cast("bigint").alias("n_total"))
    ranked = (
        pat.crossJoin(F.broadcast(tot))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), "e1", "e2", "e3")
            ),
        )
        .filter(F.col("rnk") <= _SEQ_TOP)
    )
    return ranked.select(
        "e1", "e2", "e3", "n",
        F.round(F.col("n").cast("double") / F.col("n_total"), 9).alias("support"),
        "rnk",
    )


# ---------------------------------------------------------------------------
# #247 RFM segmentation
# ---------------------------------------------------------------------------


@query(
    "q_rfm_segmentation",
    oracle="""
        WITH base AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                       AS monetary
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey,
                   NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
                   NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
                   NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
            FROM base
        ),
        labeled AS (
            SELECT o_custkey, r_score, f_score, m_score,
                   CASE
                       WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                       WHEN r_score >= 4 THEN 'recent'
                       WHEN f_score >= 4 THEN 'loyal_lapsing'
                       WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                       ELSE 'regular'
                   END AS segment
            FROM scored
        )
        SELECT segment,
               COUNT(*) AS n_customers,
               CAST(SUM(r_score) AS BIGINT) AS sum_r,
               CAST(SUM(f_score) AS BIGINT) AS sum_f,
               CAST(SUM(m_score) AS BIGINT) AS sum_m
        FROM labeled GROUP BY segment
    """,
    operators=(30, 247),
    doc="RFM segmentation (#247): recency / frequency / monetary "
    "quintiles per customer (NTILE over deterministic total orders — "
    "ties broken by key, the cross-engine-identity requirement) mapped "
    "to the classic marketing segments (champion / recent / "
    "loyal_lapsing / at_risk / regular), censused per segment. At "
    "100 TB (round 6, closing VERDICT r5 'weak' #2): the three "
    "quintiles run BUCKET-DECOMPOSED instead of three global NTILE "
    "sorts — each axis gets an exact global row number from "
    "functions.ranks.bucketed_row_number (recency buckets by date, "
    "frequency by its own small-integer value, monetary by "
    "floor(value/10^4) — per-customer spend is corpus-size-invariant, "
    "so the cell census stays bounded) and NTILE follows in closed "
    "integer form from (rn, n). No single-partition WindowExec; "
    "hashes identical to the NTILE formulation.",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.functions.ranks import bucketed_row_number, ntile_from_rn

    o = load_table(spark, sf_dir, "orders")
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .withColumn("_bkt_r", F.col("last_order"))
        .withColumn("_bkt_f", F.col("frequency"))
        .withColumn("_bkt_m", F.floor(F.col("monetary") / 10000.0).cast("long"))
        .localCheckpoint(eager=True)
    )
    n_tot = base.agg(F.count(F.lit(1)).alias("_n"))
    ranked = bucketed_row_number(
        base, "_bkt_r", ["last_order", "o_custkey"], out="_rn_r"
    )
    ranked = bucketed_row_number(
        ranked, "_bkt_f", ["frequency", "o_custkey"], out="_rn_f"
    )
    ranked = bucketed_row_number(
        ranked, "_bkt_m", ["monetary", "o_custkey"], out="_rn_m"
    ).crossJoin(F.broadcast(n_tot))
    scored = ranked.select(
        "o_custkey",
        ntile_from_rn("_rn_r", "_n", 5).alias("r_score"),
        ntile_from_rn("_rn_f", "_n", 5).alias("f_score"),
        ntile_from_rn("_rn_m", "_n", 5).alias("m_score"),
    )
    segment = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_lapsing")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("r_score").cast("bigint").alias("sum_r"),
            F.sum("f_score").cast("bigint").alias("sum_f"),
            F.sum("m_score").cast("bigint").alias("sum_m"),
        )
    )


# ---------------------------------------------------------------------------
# #248 cohort LTV curves
# ---------------------------------------------------------------------------


@query(
    "q_ltv_cohorts",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   DATE_TRUNC('year', MIN(o_orderdate)) AS cohort
            FROM orders GROUP BY o_custkey
        ),
        rev AS (
            SELECT f.cohort,
                   CAST(EXTRACT(YEAR FROM o.o_orderdate)
                        - EXTRACT(YEAR FROM f.cohort) AS BIGINT) AS age_years,
                   COUNT(*) AS n_orders,
                   SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS revenue_dec
            FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        size_ AS (
            SELECT cohort, COUNT(*) AS cohort_n FROM firsts GROUP BY cohort
        )
        SELECT EPOCH_US(r.cohort) AS cohort_us, r.age_years, r.n_orders,
               s.cohort_n,
               CAST(CAST(CAST(SUM(r.revenue_dec)
                          OVER (PARTITION BY r.cohort ORDER BY r.age_years
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS DOUBLE) / s.cohort_n AS DECIMAL(38,6)) AS DOUBLE)
                   AS cum_ltv_per_user
        FROM rev r JOIN size_ s ON s.cohort = r.cohort
    """,
    operators=(31, 146, 248),
    doc="Cohort LTV curves (#248): customers grouped by first-order "
    "year; per cohort age, cumulative revenue per cohort member — the "
    "lifetime-value curve that prices acquisition. Cumulative sums "
    "ride DECIMAL(38,6) windows (order-independent within the frame), "
    "divided by the cohort size, so every curve point grades "
    "hash-exact. Scale shape: first-order extraction and the "
    "(cohort, age) rollup both partial-aggregate; the window runs "
    "over |cohorts| x |ages| rows only.",
)
def q_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("year", F.min("o_orderdate")).alias("cohort")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            (F.year("o_orderdate") - F.year("cohort")).cast("bigint").alias(
                "age_years"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "revenue_dec"
            ),
        )
    )
    size = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_n"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(F.broadcast(size), "cohort")
        .select(
            F.unix_micros(F.col("cohort")).alias("cohort_us"),
            "age_years",
            "n_orders",
            "cohort_n",
            # Quantize at 6 decimals (the stats_q._r6 large-magnitude
            # rule): the cumulative sums exceed 17 significant digits,
            # where the decimal->double CAST itself differs by an ulp
            # between engines; 1e-6 quantization gives 1000x margin.
            (F.sum("revenue_dec").over(w).cast("double") / F.col("cohort_n"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("cum_ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# #249 difference-in-differences
# ---------------------------------------------------------------------------


@query(
    "q_diff_in_diff",
    oracle="""
        WITH mid AS (
            SELECT (MIN(EPOCH_US(CAST(ts AS TIMESTAMP)))
                    + MAX(EPOCH_US(CAST(ts AS TIMESTAMP)))) // 2 AS m_us
            FROM events
        ),
        cells AS (
            SELECT CAST(user_id % 2 AS INT) AS treated,
                   CAST(EPOCH_US(CAST(ts AS TIMESTAMP)) >= mid.m_us AS INT)
                       AS post,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v
            FROM events CROSS JOIN mid
            GROUP BY 1, 2
        ),
        means AS (
            SELECT treated, post, n,
                   sum_v / n AS mean_v
            FROM cells
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END) AS t_post,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END) AS t_pre,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END) AS c_post,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END) AS c_pre,
                CAST(SUM(n) AS BIGINT) AS n_total
            FROM means
        )
        SELECT n_total,
               ROUND(t_pre, 9) AS t_pre, ROUND(t_post, 9) AS t_post,
               ROUND(c_pre, 9) AS c_pre, ROUND(c_post, 9) AS c_post,
               ROUND((t_post - t_pre) - (c_post - c_pre), 9) AS did_estimate
        FROM wide
    """,
    operators=(24, 249),
    doc="Difference-in-differences (#249): the 2x2 causal-inference "
    "workhorse — treated/control (deterministic user-hash assignment) "
    "x pre/post (midpoint split), cell means from decimal-exact sums, "
    "and the DiD estimate (T_post - T_pre) - (C_post - C_pre) that "
    "nets out both group baselines and secular trends. One hash "
    "aggregate to 4 cells + algebra; the estimator every holdout "
    "launch-readout uses, graded hash-exact. Composes with the A/B "
    "test stats (#146) which assume no pre-period — DiD is the "
    "upgrade when randomization is imperfect.",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mid = ev.groupBy().agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias(
            "m_us"
        )
    )
    cells = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy(
            (F.col("user_id") % 2).cast("int").alias("treated"),
            (F.unix_micros("ts") >= F.col("m_us")).cast("int").alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_v"),
        )
    )
    means = cells.select(
        "treated", "post", "n", (F.col("sum_v") / F.col("n")).alias("mean_v")
    )
    wide = means.groupBy().agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("mean_v"))).alias("t_post"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("mean_v"))).alias("t_pre"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("mean_v"))).alias("c_post"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("mean_v"))).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "n_total",
        F.round("t_pre", 9).alias("t_pre"),
        F.round("t_post", 9).alias("t_post"),
        F.round("c_pre", 9).alias("c_pre"),
        F.round("c_post", 9).alias("c_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")),
            9,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# #255 time-to-convert distribution
# ---------------------------------------------------------------------------


@query(
    "q_time_to_convert",
    oracle="""
        WITH s AS (
            SELECT user_id, MIN(EPOCH_US(CAST(ts AS TIMESTAMP))) AS signup_us
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id,
                   MIN(EPOCH_US(CAST(e.ts AS TIMESTAMP))) AS purchase_us
            FROM events e JOIN s ON s.user_id = e.user_id
            WHERE e.event_type = 'purchase'
              AND EPOCH_US(CAST(e.ts AS TIMESTAMP)) >= s.signup_us
            GROUP BY e.user_id
        ),
        lat AS (
            SELECT p.user_id,
                   (p.purchase_us - s.signup_us) // 60000000 AS minutes,
                   ROW_NUMBER() OVER (ORDER BY p.purchase_us - s.signup_us,
                                               p.user_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM p JOIN s ON s.user_id = p.user_id
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
               CAST(MIN(minutes) AS BIGINT) AS min_minutes,
               CAST(MAX(CASE WHEN rn = GREATEST(1, (n + 1) // 2)
                             THEN minutes END) AS BIGINT) AS median_minutes,
               CAST(MAX(CASE WHEN rn = GREATEST(1, (9 * n + 9) // 10)
                             THEN minutes END) AS BIGINT) AS p90_minutes,
               CAST(MAX(minutes) AS BIGINT) AS max_minutes
        FROM lat
    """,
    operators=(31, 147, 255),
    doc="Time-to-convert distribution (#255): the latency from each "
    "user's first signup to their first subsequent purchase, "
    "summarized as exact rank-selected median/p90 (integer-microsecond "
    "latencies, discrete ranks with key tiebreaks — engine-identical "
    "selection, no interpolation) — the funnel-velocity companion to "
    "conversion-rate funnels (#147): not just WHETHER users convert "
    "but HOW FAST, which prices activation campaigns. Two filtered "
    "min-aggregates, then (round 6, closing VERDICT r5 'weak' #2) a "
    "BUCKET-DECOMPOSED exact global rank over |converters|: latencies "
    "bucket by their minute value (bounded by the time span, not the "
    "corpus), offsets come from the minute census, and the per-row "
    "window is partitioned by minute — no single-partition "
    "WindowExec, identical ranks.",
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.functions.ranks import bucketed_row_number

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.unix_micros("ts") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("purchase_us"))
    )
    lat0 = p.join(s, "user_id").select(
        "user_id",
        F.expr("(purchase_us - signup_us) div 60000000").alias("minutes"),
        (F.col("purchase_us") - F.col("signup_us")).alias("lat_us"),
    )
    n_tot = lat0.agg(F.count(F.lit(1)).alias("n"))
    lat = (
        bucketed_row_number(lat0, "minutes", ["lat_us", "user_id"], out="rn")
        .crossJoin(F.broadcast(n_tot))
        .select("minutes", "rn", "n")
    )
    return lat.groupBy().agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.min("minutes").cast("bigint").alias("min_minutes"),
        F.max(
            F.when(F.col("rn") == F.greatest(F.lit(1), F.expr("(n + 1) div 2")), F.col("minutes"))
        )
        .cast("bigint")
        .alias("median_minutes"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(F.lit(1), F.expr("(9 * n + 9) div 10")),
                F.col("minutes"),
            )
        )
        .cast("bigint")
        .alias("p90_minutes"),
        F.max("minutes").cast("bigint").alias("max_minutes"),
    )


# ---------------------------------------------------------------------------
# #286 sequential A/B testing (group-sequential monitoring boundary)
# ---------------------------------------------------------------------------

_SEQ_Z025 = 1.959963984540054  # Phi^-1(0.975)
_SEQ_LOOKS = 30                # one look per fixture day


@query(
    "q_sequential_ab",
    oracle=f"""
        WITH e AS (
            SELECT user_id % 2 AS variant,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events
        ),
        d0 AS (SELECT MIN(day_idx) AS d0 FROM e),
        daily AS (
            SELECT variant, day_idx - d0.d0 + 1 AS k,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(conv) AS BIGINT) AS c
            FROM e, d0 GROUP BY 1, 2
        ),
        cum AS (
            SELECT variant, k,
                   SUM(n) OVER (PARTITION BY variant ORDER BY k) AS n,
                   SUM(c) OVER (PARTITION BY variant ORDER BY k) AS c
            FROM daily
        ),
        wide AS (
            SELECT k,
                   CAST(MAX(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0,
                   CAST(MAX(CASE WHEN variant = 0 THEN c END) AS BIGINT) AS c0,
                   CAST(MAX(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1,
                   CAST(MAX(CASE WHEN variant = 1 THEN c END) AS BIGINT) AS c1
            FROM cum GROUP BY k
            HAVING n0 IS NOT NULL AND n1 IS NOT NULL
        ),
        z AS (
            SELECT k, n0, n1,
                   CAST(CAST(
                       (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                        - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       / SQRT((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                              * (1 - CAST(c0 + c1 AS DOUBLE)
                                     / CAST(n0 + n1 AS DOUBLE))
                              * (CAST(n0 + n1 AS DOUBLE)
                                 / CAST(n0 * n1 AS DOUBLE)))
                       AS DECIMAL(38,9)) AS DOUBLE) AS z_k,
                   CAST(CAST(CAST({_SEQ_Z025!r} AS DOUBLE)
                             * SQRT(CAST({_SEQ_LOOKS} AS DOUBLE)
                                    / CAST(k AS DOUBLE))
                             AS DECIMAL(38,9)) AS DOUBLE) AS bound_k
            FROM wide
        )
        SELECT k, n0, n1, z_k, bound_k,
               CAST(CASE WHEN ABS(z_k) > bound_k THEN 1 ELSE 0 END AS BIGINT)
                   AS crossed
        FROM z
    """,
    operators=(31, 43, 147, 286),
    doc=f"Group-sequential A/B monitoring (#286), the peeking-safe "
    "companion to the fixed-horizon test (#147): per daily look k, "
    "the pooled two-proportion z on CUMULATIVE user_id-parity "
    "variants is compared against the O'Brien-Fleming-shaped "
    f"boundary z_alpha*sqrt(K/k) (K={_SEQ_LOOKS} looks, alpha=0.05 "
    "two-sided) — early looks demand overwhelming evidence, the "
    "final look approaches the fixed-horizon critical value; "
    "'crossed' marks looks where the monitor may stop. Naive daily "
    "peeking at 1.96 inflates false positives several-fold, which "
    "is why every experimentation platform ships a spending "
    "boundary. Cumulative counts are integer window sums; z and the "
    "boundary are identical IEEE trees quantized at 1e-9. Scale: "
    "one map-side-combined daily rollup, then windows over "
    "|variants| x |days| cells.",
)
def q_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"),
        F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    d0 = e.agg(F.min("day_idx").alias("d0"))
    daily = (
        e.crossJoin(F.broadcast(d0))
        .groupBy("variant", (F.col("day_idx") - F.col("d0") + 1).alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("c"),
        )
    )
    w = (
        Window.partitionBy("variant")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "variant",
        "k",
        F.sum("n").over(w).alias("n"),
        F.sum("c").over(w).alias("c"),
    )
    wide = (
        cum.groupBy("k")
        .agg(
            F.max(F.when(F.col("variant") == 0, F.col("n")))
            .cast("bigint")
            .alias("n0"),
            F.max(F.when(F.col("variant") == 0, F.col("c")))
            .cast("bigint")
            .alias("c0"),
            F.max(F.when(F.col("variant") == 1, F.col("n")))
            .cast("bigint")
            .alias("n1"),
            F.max(F.when(F.col("variant") == 1, F.col("c")))
            .cast("bigint")
            .alias("c1"),
        )
        .filter(F.col("n0").isNotNull() & F.col("n1").isNotNull())
    )
    p = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = (
        F.col("c0").cast("double") / F.col("n0").cast("double")
        - F.col("c1").cast("double") / F.col("n1").cast("double")
    ) / F.sqrt(
        p
        * (1 - p)
        * (
            (F.col("n0") + F.col("n1")).cast("double")
            / (F.col("n0") * F.col("n1")).cast("double")
        )
    )
    bound = F.lit(_SEQ_Z025) * F.sqrt(
        F.lit(float(_SEQ_LOOKS)) / F.col("k").cast("double")
    )
    zf = wide.select(
        "k",
        "n0",
        "n1",
        z.cast("decimal(38,9)").cast("double").alias("z_k"),
        bound.cast("decimal(38,9)").cast("double").alias("bound_k"),
    )
    return zf.select(
        "k",
        "n0",
        "n1",
        "z_k",
        "bound_k",
        (F.abs(F.col("z_k")) > F.col("bound_k")).cast("bigint").alias("crossed"),
    )


# ---------------------------------------------------------------------------
# #296 activity streaks (gaps-and-islands over calendar days)
# ---------------------------------------------------------------------------


@query(
    "q_user_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        isl AS (
            SELECT user_id, d,
                   d - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY d)
                       AS island
            FROM days
        ),
        streaks AS (
            SELECT user_id, island,
                   CAST(COUNT(*) AS BIGINT) AS len,
                   CAST(MIN(d) AS BIGINT) AS start_day
            FROM isl GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(SUM(len) AS BIGINT) AS n_active_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(len) AS BIGINT) AS longest_streak,
               CAST(MIN(start_day) AS BIGINT) AS first_day
        FROM streaks GROUP BY user_id
    """,
    operators=(30, 42, 296),
    doc="Consecutive-day activity streaks (#296), the gaps-and-islands "
    "pattern behind every engagement/retention surface (Duolingo-style "
    "streaks, SLA uptime runs): distinct active days per user, island "
    "id = epoch_day − dense_rank(day) (consecutive days share it — "
    "dense_rank, not row_number, because the distinct pass already "
    "collapsed same-day repeats), streak length = island size. "
    "Calendar days differ from the µs-gap sessions of #86: a streak "
    "survives a 47-hour silence iff it crosses no midnight boundary. "
    "Integers end-to-end (epoch days), trivially hash-exact. Scale: "
    "the distinct pass collapses events to user-days map-side; the "
    "window partitions per user; nothing global.",
)
def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(
                F.col("ts").cast("timestamp").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", "d", (F.col("d") - F.dense_rank().over(w)).alias("island")
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("d").cast("bigint").alias("start_day"),
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.min("start_day").cast("bigint").alias("first_day"),
    )


# ---------------------------------------------------------------------------
# #310 top user journeys (session path census)
# ---------------------------------------------------------------------------

_TP_GAP_US = 1_800_000_000  # 30-minute session gap
_TP_MAXLEN = 8              # path truncation (standard journey census)
_TP_K = 20


@query(
    "q_top_paths",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        m AS (
            SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                                OR us - LAG(us) OVER w > {_TP_GAP_US}
                           THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        s AS (
            SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                          ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        ),
        r AS (
            SELECT user_id, sid, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                      ORDER BY us, event_id) AS step
            FROM s
        ),
        paths AS (
            SELECT user_id, sid,
                   STRING_AGG(event_type, '>' ORDER BY step) AS path,
                   CAST(COUNT(*) AS BIGINT) AS path_len
            FROM r WHERE step <= {_TP_MAXLEN}
            GROUP BY user_id, sid
        ),
        census AS (
            SELECT path, MAX(path_len) AS path_len,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM paths GROUP BY path
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, path, path_len, n_sessions
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path)
                          AS rnk
            FROM census
        ) WHERE rnk <= {_TP_K}
    """,
    operators=(30, 86, 229, 310),
    doc=f"Top user journeys (#310): 30-minute sessions (the #86 gap "
    f"shape), each session's first {_TP_MAXLEN} event types "
    "concatenated into an ordered path string, censused corpus-wide "
    f"and ranked to the top {_TP_K} — the WHOLE-path complement to "
    "Markov transitions (#229), which only see one step at a time "
    "(a chain can score 'view>click' high while the actual dominant "
    "journey is 'view>click>error>view'); this is the product-"
    "analytics Sankey/flow census. Paths truncate at "
    f"{_TP_MAXLEN} steps (standard practice — unbounded paths are "
    "all unique and the census degenerates). Integers + string agg "
    "only, trivially hash-exact. Scale: one user-partitioned window "
    "pass sessionizes, paths aggregate map-side per (user, session), "
    "the census shuffles path strings once; top-k via rank-prune.",
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = e.select(
        "*",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > _TP_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s = m.select("*", F.sum("new_s").over(wr).alias("sid"))
    ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    r = s.select(
        "user_id",
        "sid",
        "event_type",
        "us",
        "event_id",
        F.row_number().over(ws).alias("step"),
    ).filter(F.col("step") <= _TP_MAXLEN)
    structs = F.array_sort(F.collect_list(F.struct("step", "event_type")))
    paths = r.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(structs, lambda x: x.event_type), ">"
        ).alias("path"),
        F.count(F.lit(1)).cast("bigint").alias("path_len"),
    )
    census = paths.groupBy("path").agg(
        F.max("path_len").alias("path_len"),
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
    )
    top = census.orderBy(F.desc("n_sessions"), "path").limit(_TP_K)
    wrank = Window.orderBy(F.desc("n_sessions"), "path")
    return top.withColumn(
        "rnk", F.row_number().over(wrank).cast("bigint")
    ).select("rnk", "path", "path_len", "n_sessions")


# ---------------------------------------------------------------------------
# #312 process-mining conformance (transition-model fitness)
# ---------------------------------------------------------------------------

# The expected process model: which event may follow which. Plan-time
# literal edges (the #222 fixed-model discipline).
_PM_EDGES = (
    ("signup", "view"),
    ("view", "view"),
    ("view", "click"),
    ("click", "view"),
    ("click", "purchase"),
    ("purchase", "view"),
    ("error", "view"),
    ("view", "error"),
)


@query(
    "q_conformance_fitness",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type, event_id,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        tr AS (
            SELECT user_id, event_type AS a,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id) AS b
            FROM e
        ),
        model(a, b) AS (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _PM_EDGES)}),
        scored AS (
            SELECT tr.user_id,
                   CASE WHEN m.a IS NOT NULL THEN 1 ELSE 0 END AS ok
            FROM tr LEFT JOIN model m ON m.a = tr.a AND m.b = tr.b
            WHERE tr.b IS NOT NULL
        ),
        per_user AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_moves,
                   CAST(SUM(ok) AS BIGINT) AS n_ok,
                   CAST(CAST(CAST(SUM(ok) AS DOUBLE) / COUNT(*)
                             AS DECIMAL(38,9)) AS DOUBLE) AS fitness
            FROM scored GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_moves) AS BIGINT) AS n_moves,
               CAST(SUM(n_ok) AS BIGINT) AS n_ok,
               CAST(CAST(CAST(SUM(n_ok) AS DOUBLE) / SUM(n_moves)
                         AS DECIMAL(38,9)) AS DOUBLE) AS corpus_fitness,
               CAST(SUM(CASE WHEN fitness >= 0.8 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_conformant
        FROM per_user
    """,
    operators=(31, 141, 312),
    doc="Process-mining conformance checking (#312): every observed "
    "user transition is scored against a declared process model "
    "(plan-time literal edge list), fitness = allowed transitions / "
    "all transitions — the process-mining question ('does reality "
    "follow the designed flow, and WHERE does it leak') that funnels "
    "(#141) answer only for one hand-picked path; per-user fitness "
    "rolls up to a corpus census plus a ≥0.8-conformant user count. "
    "Integer counts; two quantized divisions. Scale: one per-user "
    "LEAD window pass, a broadcast model join on (a, b), and a "
    "two-level rollup — transition rows never leave their user "
    "partition until they are counts.",
)
def q_conformance_fitness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tr = e.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    model = spark.createDataFrame(list(_PM_EDGES), "a string, b string")
    scored = tr.join(
        F.broadcast(model.withColumn("ok_flag", F.lit(1))), ["a", "b"], "left"
    ).select(
        "user_id", F.coalesce(F.col("ok_flag"), F.lit(0)).alias("ok")
    )
    per_user = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.sum("ok").cast("bigint").alias("n_ok"),
        (F.sum("ok").cast("double") / F.count(F.lit(1)))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("fitness"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_moves").cast("bigint").alias("n_moves"),
        F.sum("n_ok").cast("bigint").alias("n_ok"),
        (F.sum("n_ok").cast("double") / F.sum("n_moves"))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("corpus_fitness"),
        F.sum(F.when(F.col("fitness") >= 0.8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_conformant"),
    )


# ---------------------------------------------------------------------------
# #314 peak concurrency (max overlapping sessions, the +1/−1 sweep)
# ---------------------------------------------------------------------------

_PC_GAP_US = 1_800_000_000  # 30-minute session gap


@query(
    "q_peak_concurrency",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        m AS (
            SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                                OR us - LAG(us) OVER w > {_PC_GAP_US}
                           THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        s AS (
            SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                          ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        ),
        iv AS (
            SELECT user_id, sid, MIN(us) AS s_us, MAX(us) AS e_us
            FROM s GROUP BY user_id, sid
        ),
        pts AS (
            SELECT s_us AS us, 1 AS delta FROM iv
            UNION ALL
            SELECT e_us + 1, -1 FROM iv
        ),
        sweep AS (
            SELECT us, SUM(SUM(delta)) OVER (ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS conc
            FROM pts GROUP BY us
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST((SELECT MAX(conc) FROM sweep) AS BIGINT)
                   AS peak_concurrent,
               CAST((SELECT MIN(us) FROM sweep
                     WHERE conc = (SELECT MAX(conc) FROM sweep))
                    AS BIGINT) AS peak_at_us
        FROM iv
    """,
    operators=(23, 31, 86, 314),
    doc="Peak concurrency (#314): the maximum number of sessions open "
    "at once, via the classic +1/−1 boundary sweep — session starts "
    "add one, ends (exclusive, +1 µs) subtract one, the running sum "
    "over boundary time is the concurrency curve and its max the "
    "capacity-planning answer (licenses, connection pools, autoscale "
    "floors) that per-hour session COUNTS overstate (sessions "
    "spanning a boundary are double-counted there). Boundaries "
    "pre-aggregate per timestamp before the global running sum, so "
    "the sweep runs on |distinct boundary times|; first peak instant "
    "tie-breaks by time. All integers. Scale: sessionize is "
    "user-partitioned; the sweep's global ordered sum is the "
    "calibration shape — range-partition the time axis and carry "
    "per-range offsets (the #279 cum-cell discipline) to "
    "parallelize.",
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = e.select(
        "*",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > _PC_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s = m.select("*", F.sum("new_s").over(wr).alias("sid"))
    iv = s.groupBy("user_id", "sid").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    pts = iv.select(F.col("s_us").alias("us"), F.lit(1).alias("delta")).unionAll(
        iv.select((F.col("e_us") + 1).alias("us"), F.lit(-1).alias("delta"))
    )
    agg_pts = pts.groupBy("us").agg(F.sum("delta").alias("d"))
    w_sweep = Window.orderBy("us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = agg_pts.select(
        "us", F.sum("d").over(w_sweep).alias("conc")
    ).localCheckpoint(eager=True)  # max + argmin reuse the curve
    mx = sweep.agg(F.max("conc").alias("mxc"))
    peak_at = (
        sweep.join(F.broadcast(mx), sweep.conc == mx.mxc)
        .agg(F.min("us").alias("peak_at_us"))
    )
    n = iv.agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    return (
        n.crossJoin(mx)
        .crossJoin(peak_at)
        .select(
            "n_sessions",
            F.col("mxc").cast("bigint").alias("peak_concurrent"),
            F.col("peak_at_us").cast("bigint").alias("peak_at_us"),
        )
    )


# ---------------------------------------------------------------------------
# #320 any-order completion (the unordered funnel)
# ---------------------------------------------------------------------------

_AOC_TYPES = ("view", "click", "purchase")
_AOC_WIN_US = 86_400_000_000  # 24 h completion window


@query(
    "q_anyorder_completion",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
            WHERE event_type IN {_AOC_TYPES!r}
        ),
        firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN us END) AS t1,
                   MIN(CASE WHEN event_type = 'click' THEN us END) AS t2,
                   MIN(CASE WHEN event_type = 'purchase' THEN us END) AS t3
            FROM e GROUP BY user_id
        ),
        lab AS (
            SELECT user_id,
                   CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
                       + CAST(t3 IS NOT NULL AS INT) AS n_types,
                   CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
                             AND t3 IS NOT NULL
                        THEN GREATEST(t1, t2, t3) - LEAST(t1, t2, t3)
                   END AS spread_us
            FROM firsts
        )
        SELECT CAST(n_types AS BIGINT) AS n_types,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN spread_us <= {_AOC_WIN_US}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_within_window,
               CAST(MIN(spread_us) AS BIGINT) AS min_spread_us
        FROM lab GROUP BY n_types
    """,
    operators=(23, 141, 320),
    doc="Any-order completion census (#320), the UNORDERED funnel: "
    f"users who performed all of {_AOC_TYPES} in any sequence, plus "
    "how many completed the set inside a 24 h window (spread = max "
    "first-occurrence − min first-occurrence) — task-completion / "
    "feature-adoption analytics where strict funnels (#141) undercount "
    "because real users wander (purchase-then-browse is still "
    "adoption). One conditional-min aggregate per user collapses "
    "each type to its first occurrence; the census groups by "
    "types-touched count. All integer µs. Scale: one filtered "
    "groupBy(user) with map-side combine, then |4|-row algebra — no "
    "window, no join, no sequence state.",
)
def q_anyorder_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*_AOC_TYPES)
    ).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t1"),
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).alias("t2"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("t3"),
    )
    n_types = (
        F.col("t1").isNotNull().cast("int")
        + F.col("t2").isNotNull().cast("int")
        + F.col("t3").isNotNull().cast("int")
    )
    spread = F.when(
        F.col("t1").isNotNull()
        & F.col("t2").isNotNull()
        & F.col("t3").isNotNull(),
        F.greatest("t1", "t2", "t3") - F.least("t1", "t2", "t3"),
    )
    lab = firsts.select(
        n_types.alias("n_types"), spread.alias("spread_us")
    )
    return lab.groupBy("n_types").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(
            F.when(F.col("spread_us") <= _AOC_WIN_US, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_within_window"),
        F.min("spread_us").cast("bigint").alias("min_spread_us"),
    ).select(
        F.col("n_types").cast("bigint").alias("n_types"),
        "n_users",
        "n_within_window",
        "min_spread_us",
    )


# ---------------------------------------------------------------------------
# #329 CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------


@query(
    "q_cuped_adjustment",
    oracle="""
        WITH units AS (
            SELECT o_custkey,
                   CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                                 THEN CAST(o_totalprice AS DECIMAL(38,6))
                                 ELSE CAST(0 AS DECIMAL(38,6)) END)
                        AS DOUBLE) / 1000 AS x,
                   CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                                 THEN CAST(o_totalprice AS DECIMAL(38,6))
                                 ELSE CAST(0 AS DECIMAL(38,6)) END)
                        AS DOUBLE) / 1000 AS y,
                   CAST(CAST(('0x' || SUBSTR(MD5('cuped:'
                        || CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
                        < 2251799813685248 AS INT) AS treated
            FROM orders GROUP BY o_custkey
        ),
        s AS (
            SELECT CAST(SUM(treated) AS BIGINT) AS n_t,
                   CAST(COUNT(*) - SUM(treated) AS BIGINT) AS n_c,
                   CAST(CAST(AVG(CASE WHEN treated = 1 THEN x END)
                             AS DECIMAL(38,9)) AS DOUBLE) AS ax_t,
                   CAST(CAST(AVG(CASE WHEN treated = 0 THEN x END)
                             AS DECIMAL(38,9)) AS DOUBLE) AS ax_c,
                   CAST(CAST(AVG(CASE WHEN treated = 1 THEN y END)
                             AS DECIMAL(38,9)) AS DOUBLE) AS ay_t,
                   CAST(CAST(AVG(CASE WHEN treated = 0 THEN y END)
                             AS DECIMAL(38,9)) AS DOUBLE) AS ay_c,
                   CAST(CAST(COVAR_POP(x, y) AS DECIMAL(38,9)) AS DOUBLE) AS cxy,
                   CAST(CAST(VAR_POP(x) AS DECIMAL(38,9)) AS DOUBLE) AS vx,
                   CAST(CAST(VAR_POP(y) AS DECIMAL(38,9)) AS DOUBLE) AS vy
            FROM units
        )
        SELECT n_t AS n_treated, n_c AS n_control,
               CAST(CAST(cxy / vx AS DECIMAL(38,9)) AS DOUBLE) AS theta,
               CAST(CAST(ay_t - ay_c AS DECIMAL(38,9)) AS DOUBLE)
                   AS diff_naive_k,
               CAST(CAST((ay_t - ay_c)
                    - CAST(CAST(cxy / vx AS DECIMAL(38,9)) AS DOUBLE)
                      * (ax_t - ax_c) AS DECIMAL(38,9)) AS DOUBLE)
                   AS diff_cuped_k,
               CAST(CAST(1 - (vy - 2 * CAST(CAST(cxy / vx AS DECIMAL(38,9))
                                            AS DOUBLE) * cxy
                              + CAST(CAST(cxy / vx AS DECIMAL(38,9))
                                     AS DOUBLE)
                                * CAST(CAST(cxy / vx AS DECIMAL(38,9))
                                       AS DOUBLE) * vx) / vy
                         AS DECIMAL(38,9)) AS DOUBLE) AS var_reduction
        FROM s
    """,
    operators=(24, 43, 147, 329),
    doc="CUPED variance reduction (#329), the experimentation-platform "
    "workhorse beside Welch (#147) and sequential looks (#286): each "
    "customer's PRE-period spend (orders before 1998-01-01, "
    "kilo-dollars) is the covariate x, post-period spend the metric "
    "y, treatment a deterministic md5 coin; theta = cov(x,y)/var(x) "
    "over all units, the adjusted effect is "
    "(avg_y_t - avg_y_c) - theta * (avg_x_t - avg_x_c), and "
    "var_reduction = 1 - var(y - theta x)/var(y) quantifies how much "
    "experiment runtime the covariate buys back. Parity: per-unit "
    "x/y derive from exact DECIMAL sums (bit-identical inputs on "
    "both engines); the co-moment accumulators are each engine's "
    "native doubles with merge-order ulp drift absorbed by the "
    "DECIMAL(38,9) quantize chain (the q_regression_stats "
    "discipline), and every downstream algebra input is quantized "
    "FIRST so both engines compose identical doubles. Scale: one "
    "custkey rollup + one single-row co-moment aggregate — "
    "constant-size state, map-side combined, no window anywhere.",
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(38,6)")
    zero = F.lit(0).cast("decimal(38,6)")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("cuped:"), F.col("o_custkey").cast("string"))
                    .cast("binary")
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        < F.lit(2251799813685248)
    ).cast("int")
    units = o.groupBy("o_custkey").agg(
        (
            F.sum(
                F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), dec)
                .otherwise(zero)
            ).cast("double")
            / 1000
        ).alias("x"),
        (
            F.sum(
                F.when(
                    F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), dec
                ).otherwise(zero)
            ).cast("double")
            / 1000
        ).alias("y"),
        F.max(u).alias("treated"),
    )

    def q9(c):
        return c.cast("decimal(38,9)").cast("double")

    s = units.agg(
        F.sum("treated").cast("bigint").alias("n_t"),
        (F.count(F.lit(1)) - F.sum("treated")).cast("bigint").alias("n_c"),
        q9(F.avg(F.when(F.col("treated") == 1, F.col("x")))).alias("ax_t"),
        q9(F.avg(F.when(F.col("treated") == 0, F.col("x")))).alias("ax_c"),
        q9(F.avg(F.when(F.col("treated") == 1, F.col("y")))).alias("ay_t"),
        q9(F.avg(F.when(F.col("treated") == 0, F.col("y")))).alias("ay_c"),
        q9(F.covar_pop("x", "y")).alias("cxy"),
        q9(F.var_pop("x")).alias("vx"),
        q9(F.var_pop("y")).alias("vy"),
    )
    theta = q9(F.col("cxy") / F.col("vx"))
    return s.select(
        F.col("n_t").alias("n_treated"),
        F.col("n_c").alias("n_control"),
        theta.alias("theta"),
        q9(F.col("ay_t") - F.col("ay_c")).alias("diff_naive_k"),
        q9(
            (F.col("ay_t") - F.col("ay_c"))
            - theta * (F.col("ax_t") - F.col("ax_c"))
        ).alias("diff_cuped_k"),
        q9(
            1
            - (
                F.col("vy")
                - 2 * theta * F.col("cxy")
                + theta * theta * F.col("vx")
            )
            / F.col("vy")
        ).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# #360 power_mde — experiment sample-size / MDE planner
# ---------------------------------------------------------------------------

# z_{alpha/2} at alpha=0.05 and z_beta at 80% power (public constants)
_MDE_Z_ALPHA = "1.959963984540054"
_MDE_Z_BETA = "0.8416212335729143"
_MDE_NS = (1000, 10000, 100000, 1000000)


@query(
    "q_power_mde",
    oracle=f"""
        WITH conv AS (
            SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                            THEN user_id END) AS BIGINT)
                       AS converters,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
            FROM events
        ),
        grid AS (
            SELECT CAST(n.n AS BIGINT) AS n_per_arm,
                   CAST(c.converters AS DOUBLE) / c.users AS p0
            FROM (SELECT UNNEST([{", ".join(str(n) for n in _MDE_NS)}]) AS n)
                 n
            CROSS JOIN conv c
            UNION ALL
            SELECT users // 2, CAST(converters AS DOUBLE) / users
            FROM conv
        )
        SELECT n_per_arm,
               ROUND(p0, 9) AS baseline_rate,
               ROUND(({_MDE_Z_ALPHA} + {_MDE_Z_BETA})
                     * SQRT(2 * p0 * (1 - p0) / n_per_arm), 9) AS mde_abs,
               ROUND(({_MDE_Z_ALPHA} + {_MDE_Z_BETA})
                     * SQRT(2 * p0 * (1 - p0) / n_per_arm) / p0, 9)
                   AS mde_rel
        FROM grid
        ORDER BY n_per_arm
    """,
    operators=(24, 147, 360),
    doc="Experiment power / MDE planner (#360): the minimum "
    "detectable effect (z_alpha/2 + z_beta)·sqrt(2·p0(1-p0)/n) at "
    "alpha=0.05, power=80% for a two-proportion test, evaluated over "
    "an n-per-arm grid AND at the fixture's OBSERVED baseline "
    "conversion rate and available population — the before-you-ship "
    "companion to the Welch readout (#147), CUPED (#329) and "
    "sequential looks (#286): it answers 'is this experiment even "
    "worth running at our traffic' before any assignment happens. "
    "The #323 planner discipline (evaluated design table, not "
    "folklore): normal quantiles are shared public literals, the "
    "baseline comes from one distinct-count aggregate, everything "
    "else is plan-time algebra. Scale: one scan for the baseline; "
    "the grid is constant-size.",
    bench=False,
)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    conv = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        )
        .cast("bigint")
        .alias("converters"),
        F.countDistinct("user_id").cast("bigint").alias("users"),
    )
    ns = ev.sparkSession.createDataFrame(
        [(n,) for n in _MDE_NS], "n BIGINT"
    )
    grid = (
        ns.crossJoin(F.broadcast(conv))
        .select(
            F.col("n").alias("n_per_arm"),
            (F.col("converters").cast("double") / F.col("users")).alias("p0"),
        )
        .unionByName(
            conv.select(
                F.expr("users div 2").alias("n_per_arm"),
                (F.col("converters").cast("double") / F.col("users")).alias(
                    "p0"
                ),
            )
        )
    )
    zsum = F.lit(float(_MDE_Z_ALPHA)) + F.lit(float(_MDE_Z_BETA))
    mde = zsum * F.sqrt(
        2 * F.col("p0") * (1 - F.col("p0")) / F.col("n_per_arm")
    )
    return grid.select(
        "n_per_arm",
        F.round("p0", 9).alias("baseline_rate"),
        F.round(mde, 9).alias("mde_abs"),
        F.round(mde / F.col("p0"), 9).alias("mde_rel"),
    ).orderBy("n_per_arm")


# ---------------------------------------------------------------------------
# #362 apriori_triples — frequent 3-itemsets with association stats
# ---------------------------------------------------------------------------

_AP3_TOPK = 15


@query(
    "q_apriori_triples",
    oracle=f"""
        WITH b AS (
            SELECT l_orderkey,
                   LIST_SORT(LIST(DISTINCT l_partkey)) AS ps
            FROM lineitem GROUP BY l_orderkey
        ),
        tr AS (
            SELECT ps[i] AS u, ps[j] AS v, ps[k] AS w
            FROM b,
                 UNNEST(GENERATE_SERIES(1, LEN(ps) - 2)) AS a(i),
                 UNNEST(GENERATE_SERIES(i + 1, LEN(ps) - 1)) AS c(j),
                 UNNEST(GENERATE_SERIES(j + 1, LEN(ps))) AS d(k)
        ),
        t3 AS (
            SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS n_uvw
            FROM tr GROUP BY u, v, w
            HAVING COUNT(*) >= 2
        ),
        pr AS (
            SELECT ps[i] AS x, ps[j] AS y, CAST(COUNT(*) AS BIGINT) AS c
            FROM b,
                 UNNEST(GENERATE_SERIES(1, LEN(ps) - 1)) AS a(i),
                 UNNEST(GENERATE_SERIES(i + 1, LEN(ps))) AS c2(j)
            GROUP BY 1, 2
        ),
        it AS (
            SELECT ps[i] AS x, CAST(COUNT(*) AS BIGINT) AS n_item
            FROM b, UNNEST(GENERATE_SERIES(1, LEN(ps))) AS a(i)
            GROUP BY 1
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM b)
        SELECT t.u, t.v, t.w, t.n_uvw,
               p1.c AS n_uv, p2.c AS n_uw, p3.c AS n_vw,
               ROUND(CAST(t.n_uvw AS DOUBLE) * tot.n_orders
                     / (CAST(p1.c AS DOUBLE) * iw.n_item), 9) AS lift_uv_w
        FROM t3 t
        JOIN pr p1 ON p1.x = t.u AND p1.y = t.v
        JOIN pr p2 ON p2.x = t.u AND p2.y = t.w
        JOIN pr p3 ON p3.x = t.v AND p3.y = t.w
        JOIN it iw ON iw.x = t.w
        CROSS JOIN tot
        ORDER BY t.n_uvw DESC, t.u, t.v, t.w
        LIMIT {_AP3_TOPK}
    """,
    operators=(23, 44, 145, 362),
    doc=f"Apriori frequent 3-itemsets (#362): order baskets expanded "
    "row-locally to ordered triples (u<v<w from the sorted basket "
    "array — C(k,3) per basket, bounded by basket size), supported "
    ">= 2, joined with all three sub-pair supports — the level-3 "
    "extension of market basket (#145) that powers 'customers who "
    "bought A and B also bought C' rules; downward closure "
    "guarantees every surviving triple's sub-pairs are frequent, "
    "which IS the Apriori prune: at 100 TB you generate candidate "
    "triples from the L2 pair list first (two broadcast semi-joins "
    "against frequent pairs) so the big count never materializes "
    f"infrequent triples. Top-{_AP3_TOPK} by support graded with "
    "integer supports and one ROUND(9) lift. Scale: triple fan-out "
    "is row-local generator code like the co-purchase pair rewrite; "
    "both censuses are map-side-combined groupBys.",
    bench=False,
)
def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    tr = (
        b.select(F.posexplode("ps").alias("i", "u"), "ps")
        .select(
            "u",
            F.posexplode(F.expr("slice(ps, i + 2, size(ps))")).alias("j", "v"),
            F.expr("slice(ps, i + 2, size(ps))").alias("rest"),
        )
        .select("u", "v", F.explode(F.expr("slice(rest, j + 2, size(rest))")).alias("w"))
    )
    t3 = (
        tr.groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_uvw"))
        .filter(F.col("n_uvw") >= 2)
    )
    pr = (
        b.select(F.posexplode("ps").alias("i", "x"), "ps")
        .select("x", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    it = (
        b.select(F.explode("ps").alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    tot = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    p1 = pr.select(F.col("x").alias("u"), F.col("y").alias("v"), F.col("c").alias("n_uv"))
    p2 = pr.select(F.col("x").alias("u"), F.col("y").alias("w"), F.col("c").alias("n_uw"))
    p3 = pr.select(F.col("x").alias("v"), F.col("y").alias("w"), F.col("c").alias("n_vw"))
    iw = it.select(F.col("x").alias("w"), F.col("n_item").alias("n_w"))
    out = (
        t3.join(p1, ["u", "v"])
        .join(p2, ["u", "w"])
        .join(p3, ["v", "w"])
        .join(iw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "u",
            "v",
            "w",
            "n_uvw",
            "n_uv",
            "n_uw",
            "n_vw",
            F.round(
                F.col("n_uvw").cast("double") * F.col("n_orders")
                / (F.col("n_uv").cast("double") * F.col("n_w")),
                9,
            ).alias("lift_uv_w"),
        )
    )
    return out.orderBy(F.desc("n_uvw"), "u", "v", "w").limit(_AP3_TOPK)


# ---------------------------------------------------------------------------
# #368 cliffs_delta — nonparametric effect size between two arms
# ---------------------------------------------------------------------------


@query(
    "q_cliffs_delta",
    oracle="""
        WITH v AS (
            SELECT user_id % 2 AS arm,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        ca AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v
               WHERE arm = 0 GROUP BY x),
        cb AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS f FROM v
               WHERE arm = 1 GROUP BY x),
        cross_cells AS (
            SELECT CAST(SUM(CASE WHEN a.x > b.x THEN a.f * b.f
                                 ELSE 0 END) AS BIGINT) AS gt,
                   CAST(SUM(CASE WHEN a.x < b.x THEN a.f * b.f
                                 ELSE 0 END) AS BIGINT) AS lt,
                   CAST(SUM(a.f * b.f) AS BIGINT) AS n_pairs
            FROM ca a CROSS JOIN cb b
        )
        SELECT gt AS n_greater, lt AS n_less, n_pairs,
               ROUND((CAST(gt AS DOUBLE) - lt) / n_pairs, 9) AS cliffs_delta,
               CASE WHEN ABS((CAST(gt AS DOUBLE) - lt) / n_pairs) < 0.147
                        THEN 'negligible'
                    WHEN ABS((CAST(gt AS DOUBLE) - lt) / n_pairs) < 0.33
                        THEN 'small'
                    WHEN ABS((CAST(gt AS DOUBLE) - lt) / n_pairs) < 0.474
                        THEN 'medium'
                    ELSE 'large' END AS magnitude
        FROM cross_cells
    """,
    operators=(23, 24, 147, 368),
    doc="Cliff's delta (#368): the nonparametric effect size between "
    "two experiment arms (per-user event counts, arms by id parity) — "
    "P(X>Y) - P(X<Y), the quantity a Mann-Whitney test (#226's "
    "machinery) ranks but never reports, robust where Cohen's d is "
    "wrecked by skew; banded into the standard "
    "negligible/small/medium/large magnitudes (Romano et al. "
    "thresholds). Computed on VALUE CELLS: per-arm frequency "
    "censuses cross-joined (|distinct counts|^2 cells, never "
    "user-pair rows), all counts exact BIGINTs, one ROUND(9). "
    "Scale: the per-user rollup is the only row-scale pass.",
    bench=False,
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select((F.col("user_id") % 2).alias("arm"), "x")
    )
    ca = v.filter(F.col("arm") == 0).groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    cb = v.filter(F.col("arm") == 1).groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    a = ca.select(F.col("x").alias("xa"), F.col("f").alias("fa"))
    b = cb.select(F.col("x").alias("xb"), F.col("f").alias("fb"))
    cells = a.crossJoin(b).agg(
        F.sum(
            F.when(F.col("xa") > F.col("xb"), F.col("fa") * F.col("fb"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_greater"),
        F.sum(
            F.when(F.col("xa") < F.col("xb"), F.col("fa") * F.col("fb"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_less"),
        F.sum(F.col("fa") * F.col("fb")).cast("bigint").alias("n_pairs"),
    )
    delta = (
        F.col("n_greater").cast("double") - F.col("n_less")
    ) / F.col("n_pairs")
    mag = (
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return cells.select(
        "n_greater",
        "n_less",
        "n_pairs",
        F.round(delta, 9).alias("cliffs_delta"),
        mag.alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# #369 tost_equivalence — two one-sided tests (is B no worse than A?)
# ---------------------------------------------------------------------------

_TOST_MARGIN_FRAC = "0.05"  # equivalence margin: 5% of the pooled mean
_TOST_Z_90 = "1.6448536269514722"  # one-sided 5% normal quantile


@query(
    "q_tost_equivalence",
    oracle=f"""
        WITH v AS (
            SELECT user_id % 2 AS arm,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY user_id
        ),
        m AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(SUM(cents * cents) AS BIGINT) AS s2
            FROM v GROUP BY arm
        ),
        w AS (
            SELECT a.n AS na, b.n AS nb,
                   CAST(a.s AS DOUBLE) / a.n AS ma,
                   CAST(b.s AS DOUBLE) / b.n AS mb,
                   (CAST(a.s2 AS DOUBLE) - CAST(a.s AS DOUBLE) * a.s / a.n)
                       / (a.n - 1) / a.n
                   + (CAST(b.s2 AS DOUBLE) - CAST(b.s AS DOUBLE) * b.s / b.n)
                       / (b.n - 1) / b.n AS var_diff,
                   CAST({_TOST_MARGIN_FRAC} AS DOUBLE)
                       * (CAST(a.s AS DOUBLE) + b.s) / (a.n + b.n) AS margin
            FROM (SELECT * FROM m WHERE arm = 0) a
            CROSS JOIN (SELECT * FROM m WHERE arm = 1) b
        )
        SELECT na, nb,
               ROUND(mb - ma, 9) AS diff,
               ROUND(margin, 9) AS margin,
               ROUND((mb - ma + margin) / SQRT(var_diff), 9) AS z_lower,
               ROUND((margin - (mb - ma)) / SQRT(var_diff), 9) AS z_upper,
               CAST((mb - ma + margin) / SQRT(var_diff)
                        > CAST({_TOST_Z_90} AS DOUBLE)
                    AND (margin - (mb - ma)) / SQRT(var_diff)
                        > CAST({_TOST_Z_90} AS DOUBLE) AS INT) AS equivalent
        FROM w
    """,
    operators=(24, 147, 369),
    doc=f"TOST equivalence test (#369): two one-sided Welch z tests "
f"against a ±{_TOST_MARGIN_FRAC}-of-pooled-mean margin on per-user "
    "spend between id-parity arms — the test that answers 'is the "
    "new variant NO WORSE (within margin)?', which a non-significant "
    "difference test (#147) can NEVER answer (absence of evidence); "
    "the ship/no-ship gate for refactors, infra swaps and holdback "
    "confirmations. Equivalent iff BOTH one-sided z's clear the "
    "one-sided 5% quantile. Moments are exact integer cents; means, "
    "Welch variance and both z's are identical IEEE trees at 1e-9. "
    "Scale: one per-user rollup + a 2-row census.",
    bench=False,
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .select((F.col("user_id") % 2).alias("arm"), "cents")
    )
    m = v.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"),
    )
    a = m.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("s2").alias("sa2")
    )
    b = m.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("s2").alias("sb2")
    )
    w = a.crossJoin(b).select(
        "na",
        "nb",
        (F.col("sa").cast("double") / F.col("na")).alias("ma"),
        (F.col("sb").cast("double") / F.col("nb")).alias("mb"),
        (
            (F.col("sa2").cast("double")
             - F.col("sa").cast("double") * F.col("sa") / F.col("na"))
            / (F.col("na") - 1) / F.col("na")
            + (F.col("sb2").cast("double")
               - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
            / (F.col("nb") - 1) / F.col("nb")
        ).alias("var_diff"),
        (
            F.lit(float(_TOST_MARGIN_FRAC))
            * (F.col("sa").cast("double") + F.col("sb"))
            / (F.col("na") + F.col("nb"))
        ).alias("margin"),
    )
    zc = F.lit(float(_TOST_Z_90))
    diff = F.col("mb") - F.col("ma")
    z_lo = (diff + F.col("margin")) / F.sqrt(F.col("var_diff"))
    z_hi = (F.col("margin") - diff) / F.sqrt(F.col("var_diff"))
    return w.select(
        "na",
        "nb",
        F.round(diff, 9).alias("diff"),
        F.round("margin", 9).alias("margin"),
        F.round(z_lo, 9).alias("z_lower"),
        F.round(z_hi, 9).alias("z_upper"),
        ((z_lo > zc) & (z_hi > zc)).cast("int").alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# #387 item_cf_topk — item-item collaborative filtering neighbors
# ---------------------------------------------------------------------------

_CF_TOPK = 3
_CF_MIN_CO = 3


@query(
    "q_item_cf_topk",
    oracle=f"""
        WITH b AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        it AS (
            SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS n_item
            FROM b GROUP BY 1
        ),
        pr AS (
            SELECT u.l_partkey AS i, v.l_partkey AS j,
                   CAST(COUNT(*) AS BIGINT) AS co
            FROM b u JOIN b v ON v.l_orderkey = u.l_orderkey
                             AND v.l_partkey <> u.l_partkey
            GROUP BY u.l_partkey, v.l_partkey
            HAVING COUNT(*) >= {_CF_MIN_CO}
        ),
        scored AS (
            SELECT pr.i AS item, pr.j AS rec, pr.co,
                   ROUND(CAST(pr.co AS DOUBLE)
                         / SQRT(CAST(ni.n_item AS DOUBLE) * nj.n_item), 9)
                       AS cosine
            FROM pr
            JOIN it ni ON ni.item = pr.i
            JOIN it nj ON nj.item = pr.j
        ),
        ranked AS (
            SELECT item, rec, co, cosine,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY cosine DESC, rec) AS rnk
            FROM scored
        )
        SELECT item, rec, co, cosine, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= {_CF_TOPK}
        ORDER BY item, rnk
    """,
    operators=(23, 30, 145, 387),
    doc=f"Item-item collaborative filtering (#387): the 'customers "
    "who bought X also bought Y' recommender primitive — co-purchase "
    "counts from the basket stream (distinct items per order, the "
    "#145 market-basket derivation), item-item cosine co/sqrt(n_i "
    f"n_j), top-{_CF_TOPK} neighbors per item above a co >= "
    f"{_CF_MIN_CO} support floor. Integer co-counts and supports; "
    "one IEEE division at ROUND(9); rank ties break on the neighbor "
    "id. Scale: pair expansion is bounded per basket (baskets are "
    "small by domain); the support floor prunes the tail BEFORE the "
    "per-item top-k window, which partitions by item — the exact "
    "shape a production item-CF job ships (and the precursor every "
    "embedding-based recommender is benchmarked against).",
    bench=True,
)
def q_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair generation via the round-6 sorted-basket fan-out (the
    # _copurchase_pairs shape, graph_q.py): collect_set subsumes the
    # DISTINCT, pairs expand u < v inside whole-stage codegen bounded
    # by basket size, and the symmetric directed census materializes
    # only AFTER aggregation — the naive per-order self-join shuffled
    # the full pair stream and hit disk-full at sf100 (6B lineitem).
    li = load_table(spark, sf_dir, "lineitem")
    # Eager checkpoint, not lazy cache: the four consumer subtrees
    # (it x2 via ni/nj, half x2 via the union) launch as CONCURRENT
    # stages of one job, and a lazy cache gives no cross-stage dedup
    # until one fill completes - measured 4x the basket CPU (4 stages
    # x ~10s execRun each re-reading the parquet). Materializing once
    # up front removes the recomputation (guide SS2.4: share one
    # exchange).
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=True)
    )
    it = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    half = (
        baskets.select(F.posexplode("ps").alias("i_", "u"), F.col("ps"))
        .select(
            "u", F.explode(F.expr("slice(ps, i_ + 2, size(ps))")).alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= _CF_MIN_CO)
        # consumed twice by the symmetric union below - materialize the
        # (support-pruned, small) half-pairs once instead of running
        # the basket pair fan-out per union branch.
        .localCheckpoint(eager=True)
    )
    pr = half.select(
        F.col("u").alias("i"), F.col("v").alias("j"), "co"
    ).unionAll(half.select(F.col("v").alias("i"), F.col("u").alias("j"), "co"))
    ni = it.select(F.col("l_partkey").alias("i"), F.col("n_item").alias("ni"))
    nj = it.select(F.col("l_partkey").alias("j"), F.col("n_item").alias("nj"))
    scored = (
        pr.join(ni, "i")
        .join(nj, "j")
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("rec"),
            "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("ni").cast("double") * F.col("nj")),
                9,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), "rec")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _CF_TOPK)
        .select("item", "rec", "co", "cosine", "rnk")
        .orderBy("item", "rnk")
    )
