"""Time-series operators: sessionization, resample/gap-fill, decay.

The batch twins of the streaming windows (SURVEY §2.6): gap-based
sessionization (#86), fixed-grid resampling with zero-filled gaps
(#87), and time-decayed aggregation (#88). All are pure DataFrame
algebra over the ``events`` fixture — window functions, sequence
explosion, and exact-arithmetic decay weights — with bit-exact DuckDB
oracles.

Parity disciplines used here:
- timestamps compare as ``unix_micros`` BIGINTs (events.ts is
  ns-in-parquet, truncated to µs identically by catalog.load_table and
  ``CAST(ts AS TIMESTAMP)``, see catalog.py);
- decay weights are exact powers of two (``1.0 / (1 << k)``), never
  ``POW(0.5, k)`` — a libm pow differs across engines in the last ulp,
  a shifted integer cannot;
- double sums go through DECIMAL(38,6) (helpers.dsum/sql_dsum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.functions import stats as ST
from zmaxion_spark.functions import timeseries as TS
from zmaxion_spark.queries.helpers import dsum, sql_dsum
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #86 gap-based sessionization (batch twin of the session window)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 hours


@query(
    "q_sessionize",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id, value,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        f AS (
            SELECT *,
                   CASE WHEN LAG(us) OVER w IS NULL
                             OR us - LAG(us) OVER w > {_SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_sess
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        s AS (
            SELECT *,
                   CAST(SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM f
        )
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               MIN(us) AS session_start_us,
               MAX(us) AS session_end_us,
               MAX(us) - MIN(us) AS duration_us,
               {sql_dsum('value', 'value_sum')}
        FROM s GROUP BY user_id, session_id
    """,
    operators=(23, 31, 86),
    doc="Gap-based sessionization: a new session starts after a >4 h "
    "silence per user; emits per-session count, bounds, duration and "
    "exact value sum. The batch twin of the session window (#51). "
    "Scale: ONE shuffle on user_id serves both the lag/running-sum "
    "window and the final groupBy (same partitioning, Catalyst reuses "
    "the exchange); timestamps compare as µs BIGINTs so no engine "
    "timezone/precision drift exists.",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("us")
    )
    sess = TS.sessionize(
        e, "user_id", "us", _SESSION_GAP_US, tiebreak="event_id"
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        dsum("value", "value_sum"),
    )


# ---------------------------------------------------------------------------
# #87 fixed-grid resample with zero-filled gaps
# ---------------------------------------------------------------------------


@query(
    "q_ts_resample",
    oracle=f"""
        WITH e AS (
            SELECT event_type,
                   DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour,
                   value
            FROM events
        ),
        a AS (
            SELECT event_type, hour, COUNT(*) AS n,
                   {sql_dsum('value', 'vsum')}
            FROM e GROUP BY event_type, hour
        ),
        b AS (
            SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
            FROM e GROUP BY event_type
        ),
        g AS (
            SELECT event_type,
                   UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM b
        )
        SELECT g.event_type, EPOCH_US(g.hour) AS hour_us,
               COALESCE(a.n, 0) AS n_events,
               COALESCE(a.vsum, 0.0) AS value_sum
        FROM g LEFT JOIN a USING (event_type, hour)
    """,
    operators=(14, 44, 87),
    doc="Hourly resample per event_type with zero-filled gaps: the "
    "dense grid every downstream forecasting/anomaly model needs. "
    "Grid = sequence(min_hour, max_hour, 1h) exploded per key (Spark "
    "sequence and DuckDB generate_series are both stop-INCLUSIVE), "
    "left-joined onto the hourly aggregate. Scale: the aggregate "
    "shrinks events to |keys|x|hours| BEFORE the grid join, and the "
    "grid side is tiny — broadcast — so the only big-data shuffle is "
    "the partial-agg groupBy.",
)
def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour"), "value"
    )
    agg = e.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "vsum")
    )
    bounds = e.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    filled = TS.gapfill(
        agg,
        bounds,
        "event_type",
        "hour",
        "1 hour",
        fills={"n": F.lit(0), "vsum": F.lit(0.0)},
    )
    return filled.select(
        "event_type",
        F.unix_micros("hour").alias("hour_us"),
        F.col("n").alias("n_events"),
        F.col("vsum").alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# #88 time-decayed aggregation (exact power-of-two half-life weights)
# ---------------------------------------------------------------------------

_HALF_LIFE_US = 7 * 86400 * 1_000_000  # one half-life step per 7 days


@query(
    "q_decayed_agg",
    oracle=f"""
        WITH e AS (
            SELECT user_id, value,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        m AS (SELECT MAX(us) AS ref_us FROM e),
        w AS (
            SELECT user_id, value,
                   (m.ref_us - e.us) // {_HALF_LIFE_US} AS k
            FROM e CROSS JOIN m
        ),
        d AS (
            SELECT user_id, value,
                   CASE WHEN k < 63
                        THEN 1.0 / (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                        ELSE 0.0 END AS weight
            FROM w
        )
        SELECT user_id,
               COUNT(*) AS n_events,
               {sql_dsum('value', 'raw_sum')},
               {sql_dsum('value * weight', 'decayed_sum')}
        FROM d GROUP BY user_id
    """,
    operators=(23, 43, 88),
    doc="Recency-weighted per-user value: weight halves every 7 days "
    "of age relative to the corpus max timestamp. Weights are EXACT "
    "powers of two (1.0 / (1<<k), never libm POW whose last ulp "
    "differs across engines), so Spark and DuckDB compute bit-equal "
    "products; sums go through DECIMAL(38,6). Scale: the max-ts "
    "reference is a 1-row broadcast, the rest is one map-side-combined "
    "groupBy — the standard shape for trillion-row feature decay.",
)
def q_decayed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_micros("ts").alias("us")
    )
    ref = e.agg(F.max("us").alias("ref_us"))
    d = e.crossJoin(F.broadcast(ref)).withColumn(
        "weight", TS.decay_weight("us", "ref_us", _HALF_LIFE_US)
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "raw_sum"),
        dsum(F.col("value") * F.col("weight"), "decayed_sum"),
    )


# ---------------------------------------------------------------------------
# #92 per-key anomaly detection (z-score, exact-parity variance)
# ---------------------------------------------------------------------------


@query(
    "q_anomaly_zscore",
    oracle="""
        WITH s AS (
            SELECT user_id, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(value * value AS DECIMAL(38,6)))
                        AS DOUBLE) AS s2
            FROM events GROUP BY user_id
        ),
        st AS (
            SELECT user_id, n, s1 / n AS mean_value,
                   SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sd_value
            FROM s WHERE n > 1
        ),
        f AS (
            SELECT e.user_id,
                   CASE WHEN ABS((e.value - st.mean_value) / st.sd_value)
                             > 2
                        THEN 1 ELSE 0 END AS anom
            FROM events e JOIN st USING (user_id)
            WHERE st.sd_value > 0
        )
        SELECT f.user_id, COUNT(*) AS n_events,
               MAX(st.mean_value) AS mean_value,
               MAX(st.sd_value) AS sd_value,
               CAST(SUM(f.anom) AS BIGINT) AS n_anomalies
        FROM f JOIN st USING (user_id)
        GROUP BY f.user_id
    """,
    operators=(23, 13, 92),
    doc="Per-user anomaly counts: events whose value sits more than "
    "2 sigma from the user mean. Variance is NEVER stddev_samp "
    "(Welford vs naive sum-of-squares differs across engines in the "
    "last ulp) — it is reconstructed from two DECIMAL(38,6)-exact "
    "sums with one fixed IEEE expression, so Spark and DuckDB agree "
    "bit-for-bit through the sqrt and the 2-sigma comparison. Scale: "
    "stats and the flag join both shuffle on user_id — one exchange, "
    "reused; per-user stats stay distributed (never broadcast, the "
    "key space grows with the data).",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    st = ST.zscore_stats(e, "user_id", "value")
    f = (
        e.join(st, "user_id")
        .filter(F.col("sd_value") > 0)
        .withColumn(
            "anom",
            F.when(
                F.abs(
                    (F.col("value") - F.col("mean_value"))
                    / F.col("sd_value")
                )
                > 2,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    return f.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("mean_value").alias("mean_value"),
        F.max("sd_value").alias("sd_value"),
        F.sum("anom").alias("n_anomalies"),
    )


@query(
    "q_rolling_time_window",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(EPOCH(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_sec,
                   value
            FROM events
        )
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
                   AS value_last_hour
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
    operators=(32, 42, 108),
    doc="Time-interval RANGE frame: per-user rolling 1-hour event count "
    "and decimal-exact value sum, anchored at every event — the "
    "rate-limiter / rolling-exposure primitive. The frame is a RANGE "
    "over epoch seconds (peers with equal timestamps aggregate "
    "together, so the result is order-independent under ties — a ROWS "
    "frame would not be). One shuffle on user_id; the frame scan is "
    "a single sorted pass per partition, no self-join.",
)
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
        .alias("value_last_hour"),
    )


# ---------------------------------------------------------------------------
# #237 CUSUM change-point detection over the daily series
# ---------------------------------------------------------------------------


@query(
    "q_cusum_changepoint",
    oracle="""
        WITH RECURSIVE d AS (
            SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS dd,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1
        ),
        idx AS (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY dd) AS i FROM d
        ),
        base AS (
            SELECT CAST(SUM(cents) AS DOUBLE) / 10 AS mu,
                   SQRT((CAST(SUM(cents * cents) AS DOUBLE)
                         - CAST(SUM(cents) AS DOUBLE) * SUM(cents) / 10) / 10)
                       AS sd
            FROM idx WHERE i <= 10
        ),
        walk(i, sp, sn) AS (
            SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
            UNION ALL
            SELECT x.i,
                   GREATEST(CAST(0 AS DOUBLE),
                            w.sp + (x.cents - b.mu - 0.5 * b.sd)),
                   GREATEST(CAST(0 AS DOUBLE),
                            w.sn - (x.cents - b.mu + 0.5 * b.sd))
            FROM walk w JOIN idx x ON x.i = w.i + 1 CROSS JOIN base b
        )
        SELECT w.i AS day_idx, x.cents,
               ROUND(w.sp, 9) AS cusum_pos,
               ROUND(w.sn, 9) AS cusum_neg,
               CAST(w.sp > 4 * b.sd OR w.sn > 4 * b.sd AS INT) AS alarm
        FROM walk w JOIN idx x ON x.i = w.i CROSS JOIN base b
        WHERE w.i >= 1
    """,
    operators=(53, 92, 237),
    doc="CUSUM change-point detection (#237): daily revenue (exact "
    "integer cents) monitored by the two-sided cumulative-sum control "
    "chart — S+ = max(0, S+ + (x - mu - k)), S- = max(0, S- - "
    "(x - mu + k)) with baseline mu/sd from the first 10 days, "
    "k = 0.5sd slack, 4sd alarm threshold. The inherently SEQUENTIAL "
    "recursion runs on the 30-row AGGREGATED series (a bounded "
    "applyInPandas group), never the raw stream — the correct "
    "decomposition at 100 TB: the heavy stage is the distributed "
    "daily aggregate; the control chart is O(days). Oracle: DuckDB "
    "recursive CTE stepping the identical IEEE recursion; integer "
    "inputs make the whole chart hash-exact.",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("dd")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )

    schema = (
        "day_idx bigint, cents bigint, cusum_pos double, cusum_neg double, "
        "alarm int"
    )

    def chart(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("dd").reset_index(drop=True)
        head = pdf["cents"].iloc[:10]
        s, s2, n = int(head.sum()), int((head * head).sum()), 10
        mu = float(s) / n
        sd = math.sqrt((float(s2) - float(s) * s / n) / n)
        sp = sn = 0.0
        rows = []
        for i, c in enumerate(pdf["cents"], start=1):
            c = int(c)
            sp = max(0.0, sp + (c - mu - 0.5 * sd))
            sn = max(0.0, sn - (c - mu + 0.5 * sd))
            rows.append(
                (i, c, sp, sn, int(sp > 4 * sd or sn > 4 * sd))
            )
        return pd.DataFrame(
            rows, columns=["day_idx", "cents", "cusum_pos", "cusum_neg", "alarm"]
        )

    out = (
        daily.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(lambda pdf: chart(pdf), schema)
    )
    # Round JVM-side: Spark/DuckDB ROUND share half-up semantics,
    # python round() is banker's — emit raw state, round here.
    return out.select(
        "day_idx", "cents",
        F.round("cusum_pos", 9).alias("cusum_pos"),
        F.round("cusum_neg", 9).alias("cusum_neg"),
        "alarm",
    )


# ---------------------------------------------------------------------------
# #238 seasonal-naive forecast backtest (MAPE / bias per series)
# ---------------------------------------------------------------------------

_FC_LAG = 7  # weekly seasonal-naive: forecast(d) = actual(d - 7)


@query(
    "q_forecast_backtest",
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS dd,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ),
        fc AS (
            SELECT event_type, dd, cents,
                   LAG(cents, {_FC_LAG}) OVER (PARTITION BY event_type
                                               ORDER BY dd) AS fcast
            FROM d
        )
        SELECT event_type,
               COUNT(*) AS n_backtest,
               CAST(SUM(cents - fcast) AS BIGINT) AS bias_cents,
               ROUND(CAST(SUM(CAST(ABS(cents - fcast) / CAST(cents AS DOUBLE)
                                   AS DECIMAL(38,18))) AS DOUBLE)
                     / COUNT(*), 9) AS mape
        FROM fc WHERE fcast IS NOT NULL
        GROUP BY event_type
    """,
    operators=(31, 238),
    doc=f"Seasonal-naive forecast backtest (#238): forecast(day) = "
    f"actual(day - {_FC_LAG}) per event-type series (the benchmark "
    "every real forecaster must beat), backtested over the overlap "
    "with per-series MAPE and signed bias. LAG over (series, day) — "
    "one window pass on the aggregated daily table — then one "
    "aggregate; absolute-percentage errors are single IEEE divisions "
    "of exact integer cents, summed through DECIMAL(38,18) for order "
    "independence. At 100 TB the pattern holds: the backtest cost is "
    "the daily rollup, and swapping in a real model only changes the "
    "fcast column.",
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("dd")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("dd")
    fc = d.withColumn("fcast", F.lag("cents", _FC_LAG).over(w)).filter(
        F.col("fcast").isNotNull()
    )
    ape = F.abs(F.col("cents") - F.col("fcast")) / F.col("cents").cast("double")
    return fc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_backtest"),
        F.sum(F.col("cents") - F.col("fcast")).cast("bigint").alias("bias_cents"),
        F.round(
            F.sum(ape.cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)), 9
        ).alias("mape"),
    )


# ---------------------------------------------------------------------------
# #246 SLO error-budget burn rate
# ---------------------------------------------------------------------------

_SLO_TARGET = 0.025  # error-rate SLO: <= 2.5% of events are 'error'
_SLO_FAST_BURN = 2.0  # alerting threshold on the burn multiple


@query(
    "q_slo_burn_rate",
    oracle=f"""
        WITH h AS (
            SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_err
            FROM events GROUP BY 1
        ),
        w AS (
            SELECT hour, n, n_err,
                   CAST(SUM(n) OVER f AS BIGINT) AS n_6h,
                   CAST(SUM(n_err) OVER f AS BIGINT) AS err_6h
            FROM h
            WINDOW f AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT EPOCH_US(hour) AS hour_us, n, n_err,
               ROUND(CAST(err_6h AS DOUBLE) / n_6h / {_SLO_TARGET}, 9)
                   AS burn_6h,
               CAST(CAST(err_6h AS DOUBLE) / n_6h / {_SLO_TARGET}
                    > {_SLO_FAST_BURN} AS INT) AS fast_burn_alert
        FROM w
    """,
    operators=(31, 246),
    doc=f"SLO error-budget burn rate (#246): hourly error rates over a "
    "rolling 6-hour window expressed as a MULTIPLE of the "
    f"{_SLO_TARGET:.1%} error-rate SLO — burn > {_SLO_FAST_BURN}x "
    "fires the fast-burn alert (the Google-SRE multiwindow alerting "
    "pattern: page on burning the budget too fast, not on raw error "
    "count). One hourly rollup + one ROWS-frame window; counts are "
    "integer-exact so the burn multiples grade hash-exact. At 100 TB "
    "the rollup partial-aggregates and the window state is six "
    "integer pairs per series — the same shape maintained streaming "
    "via a sliding window (#50).",
)
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    f = Window.orderBy("hour").rowsBetween(-5, Window.currentRow)
    w = h.select(
        "hour",
        "n",
        "n_err",
        F.sum("n").over(f).cast("bigint").alias("n_6h"),
        F.sum("n_err").over(f).cast("bigint").alias("err_6h"),
    )
    burn = F.col("err_6h").cast("double") / F.col("n_6h") / _SLO_TARGET
    return w.select(
        F.unix_micros(F.col("hour")).alias("hour_us"),
        "n",
        "n_err",
        F.round(burn, 9).alias("burn_6h"),
        (burn > _SLO_FAST_BURN).cast("int").alias("fast_burn_alert"),
    )


# ---------------------------------------------------------------------------
# #285 CEP negation pattern: A ... B with NO C between (batch MATCH_RECOGNIZE)
# ---------------------------------------------------------------------------


@query(
    "q_pattern_negation",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
                   event_id
            FROM events
        ),
        marked AS (
            SELECT user_id, event_type, day_idx,
                   MAX(CASE WHEN event_type = 'view'
                            THEN struct_pack(us := us, eid := event_id)
                       END)
                       OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS last_view,
                   MAX(CASE WHEN event_type = 'error'
                            THEN struct_pack(us := us, eid := event_id)
                       END)
                       OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS last_error
            FROM seq
        ),
        purchases AS (
            SELECT day_idx,
                   CASE WHEN last_view IS NOT NULL THEN 1 ELSE 0 END AS has_view,
                   CASE WHEN last_view IS NOT NULL AND (last_error IS NULL
                             OR (last_error.us, last_error.eid)
                                < (last_view.us, last_view.eid))
                        THEN 1 ELSE 0 END AS clean
            FROM marked WHERE event_type = 'purchase'
        )
        SELECT CAST(day_idx AS BIGINT) AS day_idx,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(has_view) AS BIGINT) AS n_with_view,
               CAST(SUM(clean) AS BIGINT) AS n_clean,
               CAST(SUM(has_view) - SUM(clean) AS BIGINT) AS n_tainted
        FROM purchases GROUP BY day_idx
    """,
    operators=(31, 86, 141, 285),
    doc="CEP negation pattern (#285), the MATCH_RECOGNIZE semantics "
    "the sequence family (#141/#142/#231) cannot express: per user, "
    "'view then purchase with NO error between' — negation needs the "
    "ABSENCE of an event inside an interval, which funnel step counts "
    "structurally miss (an error-then-recovery journey looks "
    "identical to a clean one by step counts alone). Two ignore-"
    "before-current running MAX windows carry the latest prior view "
    "and error per user; a purchase is clean iff a view precedes it "
    "and the latest error is older than that view (struct max orders "
    "by (us, event_id), deterministic under same-microsecond ties). "
    "Census per day: purchases / with-view / clean / tainted — all "
    "integers, hash-exact. Scale: one per-user window pass, no "
    "joins, no state beyond two structs per user-partition scan.",
)
def q_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr(f"unix_micros(ts) div {86400000000}").alias("day_idx"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mark = lambda t: F.max(  # noqa: E731
        F.when(
            F.col("event_type") == t,
            F.struct(F.col("us"), F.col("event_id").alias("eid")),
        )
    ).over(w)
    marked = e.select(
        "event_type",
        "day_idx",
        mark("view").alias("last_view"),
        mark("error").alias("last_error"),
    )
    has_view = F.col("last_view").isNotNull()
    clean = has_view & (
        F.col("last_error").isNull()
        | (
            F.struct(F.col("last_error.us"), F.col("last_error.eid"))
            < F.struct(F.col("last_view.us"), F.col("last_view.eid"))
        )
    )
    purchases = marked.filter(F.col("event_type") == "purchase").select(
        "day_idx",
        has_view.cast("int").alias("has_view"),
        clean.cast("int").alias("clean"),
    )
    return purchases.groupBy("day_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("has_view").cast("bigint").alias("n_with_view"),
        F.sum("clean").cast("bigint").alias("n_clean"),
        (F.sum("has_view") - F.sum("clean")).cast("bigint").alias("n_tainted"),
    ).select(
        F.col("day_idx").cast("bigint").alias("day_idx"),
        "n_purchases",
        "n_with_view",
        "n_clean",
        "n_tainted",
    )


# ---------------------------------------------------------------------------
# #292 time-weighted average (TWAP over irregular samples)
# ---------------------------------------------------------------------------


@query(
    "q_time_weighted_avg",
    oracle="""
        WITH e AS (
            SELECT event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   event_id
            FROM events
        ),
        seg AS (
            SELECT event_type, cents,
                   LEAD(us) OVER (PARTITION BY event_type
                                  ORDER BY us, event_id) - us AS dur
            FROM e
        ),
        agg AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(SUM(CASE WHEN dur IS NOT NULL THEN dur END)
                        AS BIGINT) AS span_us,
                   SUM(CASE WHEN dur IS NOT NULL
                            THEN CAST(cents * dur AS DECIMAL(38,0)) END)
                       AS wsum
            FROM seg GROUP BY event_type
        )
        SELECT event_type, n_samples, span_us,
               CAST(CAST(CAST(wsum AS DOUBLE) / span_us / 100
                         AS DECIMAL(38,9)) AS DOUBLE) AS twap
        FROM agg
    """,
    operators=(31, 42, 292),
    doc="Time-weighted average (#292), the irregular-sampling "
    "correction every monitoring/finance rollup needs: a plain AVG "
    "over-weights bursts (10 samples in a busy second count 10×), so "
    "each observation is held as a step function until the next "
    "sample of its series and weighted by that duration — TWAP = "
    "Σ vᵢ·(tᵢ₊₁−tᵢ) / Σ (tᵢ₊₁−tᵢ), the last sample contributing no "
    "interval. Everything is exact integers until the final division: "
    "cents × µs products fit BIGINT (1e4 cents × 1e9 µs), sums ride "
    "DECIMAL(38,0) (order-independent), the one double division "
    "quantizes at 1e-9. Scale: one per-series LEAD window (partition "
    "by series — parallel across types) + a map-side-combined "
    "aggregate; no global sort, no driver state.",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seg = e.select(
        "event_type", "cents", (F.lead("us").over(w) - F.col("us")).alias("dur")
    )
    agg = seg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum(F.when(F.col("dur").isNotNull(), F.col("dur")))
        .cast("bigint")
        .alias("span_us"),
        F.sum(
            F.when(
                F.col("dur").isNotNull(),
                (F.col("cents") * F.col("dur")).cast("decimal(38,0)"),
            )
        ).alias("wsum"),
    )
    return agg.select(
        "event_type",
        "n_samples",
        "span_us",
        (F.col("wsum").cast("double") / F.col("span_us") / 100)
        .cast("decimal(38,9)")
        .cast("double")
        .alias("twap"),
    )


# ---------------------------------------------------------------------------
# #293 MAD-based robust anomaly screen (the breakdown-proof z-score)
# ---------------------------------------------------------------------------

# Iglewicz-Hoben modified z-score: |0.6745 (x - med) / MAD| > 3.5.
# Scaled to integers: 6745 |x - med| > 35000 MAD — the entire decision
# is exact BIGINT arithmetic, no float ever enters.
_MAD_NUM = 6745
_MAD_CUT = 35000


def _mad_rank_sql(src: str, val: str, part: str) -> str:
    """Lower-median by discrete rank over integer values: the smallest
    value whose running count reaches ceil(n/2) — the repo's exact
    groupBy-then-cumulate quantile shape, no interpolation."""
    return f"""(
        WITH c AS (
            SELECT {part}, {val} AS v, COUNT(*) AS k FROM {src}
            GROUP BY {part}, {val}
        ),
        r AS (
            SELECT {part}, v, SUM(k) OVER (PARTITION BY {part}
                       ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(k) OVER (PARTITION BY {part}) AS n
            FROM c
        )
        SELECT {part}, MIN(v) AS med FROM r
        WHERE cum >= (n + 1) // 2 GROUP BY {part}
    )"""


@query(
    "q_mad_anomaly",
    oracle=f"""
        WITH e AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        med AS MATERIALIZED (
            SELECT * FROM {_mad_rank_sql('e', 'cents', 'event_type')}
        ),
        dev AS (
            SELECT e.event_type, ABS(e.cents - med.med) AS adev,
                   e.cents, med.med
            FROM e JOIN med ON med.event_type = e.event_type
        ),
        mad AS MATERIALIZED (
            SELECT event_type, med AS mad FROM
            {_mad_rank_sql('dev', 'adev', 'event_type')}
            AS m(event_type, med)
        )
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(d.med) AS BIGINT) AS med_cents,
               CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
               CAST(SUM(CASE WHEN {_MAD_NUM} * d.adev
                                  > {_MAD_CUT} * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad ON mad.event_type = d.event_type
        GROUP BY d.event_type
    """,
    operators=(23, 31, 92, 293),
    doc="MAD robust anomaly screen (#293), the breakdown-proof twin of "
    "the z-score monitor (#92): mean/stddev have breakdown point 0 — "
    "one fat outlier inflates σ and HIDES its peers (masking) — while "
    "median/MAD survive 50% contamination. Flags the Iglewicz-Hoben "
    f"modified z |0.6745(x−med)/MAD| > 3.5, rescaled to {_MAD_NUM}"
    f"·|x−med| > {_MAD_CUT}·MAD so the ENTIRE decision is exact "
    "BIGINT arithmetic — no float enters at any point. Both medians "
    "are discrete lower-medians by the repo's exact spillable "
    "quantile shape (groupBy value + running count, rank = smallest "
    "v with cum ≥ ⌈n/2⌉) — value-domain cells shuffle, never rows. "
    "Scale: two such rank passes + one counting join, all partitioned "
    "by series; the deviation join re-shuffles only (series, cents).",
)
def q_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    def lower_median(df: DataFrame, val: str) -> DataFrame:
        c = df.groupBy("event_type", val).agg(F.count(F.lit(1)).alias("k"))
        wc = (
            Window.partitionBy("event_type")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wn = Window.partitionBy("event_type")
        r = c.select(
            "event_type",
            F.col(val).alias("v"),
            F.sum("k").over(wc).alias("cum"),
            F.sum("k").over(wn).alias("n"),
        )
        # (n+1) div 2, NOT (n+1)/2: Spark `/` on bigints is double
        # division, which shifts the even-n rank by one vs `//`.
        return (
            r.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("event_type")
            .agg(F.min("v").alias("med"))
        )

    med = lower_median(e, "cents")
    dev = e.join(med, "event_type").select(
        "event_type",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
    )
    mad = lower_median(dev, "adev").select(
        "event_type", F.col("med").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("med").cast("bigint").alias("med_cents"),
            F.max("mad").cast("bigint").alias("mad_cents"),
            F.sum(
                F.when(
                    F.lit(_MAD_NUM) * F.col("adev")
                    > F.lit(_MAD_CUT) * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# #305 lead-lag cross-correlation between series
# ---------------------------------------------------------------------------

_CCF_MAXLAG = 3


@query(
    "q_cross_correlation",
    oracle=f"""
        WITH o AS (
            SELECT o_orderpriority AS pri,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS d
            FROM orders
        ),
        days AS (
            SELECT UNNEST(GENERATE_SERIES(mn, mx)) AS d
            FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o)
        ),
        pris AS (SELECT DISTINCT pri FROM o),
        cnt AS (SELECT pri, d, COUNT(*) AS n FROM o GROUP BY 1, 2),
        grid AS MATERIALIZED (
            SELECT p.pri, days.d, COALESCE(cnt.n, 0) AS x
            FROM pris p CROSS JOIN days
            LEFT JOIN cnt ON cnt.pri = p.pri AND cnt.d = days.d
        ),
        lags AS (SELECT UNNEST(RANGE(-{_CCF_MAXLAG}, {_CCF_MAXLAG + 1}))
                     AS lag),
        al AS (
            SELECT a.pri AS pri_a, b.pri AS pri_b, l.lag,
                   a.x AS x, b.x AS y
            FROM grid a
            CROSS JOIN lags l
            JOIN grid b ON b.pri > a.pri AND b.d = a.d + l.lag
        ),
        s AS (
            SELECT pri_a, pri_b, lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sx2,
                   CAST(SUM(y * y) AS BIGINT) AS sy2
            FROM al GROUP BY 1, 2, 3
        )
        SELECT pri_a, pri_b, lag, n,
               CAST(CAST(
                   (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   / SQRT((n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                          * (n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
                   AS DECIMAL(38,9)) AS DOUBLE) AS r
        FROM s
    """,
    operators=(31, 42, 158, 305),
    doc=f"Lead-lag cross-correlation (#305): Pearson r between every "
    "priority pair's daily order-count series at lags "
    f"-{_CCF_MAXLAG}..{_CCF_MAXLAG} — the which-series-LEADS question "
    "(demand spillover, upstream sensors, marketing echo) that "
    "same-day correlation (#158) cannot see; the argmax lag is the "
    "lead time. Day grids are ZERO-COMPLETED before aligning (a "
    "sparse join would correlate only jointly-active days and bias r "
    "upward — the #280/#304 lesson) over the DENSE min..max day "
    "spine, so aligned overlaps shrink by exactly |lag|; counts keep "
    "every moment sum an "
    "exact BIGINT at any SF (revenue cents would push n·Σxy past the "
    "17-digit decimal→double cast-exactness cliff), and r is one "
    "identical IEEE tree quantized at 1e-9. Scale: one rollup to "
    "(series, day) cells; the lag join shifts cell keys, never rows.",
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
    )
    pris = o.select("pri").distinct()
    cnt = o.groupBy("pri", "d").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        pris.crossJoin(days)
        .join(cnt, ["pri", "d"], "left")
        .select("pri", "d", F.coalesce(F.col("n"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # both sides of the lag join
    )
    lags = spark.range(-_CCF_MAXLAG, _CCF_MAXLAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = grid.select(
        F.col("pri").alias("pri_a"), F.col("d").alias("da"), F.col("x").alias("x")
    )
    b = grid.select(
        F.col("pri").alias("pri_b"), F.col("d").alias("db"), F.col("x").alias("y")
    )
    al = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("pri_b") > F.col("pri_a"))
            & (F.col("db") == F.col("da") + F.col("lag")),
        )
    )
    s = al.groupBy("pri_a", "pri_b", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sx2").cast("double")
         - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("n") * F.col("sy2").cast("double")
           - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "pri_a",
        "pri_b",
        "lag",
        "n",
        (num / den).cast("decimal(38,9)").cast("double").alias("r"),
    )


# ---------------------------------------------------------------------------
# #308 watermark-delay audit (out-of-orderness census)
# ---------------------------------------------------------------------------

_WMA_D1_US = 60_000_000    # candidate delay 1: 60 s
_WMA_D2_US = 600_000_000   # candidate delay 2: 10 min


@query(
    "q_watermark_audit",
    oracle=f"""
        WITH e AS (
            SELECT event_id, event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us,
                   EPOCH_US(CAST(ts AS TIMESTAMP))
                   + (CAST(('0x' || SUBSTR(MD5('net:' ||
                          CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 600) * 1000000 AS arrival_us
            FROM events
        ),
        l AS (
            SELECT event_type,
                   MAX(us) OVER (PARTITION BY event_type
                                 ORDER BY arrival_us, event_id
                                 ROWS UNBOUNDED PRECEDING) - us AS late
            FROM e
        ),
        c AS (
            SELECT event_type, late, COUNT(*) AS k FROM l GROUP BY 1, 2
        ),
        r AS (
            SELECT event_type, late,
                   SUM(k) OVER (PARTITION BY event_type ORDER BY late
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(k) OVER (PARTITION BY event_type) AS n
            FROM c
        ),
        q AS (
            SELECT event_type, MAX(n) AS n,
                   MIN(CASE WHEN cum >= (50 * n + 99) // 100
                            THEN late END) AS p50_us,
                   MIN(CASE WHEN cum >= (95 * n + 99) // 100
                            THEN late END) AS p95_us,
                   MIN(CASE WHEN cum >= (99 * n + 99) // 100
                            THEN late END) AS p99_us,
                   MAX(late) AS max_us
            FROM r GROUP BY event_type
        ),
        loss AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN late > {_WMA_D1_US}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_d1,
                   CAST(SUM(CASE WHEN late > {_WMA_D2_US}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_d2
            FROM l GROUP BY event_type
        )
        SELECT q.event_type, CAST(q.n AS BIGINT) AS n,
               CAST(p50_us AS BIGINT) AS p50_us,
               CAST(p95_us AS BIGINT) AS p95_us,
               CAST(p99_us AS BIGINT) AS p99_us,
               CAST(max_us AS BIGINT) AS max_us,
               CAST(CAST(CAST(n_gt_d1 AS DOUBLE) / q.n AS DECIMAL(38,9))
                    AS DOUBLE) AS frac_lost_60s,
               CAST(CAST(CAST(n_gt_d2 AS DOUBLE) / q.n AS DECIMAL(38,9))
                    AS DOUBLE) AS frac_lost_10m
        FROM q JOIN loss ON loss.event_type = q.event_type
    """,
    operators=(31, 48, 54, 308),
    doc="Watermark-delay audit (#308): the out-of-orderness census "
    "that answers 'what withWatermark delay do I actually need' — "
    "the question every streaming team answers by folklore. Arrival "
    "order is event time plus a deterministic md5 network delay "
    "(0–600 s, reproducible from event_id); per topic partition "
    "(event_type), an event's LATENESS is the running max event time "
    "at its arrival minus its own event time — exactly the quantity "
    "a watermark of delay D drops when lateness > D. Emits discrete-"
    "rank p50/p95/p99/max lateness (the exact spillable quantile "
    "shape — value cells + running counts) and the measured loss "
    "fraction at two candidate delays. Everything integer µs until "
    "the two loss ratios. Scale: per-partition windows (watermarks "
    "ARE per-partition mins in Spark), value-cell ranks — no global "
    "sort, no collect.",
)
def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    delay = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("net:"), F.col("event_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 600
    ) * 1_000_000
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).select(
        "event_type", "us", (F.col("us") + delay).alias("arrival_us"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lt = e.select(
        "event_type", (F.max("us").over(w) - F.col("us")).alias("late")
    ).localCheckpoint(eager=True)  # quantiles + loss census reuse it
    c = lt.groupBy("event_type", "late").agg(F.count(F.lit(1)).alias("k"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("late")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "late",
        F.sum("k").over(wc).alias("cum"),
        F.sum("k").over(wn).alias("n"),
    )

    def rank_val(p: int):
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100"),
                F.col("late"),
            )
        )

    q = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        rank_val(50).cast("bigint").alias("p50_us"),
        rank_val(95).cast("bigint").alias("p95_us"),
        rank_val(99).cast("bigint").alias("p99_us"),
        F.max("late").cast("bigint").alias("max_us"),
    )
    loss = lt.groupBy("event_type").agg(
        F.sum(F.when(F.col("late") > _WMA_D1_US, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gt_d1"),
        F.sum(F.when(F.col("late") > _WMA_D2_US, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gt_d2"),
    )
    return q.join(loss, "event_type").select(
        "event_type",
        "n",
        "p50_us",
        "p95_us",
        "p99_us",
        "max_us",
        (F.col("n_gt_d1").cast("double") / F.col("n"))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("frac_lost_60s"),
        (F.col("n_gt_d2").cast("double") / F.col("n"))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("frac_lost_10m"),
    )


# ---------------------------------------------------------------------------
# #318 dispersion index (Poisson vs negative-binomial diagnostic)
# ---------------------------------------------------------------------------


@query(
    "q_dispersion_index",
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
        grid AS (
            SELECT t.event_type, days.d, COALESCE(cnt.n, 0) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sx2
            FROM grid GROUP BY event_type
        )
        SELECT event_type, n_days,
               CAST(CAST(CAST(sx AS DOUBLE) / n_days
                         AS DECIMAL(38,9)) AS DOUBLE) AS mean_per_day,
               CAST(CAST(
                   (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n_days)
                   / (n_days - 1) / (CAST(sx AS DOUBLE) / n_days)
                   AS DECIMAL(38,9)) AS DOUBLE) AS dispersion,
               CAST((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n_days)
                   / (n_days - 1) / (CAST(sx AS DOUBLE) / n_days) > 1.5
                   AS INT) AS overdispersed
        FROM s
    """,
    operators=(24, 31, 318),
    doc="Dispersion index (#318): per-series variance-to-mean ratio "
    "of daily event counts over the DENSE zero-completed day grid — "
    "the count-data diagnostic that decides Poisson vs negative-"
    "binomial modeling (Poisson forces var = mean; real arrival data "
    "is almost always overdispersed, and rate-limit/anomaly "
    "thresholds sized under a Poisson assumption fire constantly "
    "when it is). Flagged at ratio > 1.5. Moments are exact BIGINTs "
    "on integer counts; the ratio is one identical IEEE tree at "
    "1e-9. Scale: one rollup to (series, day) cells, then "
    "|series|-row algebra — the #305 grid discipline.",
)
def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            "event_type", "d", F.coalesce(F.col("n"), F.lit(0)).alias("x")
        )
    )
    s = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    mean = F.col("sx").cast("double") / F.col("n_days")
    disp = (
        (F.col("sx2").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n_days"))
        / (F.col("n_days") - 1)
        / mean
    )
    return s.select(
        "event_type",
        "n_days",
        mean.cast("decimal(38,9)").cast("double").alias("mean_per_day"),
        disp.cast("decimal(38,9)").cast("double").alias("dispersion"),
        (disp > 1.5).cast("int").alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# #322 Mann-Kendall trend test (rank-based, the robust trend detector)
# ---------------------------------------------------------------------------


@query(
    "q_mann_kendall",
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
            SELECT t.event_type, days.d, COALESCE(cnt.n, 0) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        sstat AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                 WHEN b.x < a.x THEN -1 ELSE 0 END)
                        AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM grid a JOIN grid b
              ON b.event_type = a.event_type AND b.d > a.d
            GROUP BY a.event_type
        ),
        nn AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM grid
            GROUP BY event_type
        ),
        ties AS (
            SELECT event_type,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
            FROM (SELECT event_type, x, COUNT(*) AS t FROM grid
                  GROUP BY event_type, x)
            GROUP BY event_type
        )
        SELECT s.event_type, nn.n, s.s,
               CAST(CAST(
                   (CAST(s.s AS DOUBLE)
                    - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1
                           ELSE 0 END)
                   / SQRT((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                           - ties.tie_corr) / 18)
                   AS DECIMAL(38,9)) AS DOUBLE) AS z,
               CAST(ABS((CAST(s.s AS DOUBLE)
                    - CASE WHEN s.s > 0 THEN 1 WHEN s.s < 0 THEN -1
                           ELSE 0 END)
                   / SQRT((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                           - ties.tie_corr) / 18)) > 1.96 AS INT)
                   AS trending
        FROM sstat s
        JOIN nn ON nn.event_type = s.event_type
        JOIN ties ON ties.event_type = s.event_type
    """,
    operators=(23, 31, 92, 322),
    doc="Mann-Kendall trend test (#322) per daily-count series: "
    "S = Σ sign(x_j − x_i) over all day pairs — the rank-based trend "
    "detector that needs NO linearity or distribution assumption "
    "(the standard in environmental/ops monitoring; an OLS slope "
    "(#158) is dragged by one outlier day, a sign count is not), "
    "with the tie-corrected normal approximation z = (S ∓ 1)/σ and "
    "a |z| > 1.96 trend flag. S, the tie correction Σt(t−1)(2t+5), "
    "and all counts are exact BIGINTs over the dense zero-completed "
    "grid; z is one identical IEEE tree at 1e-9. Scale: the pair "
    "join runs on (series, day) CELLS (≈ thousands), never rows — "
    "the #305 grid discipline; for decade-long grids use the "
    "O(n log n) rank formulation instead.",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .select("event_type", "d", F.coalesce(F.col("n"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # pair join + ties + n reuse it
    )
    a = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"),
        F.col("x").alias("xa"),
    )
    b = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("db"),
        F.col("x").alias("xb"),
    )
    sstat = (
        a.join(b, ["et"])
        .filter(F.col("db") > F.col("da"))
        .groupBy("et")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ties = (
        grid.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_corr")
        )
    )
    sgn = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    var = (
        F.col("n").cast("double")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
        - F.col("tie_corr")
    ) / 18
    z = (F.col("s").cast("double") - sgn) / F.sqrt(var)
    return (
        sstat.withColumnRenamed("et", "event_type")
        .join(nn, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n",
            "s",
            z.cast("decimal(38,9)").cast("double").alias("z"),
            (F.abs(z) > 1.96).cast("int").alias("trending"),
        )
    )


# ---------------------------------------------------------------------------
# #331 Holt linear (level+trend) exponential smoothing
# ---------------------------------------------------------------------------


@query(
    "q_holt_linear",
    oracle="""
        WITH RECURSIVE d AS (
            SELECT event_type,
                   DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day
            FROM events
        ),
        a AS (
            SELECT event_type, day, CAST(COUNT(*) AS DOUBLE) AS y
            FROM d GROUP BY 1, 2
        ),
        b AS (
            SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
            FROM d GROUP BY 1
        ),
        g AS (
            SELECT event_type,
                   UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS day
            FROM b
        ),
        grid AS (
            SELECT g.event_type,
                   CAST(DATE_DIFF('day', b.d0, g.day) AS BIGINT) AS t,
                   COALESCE(a.y, CAST(0 AS DOUBLE)) AS y
            FROM g JOIN b USING (event_type)
            LEFT JOIN a USING (event_type, day)
        ),
        mt AS (SELECT event_type, MAX(t) AS mt FROM grid GROUP BY 1),
        hw AS (
            SELECT event_type, t, y AS l, CAST(0 AS DOUBLE) AS b,
                   CAST(0 AS DOUBLE) AS sse
            FROM grid WHERE t = 0
            UNION ALL
            SELECT h.event_type, h.t + 1,
                   CAST(0.3 AS DOUBLE) * g.y
                       + CAST(0.7 AS DOUBLE) * (h.l + h.b),
                   CAST(0.1 AS DOUBLE)
                       * (CAST(0.3 AS DOUBLE) * g.y
                          + CAST(0.7 AS DOUBLE) * (h.l + h.b) - h.l)
                       + CAST(0.9 AS DOUBLE) * h.b,
                   h.sse + (g.y - (h.l + h.b)) * (g.y - (h.l + h.b))
            FROM hw h
            JOIN grid g ON g.event_type = h.event_type AND g.t = h.t + 1
        )
        SELECT h.event_type,
               CAST(m.mt + 1 AS BIGINT) AS n_days,
               CAST(CAST(h.l AS DECIMAL(38,9)) AS DOUBLE) AS level,
               CAST(CAST(h.b AS DECIMAL(38,9)) AS DOUBLE) AS trend,
               CAST(CAST(h.l + CAST(7 AS DOUBLE) * h.b AS DECIMAL(38,9))
                    AS DOUBLE) AS forecast_7d,
               CAST(CAST(h.sse AS DECIMAL(38,6)) AS DOUBLE) AS sse
        FROM hw h JOIN mt m ON m.event_type = h.event_type AND h.t = m.mt
        ORDER BY h.event_type
    """,
    operators=(44, 87, 331),
    doc="Holt linear exponential smoothing (#331): per event_type, the "
    "level+trend recursion l_t = a*y_t + (1-a)(l+b), "
    "b_t = beta*(l_t - l) + (1-beta)*b over the zero-filled daily "
    "grid (a=0.3, beta=0.1, l_0=y_0, b_0=0), emitting final state, "
    "the 7-day-ahead forecast l + 7b, and the one-step-ahead SSE — "
    "the adaptive-forecast companion to the seasonal-naive backtest "
    "(#238) and MA decomposition (#275). The recursion is inherently "
    "sequential IN TIME but the series are independent: Spark folds "
    "each key's ordered value array in ONE aggregate() pass (state "
    "struct (l, b, sse), pure-double left fold — bit-identical to "
    "DuckDB's recursive-CTE unroll because both walk t ascending "
    "with the same IEEE expression tree; the #273 kmeans fold "
    "discipline). Scale: series count parallelizes across executors; "
    "per-series state is 3 doubles; the array length is the TIME "
    "span (fixture: 30 days), not the row count — the daily rollup "
    "shrinks data before any collect_list.",
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day")
    )
    agg = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    bounds = e.groupBy("event_type").agg(
        F.min("day").alias("h0"), F.max("day").alias("h1")
    )
    filled = TS.gapfill(
        agg, bounds, "event_type", "day", "1 day", fills={"y": F.lit(0.0)}
    )
    grid = filled.join(bounds, "event_type").select(
        "event_type",
        F.datediff("day", "h0").cast("long").alias("t"),
        "y",
    )
    series = grid.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "y"))), lambda s: s["y"]
        ).alias("ys")
    )
    a, one_a, bt, one_bt = (
        F.lit(0.3),
        F.lit(0.7),
        F.lit(0.1),
        F.lit(0.9),
    )

    def step(acc, y):
        newl = a * y + one_a * (acc["l"] + acc["b"])
        return F.struct(
            newl.alias("l"),
            (bt * (newl - acc["l"]) + one_bt * acc["b"]).alias("b"),
            (
                acc["sse"]
                + (y - (acc["l"] + acc["b"])) * (y - (acc["l"] + acc["b"]))
            ).alias("sse"),
        )

    init = F.struct(
        F.element_at("ys", 1).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("sse"),
    )
    folded = series.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        F.aggregate(
            F.slice("ys", 2, F.greatest(F.size("ys") - 1, F.lit(0))),
            init,
            step,
        ).alias("st"),
    )

    def q9(c):
        return c.cast("decimal(38,9)").cast("double")

    return folded.select(
        "event_type",
        "n_days",
        q9(F.col("st.l")).alias("level"),
        q9(F.col("st.b")).alias("trend"),
        q9(F.col("st.l") + F.lit(7.0) * F.col("st.b")).alias("forecast_7d"),
        F.col("st.sse").cast("decimal(38,6)").cast("double").alias("sse"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #342 theil_sen — median-of-pairwise-slopes robust trend
# ---------------------------------------------------------------------------

_TS_GRID_SQL = """
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
            SELECT t.event_type, days.d, COALESCE(cnt.n, 0) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        )
"""


@query(
    "q_theil_sen",
    oracle=f"""
        WITH {_TS_GRID_SQL},
        sl AS (
            SELECT a.event_type,
                   CAST(b.x - a.x AS DOUBLE) / (b.d - a.d) AS slope
            FROM grid a JOIN grid b
              ON b.event_type = a.event_type AND b.d > a.d
        ),
        rk AS (
            SELECT event_type, slope,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY slope) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS m
            FROM sl
        ),
        med AS (
            SELECT event_type,
                   CAST(SUM(CAST(slope AS DECIMAL(38,18))) AS DOUBLE)
                       / COUNT(*) AS theil_sen,
                   ANY_VALUE(m) AS n_pairs
            FROM rk
            WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
            GROUP BY event_type
        ),
        ols AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(d) AS BIGINT) AS sd,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(d * x) AS BIGINT) AS sdx,
                   CAST(SUM(d * d) AS BIGINT) AS sd2
            FROM grid GROUP BY event_type
        )
        SELECT m.event_type, o.n AS n_days, m.n_pairs,
               ROUND(m.theil_sen, 9) AS theil_sen,
               ROUND((o.n * CAST(o.sdx AS DOUBLE) - CAST(o.sd AS DOUBLE) * o.sx)
                     / (o.n * CAST(o.sd2 AS DOUBLE)
                        - CAST(o.sd AS DOUBLE) * o.sd), 9) AS ols_slope
        FROM med m JOIN ols o ON o.event_type = m.event_type
        ORDER BY m.event_type
    """,
    operators=(23, 31, 158, 342),
    doc="Theil–Sen robust trend (#342) per daily-count series: the "
    "MEDIAN of all pairwise slopes (x_j - x_i)/(j - i) over the "
    "zero-completed day grid — the estimator with a 29% breakdown "
    "point that one outlier day cannot drag (the magnitude companion "
    "to Mann-Kendall's #322 sign test; the OLS slope ships alongside "
    "for the contrast). Exact median: slopes are identical IEEE "
    "divisions of BIGINT cells on both engines, the rank window "
    "selects positions (m+1)//2 and (m+2)//2 of the sorted multiset "
    "(equal for odd m; ties across DIFFERENT pairs carry equal "
    "values, so engine sort order cannot change the selected "
    "values), and their mean goes through one DECIMAL(38,18) sum. "
    "OLS derives from exact integer moments. Scale: the pair join "
    "runs on (series, day) CELLS like #322 — thousands of rows; for "
    "decade grids switch to the randomized O(n log n) "
    "median-of-slopes selection.",
    bench=False,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .select("event_type", "d", F.coalesce(F.col("n"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # pair join + OLS moments reuse it
    )
    a = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"),
        F.col("x").alias("xa"),
    )
    b = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("db"),
        F.col("x").alias("xb"),
    )
    sl = (
        a.join(b, (a.et == b.et) & (F.col("db") > F.col("da")))
        .select(
            a.et.alias("event_type"),
            (
                (F.col("xb") - F.col("xa")).cast("double")
                / (F.col("db") - F.col("da"))
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    rk = sl.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("m"),
    )
    med = (
        rk.filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("slope").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("theil_sen"),
            F.first("m").cast("bigint").alias("n_pairs"),
        )
    )
    ols = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("d") * F.col("x")).cast("bigint").alias("sdx"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sd2"),
    )
    ols_slope = (
        F.col("n") * F.col("sdx").cast("double")
        - F.col("sd").cast("double") * F.col("sx")
    ) / (
        F.col("n") * F.col("sd2").cast("double")
        - F.col("sd").cast("double") * F.col("sd")
    )
    return (
        med.join(ols, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "n_pairs",
            F.round("theil_sen", 9).alias("theil_sen"),
            F.round(ols_slope, 9).alias("ols_slope"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# #343 acf_ljung_box — autocorrelation function + portmanteau test
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7
# chi-square 0.95 quantiles for df = 1..7 (public constants)
_ACF_CHI2_95 = (
    "3.841458820694124, 5.991464547107979, 7.814727903251179, "
    "9.487729036781154, 11.070497693516351, 12.591587243743977, "
    "14.067140449340169"
)


@query(
    "q_acf_ljung_box",
    oracle=f"""
        WITH {_TS_GRID_SQL},
        mu AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sx2
            FROM grid GROUP BY event_type
        ),
        dm AS (
            SELECT g.event_type, g.d,
                   g.x - CAST(m.sx AS DOUBLE) / m.n AS e
            FROM grid g JOIN mu m ON m.event_type = g.event_type
        ),
        den AS (
            SELECT event_type,
                   CAST(SUM(CAST(e * e AS DECIMAL(38,18))) AS DOUBLE) AS s0
            FROM dm GROUP BY event_type
        ),
        lags AS (SELECT UNNEST(GENERATE_SERIES(1, {_ACF_MAX_LAG})) AS k),
        num AS (
            SELECT a.event_type, l.k,
                   CAST(SUM(CAST(a.e * b.e AS DECIMAL(38,18))) AS DOUBLE) AS sk
            FROM lags l
            JOIN dm a ON TRUE
            JOIN dm b ON b.event_type = a.event_type AND b.d = a.d + l.k
            GROUP BY a.event_type, l.k
        ),
        r AS (
            SELECT n.event_type, n.k, n.sk / d.s0 AS rk, m.n
            FROM num n
            JOIN den d ON d.event_type = n.event_type
            JOIN mu m ON m.event_type = n.event_type
        ),
        q AS (
            SELECT event_type, k, rk, n,
                   n * (n + 2)
                   * CAST(SUM(CAST(rk * rk / (n - k) AS DECIMAL(38,18)))
                          OVER (PARTITION BY event_type ORDER BY k)
                          AS DOUBLE) AS q_stat
            FROM r
        ),
        crit AS (
            SELECT k, c
            FROM (SELECT UNNEST(GENERATE_SERIES(1, {_ACF_MAX_LAG})) AS k),
                 LATERAL (SELECT ([{_ACF_CHI2_95}])[k] AS c)
        )
        SELECT q.event_type, q.k,
               ROUND(q.rk, 9) AS acf,
               ROUND(q.q_stat, 9) AS ljung_box_q,
               CAST(q.q_stat > c.c AS INT) AS autocorrelated
        FROM q JOIN crit c ON c.k = q.k
        ORDER BY q.event_type, q.k
    """,
    operators=(23, 31, 32, 343),
    doc=f"Autocorrelation function + Ljung-Box portmanteau test "
    f"(#343) per daily-count series: r_k for lags 1..{_ACF_MAX_LAG} "
    "over the zero-completed, mean-centered day grid, the cumulative "
    "Q = n(n+2)·Σ r_j²/(n−j), and a 5% chi-square flag per lag — "
    "the is-this-series-white-noise gate that decides whether "
    "forecasting (#238/#331) is even worth running, and the "
    "residual-diagnostics standard after any fit. Parity: the mean "
    "is one exact-integer-sum division; per-cell products are "
    "identical IEEE trees summed through DECIMAL(38,18); the "
    "cumulative Q reuses the same decimal window sum; chi-square "
    "critical values are shared literals. Scale: the lag join runs "
    "on (series, day) cells × 7 lags — thousands of rows; at decade "
    "scale the lag join stays linear because k is bounded.",
    bench=False,
)
def q_acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .select("event_type", "d", F.coalesce(F.col("n"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # moments + lag join reuse it
    )
    mu = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    dm = grid.join(mu, "event_type").select(
        "event_type",
        "d",
        "n",
        (F.col("x") - F.col("sx").cast("double") / F.col("n")).alias("e"),
    )
    dec = "decimal(38,18)"
    den = dm.groupBy("event_type").agg(
        F.sum((F.col("e") * F.col("e")).cast(dec)).cast("double").alias("s0")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("k")
    )
    a = dm.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"),
        F.col("e").alias("ea"),
    )
    b = dm.select(
        F.col("event_type").alias("et"), F.col("d").alias("db"),
        F.col("e").alias("eb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (a.et == b.et) & (F.col("db") == F.col("da") + F.col("k")),
        )
        .groupBy(a.et.alias("event_type"), "k")
        .agg(
            F.sum((F.col("ea") * F.col("eb")).cast(dec))
            .cast("double")
            .alias("sk")
        )
    )
    r = num.join(den, "event_type").join(mu, "event_type").select(
        "event_type", "k", (F.col("sk") / F.col("s0")).alias("rk"), "n"
    )
    wq = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = r.withColumn(
        "q_stat",
        F.col("n")
        * (F.col("n") + 2)
        * F.sum(
            (F.col("rk") * F.col("rk") / (F.col("n") - F.col("k"))).cast(dec)
        )
        .over(wq)
        .cast("double"),
    )
    crit_vals = [float(v) for v in _ACF_CHI2_95.split(",")]
    crit = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(crit_vals)], "k INT, c DOUBLE"
    )
    return (
        q.join(F.broadcast(crit), "k")
        .select(
            "event_type",
            "k",
            F.round("rk", 9).alias("acf"),
            F.round("q_stat", 9).alias("ljung_box_q"),
            (F.col("q_stat") > F.col("c")).cast("int").alias("autocorrelated"),
        )
        .orderBy("event_type", "k")
    )


# ---------------------------------------------------------------------------
# #344 ewma_chart — EWMA control chart with exact-variance limits
# ---------------------------------------------------------------------------


@query(
    "q_ewma_chart",
    oracle="""
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
                   CAST(COALESCE(cnt.n, 0) AS DOUBLE) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        mom AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS BIGINT)) AS BIGINT) AS sx,
                   CAST(SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS BIGINT)
                       AS sx2
            FROM grid GROUP BY event_type
        ),
        par AS (
            SELECT event_type, n,
                   CAST(sx AS DOUBLE) / n AS mu,
                   SQRT((CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx / n) / n) AS sigma
            FROM mom
        ),
        ch AS (
            SELECT p.event_type, CAST(-1 AS BIGINT) AS t, p.mu AS z,
                   CAST(1 AS DOUBLE) AS c, CAST(0 AS BIGINT) AS n_ooc,
                   CAST(-1 AS BIGINT) AS first_t
            FROM par p
            UNION ALL
            SELECT h.event_type, h.t + 1,
                   CAST(0.2 AS DOUBLE) * g.x + CAST(0.8 AS DOUBLE) * h.z,
                   h.c * CAST(0.64 AS DOUBLE),
                   h.n_ooc + CAST(
                       ABS(CAST(0.2 AS DOUBLE) * g.x
                           + CAST(0.8 AS DOUBLE) * h.z - p.mu)
                       > 3 * p.sigma
                         * SQRT(CAST(0.2 AS DOUBLE) / CAST(1.8 AS DOUBLE)
                                * (1 - h.c * CAST(0.64 AS DOUBLE)))
                       AS BIGINT),
                   CASE WHEN h.first_t >= 0 THEN h.first_t
                        WHEN ABS(CAST(0.2 AS DOUBLE) * g.x
                                 + CAST(0.8 AS DOUBLE) * h.z - p.mu)
                             > 3 * p.sigma
                               * SQRT(CAST(0.2 AS DOUBLE)
                                      / CAST(1.8 AS DOUBLE)
                                      * (1 - h.c * CAST(0.64 AS DOUBLE)))
                        THEN h.t + 1 ELSE CAST(-1 AS BIGINT) END
            FROM ch h
            JOIN grid g ON g.event_type = h.event_type AND g.t = h.t + 1
            JOIN par p ON p.event_type = h.event_type
        )
        SELECT c.event_type, p.n AS n_days, c.n_ooc, c.first_t AS first_ooc_t,
               CAST(CAST(c.z AS DECIMAL(38,9)) AS DOUBLE) AS final_ewma,
               CAST(CAST(p.sigma AS DECIMAL(38,9)) AS DOUBLE) AS sigma
        FROM ch c
        JOIN par p ON p.event_type = c.event_type AND c.t = p.n - 1
        ORDER BY c.event_type
    """,
    operators=(44, 87, 92, 344),
    doc="EWMA control chart (#344) per daily-count series: "
    "z_t = 0.2·x_t + 0.8·z_(t-1) seeded at the series mean, flagged "
    "against the EXACT time-varying limits mu ± 3·sigma·sqrt(lam/"
    "(2-lam)·(1-(1-lam)^(2t))) — the small-shift detector that beats "
    "Shewhart/z-score charts (#92) on sub-sigma drifts and "
    "complements CUSUM (#237); emits violations, first alarm time, "
    "and final state. Parity: the variance-inflation term "
    "(1-lam)^(2t) is carried RECURSIVELY in the fold state "
    "(c' = c·0.64) so no engine-specific pow() enters the tree — "
    "every step is mul/add/sqrt of identical operands (the #331 "
    "fold discipline); mean and sigma derive from exact integer "
    "moments. Scale: series parallelize; per-series state is two "
    "doubles + counters; the fold length is the time span after the "
    "daily rollup, not the row count.",
    bench=False,
)
def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("xi"),
        )
    )
    series = grid.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "xi"))),
            lambda s: s["xi"].cast("double"),
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sx2"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(
        (
            F.col("sx2").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        )
        / F.col("n")
    )
    par = series.select("event_type", "ys", "n", mu.alias("mu"),
                        sigma.alias("sigma"))

    def step(acc, x):
        z_new = F.lit(0.2) * x + F.lit(0.8) * acc["z"]
        c_new = acc["c"] * F.lit(0.64)
        half = (
            F.lit(3.0)
            * F.col("sigma")
            * F.sqrt(F.lit(0.2) / F.lit(1.8) * (F.lit(1.0) - c_new))
        )
        ooc = F.abs(z_new - F.col("mu")) > half
        t_new = acc["t"] + F.lit(1).cast("bigint")
        return F.struct(
            z_new.alias("z"),
            c_new.alias("c"),
            (acc["n_ooc"] + ooc.cast("bigint")).alias("n_ooc"),
            F.when(acc["first_t"] >= 0, acc["first_t"])
            .when(ooc, t_new)
            .otherwise(F.lit(-1).cast("bigint"))
            .alias("first_t"),
            t_new.alias("t"),
        )

    init = F.struct(
        F.col("mu").alias("z"),
        F.lit(1.0).alias("c"),
        F.lit(0).cast("bigint").alias("n_ooc"),
        F.lit(-1).cast("bigint").alias("first_t"),
        F.lit(-1).cast("bigint").alias("t"),
    )
    folded = par.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.aggregate("ys", init, step).alias("st"),
        "sigma",
    )
    return folded.select(
        "event_type",
        "n_days",
        F.col("st.n_ooc").alias("n_ooc"),
        F.col("st.first_t").alias("first_ooc_t"),
        F.col("st.z").cast("decimal(38,9)").cast("double").alias("final_ewma"),
        F.col("sigma").cast("decimal(38,9)").cast("double").alias("sigma"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #352 page_hinkley — sequential mean-shift drift test
# ---------------------------------------------------------------------------

_PH_DELTA = "0.1"   # insensitivity margin (shared literal)
_PH_LAMBDA = "15"   # alarm threshold (shared literal)


@query(
    "q_page_hinkley",
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
                   CAST(COALESCE(cnt.n, 0) AS DOUBLE) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM grid
               GROUP BY event_type),
        ph AS (
            SELECT g.event_type, CAST(0 AS BIGINT) AS t,
                   g.x AS mean, CAST(0 AS DOUBLE) AS u,
                   CAST(0 AS DOUBLE) AS minu,
                   CAST(0 AS BIGINT) AS n_alarms,
                   CAST(-1 AS BIGINT) AS first_t
            FROM grid g WHERE g.t = 0
            UNION ALL
            SELECT h.event_type, h.t + 1,
                   h.mean + (g.x - h.mean) / (h.t + 2),
                   h.u + (g.x - (h.mean + (g.x - h.mean) / (h.t + 2))
                          - CAST({_PH_DELTA} AS DOUBLE)),
                   LEAST(h.minu,
                         h.u + (g.x - (h.mean + (g.x - h.mean) / (h.t + 2))
                                - CAST({_PH_DELTA} AS DOUBLE))),
                   h.n_alarms + CAST(
                       h.u + (g.x - (h.mean + (g.x - h.mean) / (h.t + 2))
                              - CAST({_PH_DELTA} AS DOUBLE)) - h.minu
                       > CAST({_PH_LAMBDA} AS DOUBLE) AS BIGINT),
                   CASE WHEN h.first_t >= 0 THEN h.first_t
                        WHEN h.u + (g.x - (h.mean + (g.x - h.mean) / (h.t + 2))
                                    - CAST({_PH_DELTA} AS DOUBLE)) - h.minu
                             > CAST({_PH_LAMBDA} AS DOUBLE)
                        THEN h.t + 1 ELSE CAST(-1 AS BIGINT) END
            FROM ph h
            JOIN grid g ON g.event_type = h.event_type AND g.t = h.t + 1
        )
        SELECT p.event_type, n.n AS n_days, p.n_alarms,
               p.first_t AS first_alarm_t,
               CAST(CAST(p.u - p.minu AS DECIMAL(38,9)) AS DOUBLE)
                   AS final_ph_stat
        FROM ph p JOIN nn n ON n.event_type = p.event_type AND p.t = n.n - 1
        ORDER BY p.event_type
    """,
    operators=(44, 87, 92, 352),
    doc=f"Page–Hinkley test (#352) per daily-count series: the "
    "sequential mean-INCREASE detector — cumulative deviation "
    "U_t = Σ(x_i − mean_i − δ) against its running minimum, alarm "
    f"when U_t − min U > λ (δ={_PH_DELTA}, λ={_PH_LAMBDA}) — the "
    "classical change-point monitor beside CUSUM (#237) and the "
    "batch twin of the streaming drift gate (#281), standard in "
    "online-ML drift detection. The running mean is carried "
    "RECURSIVELY (mean += (x−mean)/(t+2)) like the EWMA chart's "
    "variance term (#344), so every step is the same IEEE tree on "
    "both engines; the fold emits violations, first alarm time and "
    "the final PH statistic at 1e-9. Scale: one fold per series "
    "over the daily rollup; state is three doubles + counters.",
    bench=False,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("x"),
        )
    )
    series = grid.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))), lambda s: s["x"]
        ).alias("ys")
    )
    delta = F.lit(float(_PH_DELTA))
    lam = F.lit(float(_PH_LAMBDA))

    def step(acc, x):
        t_new = acc["t"] + F.lit(1).cast("bigint")
        mean_new = acc["mean"] + (x - acc["mean"]) / (acc["t"] + 2)
        u_new = acc["u"] + (x - mean_new - delta)
        minu_new = F.least(acc["minu"], u_new)
        alarm = (u_new - acc["minu"]) > lam
        return F.struct(
            t_new.alias("t"),
            mean_new.alias("mean"),
            u_new.alias("u"),
            minu_new.alias("minu"),
            (acc["n_alarms"] + alarm.cast("bigint")).alias("n_alarms"),
            F.when(acc["first_t"] >= 0, acc["first_t"])
            .when(alarm, t_new)
            .otherwise(F.lit(-1).cast("bigint"))
            .alias("first_t"),
        )

    init = F.struct(
        F.lit(0).cast("bigint").alias("t"),
        F.element_at("ys", 1).alias("mean"),
        F.lit(0.0).alias("u"),
        F.lit(0.0).alias("minu"),
        F.lit(0).cast("bigint").alias("n_alarms"),
        F.lit(-1).cast("bigint").alias("first_t"),
    )
    folded = series.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        F.aggregate(
            F.slice("ys", 2, F.greatest(F.size("ys") - 1, F.lit(0))),
            init,
            step,
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.col("st.n_alarms").alias("n_alarms"),
        F.col("st.first_t").alias("first_alarm_t"),
        (F.col("st.u") - F.col("st.minu"))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("final_ph_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #356 pinball_loss — quantile-forecast evaluation
# ---------------------------------------------------------------------------

_PIN_QS = ("0.1", "0.5", "0.9")


@query(
    "q_pinball_loss",
    oracle=f"""
        WITH d AS (
            SELECT event_type,
                   DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS dd,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ),
        fc AS (
            SELECT event_type, dd, cents,
                   LAG(cents, 7) OVER (PARTITION BY event_type
                                       ORDER BY dd) AS fcast
            FROM d
        ),
        err AS (
            SELECT f.event_type, CAST(q.q AS DOUBLE) AS q,
                   CASE WHEN f.cents >= f.fcast
                        THEN CAST(q.q AS DOUBLE) * (f.cents - f.fcast)
                        ELSE (CAST(q.q AS DOUBLE) - 1) * (f.cents - f.fcast)
                   END AS loss
            FROM fc f
            CROSS JOIN (SELECT UNNEST([{", ".join(_PIN_QS)}]) AS q) q
            WHERE f.fcast IS NOT NULL
        )
        SELECT event_type, q,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(loss AS DECIMAL(38,9))) AS DOUBLE)
                     / COUNT(*), 9) AS mean_pinball
        FROM err
        GROUP BY event_type, q
        ORDER BY event_type, q
    """,
    operators=(31, 238, 356),
    doc="Pinball (quantile) loss (#356): the seasonal-naive backtest "
    "(#238) re-evaluated as a QUANTILE forecast at q = 0.1/0.5/0.9 — "
    "L_q(y, f) = q(y-f) if y >= f else (q-1)(y-f) — the scoring rule "
    "that makes quantile forecasts comparable (M5-competition "
    "standard) and the eval half of every P90-capacity or "
    "safety-stock forecast; at q=0.5 it is half the MAE, so the "
    "column doubles as the robust-error twin of #238's MAPE. Losses "
    "are single IEEE products of exact integer cent differences, "
    "summed through DECIMAL(38,9) with one ROUND(9). Scale: one "
    "window over the daily rollup, 3x quantile fan-out, one "
    "aggregate — identical plan shape to #238.",
    bench=False,
)
def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("dd")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("dd")
    fc = d.withColumn("fcast", F.lag("cents", 7).over(w)).filter(
        F.col("fcast").isNotNull()
    )
    qs = spark.createDataFrame([(float(q),) for q in _PIN_QS], "q DOUBLE")
    diff = F.col("cents") - F.col("fcast")
    loss = F.when(
        F.col("cents") >= F.col("fcast"), F.col("q") * diff
    ).otherwise((F.col("q") - 1) * diff)
    return (
        fc.crossJoin(F.broadcast(qs))
        .select("event_type", "q", loss.alias("loss"))
        .groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("loss").cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_pinball"),
        )
        .orderBy("event_type", "q")
    )


# ---------------------------------------------------------------------------
# #388 forecast_mase — scale-free forecast accuracy (M4 standard)
# ---------------------------------------------------------------------------


@query(
    "q_forecast_mase",
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
        er AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN a.t >= 7
                                 THEN ABS(a.x - l1.x) ELSE 0 END) AS BIGINT)
                       AS ae_lag1,
                   CAST(SUM(CASE WHEN a.t >= 7
                                 THEN ABS(a.x - l7.x) ELSE 0 END) AS BIGINT)
                       AS ae_snaive,
                   CAST(SUM(CASE WHEN a.t >= 7 THEN 1 ELSE 0 END) AS BIGINT)
                       AS m
            FROM grid a
            JOIN grid l1 ON l1.event_type = a.event_type
                        AND l1.t = a.t - 1
            JOIN grid l7 ON l7.event_type = a.event_type
                        AND l7.t = a.t - 7
            GROUP BY a.event_type
        )
        SELECT event_type, m AS n_scored,
               ROUND(CAST(ae_lag1 AS DOUBLE) / m, 9) AS mae_lag1,
               ROUND(CAST(ae_snaive AS DOUBLE) / m, 9) AS mae_snaive,
               ROUND(CAST(ae_lag1 AS DOUBLE) / ae_snaive, 9) AS mase_lag1,
               CAST(ae_lag1 < ae_snaive AS INT) AS lag1_beats_seasonal
        FROM er
        ORDER BY event_type
    """,
    operators=(13, 23, 238, 388),
    doc="MASE (#388, Hyndman-Koehler / M4 standard): the scale-free "
    "forecast error that makes accuracy COMPARABLE across series of "
    "different volumes — here the lag-1 naive scored against the "
    "weekly seasonal-naive denominator on the same holdout steps "
    "(t >= 7, both forecasters defined): MASE < 1 means the "
    "candidate beats the seasonal benchmark, the go/no-go gate "
    "pinball loss (#356) and backtests (#238) report in absolute "
    "units that can't cross series. Parity: absolute errors of "
    "integer counts are exact BIGINTs; two divisions at ROUND(9). "
    "Scale: two bounded lag joins on the zero-completed grid.",
    bench=False,
)
def q_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    a = grid.select("event_type", "t", F.col("x").alias("xa"))
    l1 = grid.select(
        "event_type", (F.col("t") + 1).alias("t"), F.col("x").alias("x1")
    )
    l7 = grid.select(
        "event_type", (F.col("t") + 7).alias("t"), F.col("x").alias("x7")
    )
    er = (
        a.join(l1, ["event_type", "t"])
        .join(l7, ["event_type", "t"])
        .groupBy("event_type")
        .agg(
            F.sum(F.abs(F.col("xa") - F.col("x1")))
            .cast("bigint")
            .alias("ae_lag1"),
            F.sum(F.abs(F.col("xa") - F.col("x7")))
            .cast("bigint")
            .alias("ae_snaive"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
    )
    return er.select(
        "event_type",
        F.col("m").alias("n_scored"),
        F.round(F.col("ae_lag1").cast("double") / F.col("m"), 9).alias(
            "mae_lag1"
        ),
        F.round(F.col("ae_snaive").cast("double") / F.col("m"), 9).alias(
            "mae_snaive"
        ),
        F.round(
            F.col("ae_lag1").cast("double") / F.col("ae_snaive"), 9
        ).alias("mase_lag1"),
        (F.col("ae_lag1") < F.col("ae_snaive"))
        .cast("int")
        .alias("lag1_beats_seasonal"),
    ).orderBy("event_type")
