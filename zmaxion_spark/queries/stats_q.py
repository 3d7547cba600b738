"""Statistical / interchange operators — SURVEY.md §2.16 (#158–#161).

Round-3 third wave: the built-in statistical aggregate family
(regression + distribution moments), LOCF gap-fill, the XML
semi-structured interchange path, and hashing-trick feature
vectorization. All pure DataFrame algebra with DuckDB oracle pairs.

Parity disciplines specific to this module:

- ``regr_*``/``corr`` accumulate co-moments in a merge-order-dependent
  double tree, so both sides quantize through DECIMAL(38,9) (``_r9``) —
  the drift is last-ulp and the correctly-rounded decimal cast absorbs
  it bit-exactly, where a float-computed ROUND(…,9) would not.
- Spark's ``skewness``/``kurtosis`` are POPULATION moments
  (g1 = m3/m2^1.5, g2 = m4/m2²-3) while DuckDB's are sample-corrected
  (G1, G2); the oracle inverts the textbook corrections
  (g1 = G1·(n-2)/√(n(n-1)), g2 = (G2·(n-2)(n-3)/(n-1) − 6)/(n+1))
  and rounds — verified to 9 decimals on all fixture groups.
- The XML round-trip relies on Java shortest-repr double formatting:
  ``to_xml`` prints the unique shortest decimal that parses back to
  the same IEEE double, so extract-after-roundtrip is lossless and
  the oracle can read the ORIGINAL columns.
- Feature hashing reuses the md5-fold token hash proven
  DuckDB-reproducible by the MinHash pipeline (functions/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zmaxion_spark.catalog import load_table
from zmaxion_spark.functions import moments as M
from zmaxion_spark.functions import timeseries as TS
from zmaxion_spark.queries.helpers import dsum, sql_dsum
from zmaxion_spark.queries.registry import query


def _r9(col, alias: str):
    """Quantize a double through DECIMAL(38,9) and back.

    ``ROUND(x, 9)`` is NOT engine-portable — DuckDB computes it in
    floating point (x·1e9 rounded / 1e9) while Spark goes through
    BigDecimal, so large-magnitude values (the regression intercept,
    ~5e4) can disagree in the last ulp AFTER rounding. The
    double→DECIMAL(38,9)→double cast chain is correctly rounded in
    both engines, so equal-to-9-decimals inputs produce bit-identical
    doubles. ``scale`` is chosen per column magnitude: the accumulated
    co-moment drift is ~1e-10 ABSOLUTE on the ~5e4-magnitude intercept
    (measured), so O(1e4) columns quantize at 6 decimals (3000x margin)
    while O(1) columns use 9."""
    return col.cast("decimal(38,9)").cast("double").alias(alias)


def _r6(col, alias: str):
    """Coarse twin of :func:`_r9` for large-magnitude stats (see doc)."""
    return col.cast("decimal(38,6)").cast("double").alias(alias)


# ---------------------------------------------------------------------------
# #158 statistical aggregate family: regression + moments
# ---------------------------------------------------------------------------


@query(
    "q_regression_stats",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(corr(l_quantity, l_extendedprice) AS DECIMAL(38,9))
                    AS DOUBLE) AS qp_corr,
               CAST(CAST(regr_slope(l_extendedprice, l_quantity) AS DECIMAL(38,6))
                    AS DOUBLE) AS slope,
               CAST(CAST(regr_intercept(l_extendedprice, l_quantity)
                         AS DECIMAL(38,6)) AS DOUBLE) AS intercept,
               CAST(CAST(regr_r2(l_extendedprice, l_quantity) AS DECIMAL(38,9))
                    AS DOUBLE) AS r2,
               CAST(CAST(median(l_quantity) AS DECIMAL(38,9)) AS DOUBLE) AS med_qty,
               CAST(CAST(stddev_samp(l_quantity) AS DECIMAL(38,9)) AS DOUBLE)
                   AS sd_qty,
               CAST(CAST(skewness(l_quantity) * (COUNT(*) - 2)
                         / SQRT(COUNT(*) * (COUNT(*) - 1.0)) AS DECIMAL(38,9))
                    AS DOUBLE) AS skew_qty,
               CAST(CAST((kurtosis(l_quantity) * (COUNT(*) - 2.0) * (COUNT(*) - 3.0)
                          / (COUNT(*) - 1.0) - 6) / (COUNT(*) + 1.0)
                         AS DECIMAL(38,9)) AS DOUBLE) AS kurt_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    operators=(23, 43, 158),
    doc="Built-in statistical aggregate family (#158): OLS regression of "
    "price on quantity (regr_slope/intercept/r2), correlation, exact "
    "median, sample stddev and population skewness/kurtosis per return "
    "flag — one pass, all JVM-side declarative aggregates. Every stat "
    "except the median is a constant-size co-moment accumulator "
    "(partial-aggregated map-side, the shuffle moves O(groups) state); "
    "exact MEDIAN buffers per-group values, so at 100 TB swap it for "
    "approx_percentile (the q_agg_approx path) — kept exact here "
    "because exactness is what the oracle certifies. Oracle: DuckDB's "
    "sample-corrected "
    "skewness/kurtosis inverted to Spark's population definitions; both "
    "sides quantize through DECIMAL(38,9) to absorb co-moment "
    "merge-order ulp drift bit-exactly (see _r9).",
)
def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _r9(F.corr("l_quantity", "l_extendedprice"), "qp_corr"),
        _r6(F.regr_slope("l_extendedprice", "l_quantity"), "slope"),
        _r6(F.regr_intercept("l_extendedprice", "l_quantity"), "intercept"),
        _r9(F.regr_r2("l_extendedprice", "l_quantity"), "r2"),
        _r9(F.median("l_quantity"), "med_qty"),
        _r9(F.stddev_samp("l_quantity"), "sd_qty"),
        _r9(F.skewness("l_quantity"), "skew_qty"),
        _r9(F.kurtosis("l_quantity"), "kurt_qty"),
    )


# ---------------------------------------------------------------------------
# #159 LOCF gap-fill (last observation carried forward)
# ---------------------------------------------------------------------------


@query(
    "q_gap_fill_locf",
    oracle=f"""
        WITH e AS (
            SELECT user_id % 8 AS bucket,
                   DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour,
                   value
            FROM events WHERE event_type = 'error'
        ),
        a AS (
            SELECT bucket, hour, COUNT(*) AS n, {sql_dsum('value', 'vsum')}
            FROM e GROUP BY bucket, hour
        ),
        b AS (
            SELECT bucket, MIN(hour) AS h0, MAX(hour) AS h1
            FROM e GROUP BY bucket
        ),
        g AS (
            SELECT bucket, UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM b
        ),
        j AS (
            SELECT g.bucket, g.hour, a.vsum,
                   CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS is_gap
            FROM g LEFT JOIN a USING (bucket, hour)
        )
        SELECT bucket, EPOCH_US(hour) AS hour_us, is_gap,
               LAST_VALUE(vsum IGNORE NULLS) OVER (
                   PARTITION BY bucket ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_locf
        FROM j
    """,
    operators=(31, 87, 159),
    doc="LOCF gap-fill (#159): sparse per-bucket hourly series (rare "
    "'error' events) densified onto an hour grid, missing hours carry "
    "the LAST observed hourly sum forward — last(ignorenulls) over an "
    "unbounded-preceding frame, the running-state window every "
    "sensor/telemetry pipeline needs. Grid starts at each bucket's "
    "first observation so no leading null survives. Scale: the window "
    "runs over the AGGREGATED grid (|buckets|x|hours|, data-independent "
    "after the first groupBy), partitioned by bucket — no skew, no "
    "global sort; the only full-data shuffle is the hourly partial agg.",
)
def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            (F.col("user_id") % 8).alias("bucket"),
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
        )
    )
    agg = e.groupBy("bucket", "hour").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "vsum")
    )
    bounds = e.groupBy("bucket").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = TS.gapfill(agg, bounds, "bucket", "hour", "1 hour", fills={})
    w = (
        Window.partitionBy("bucket")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "bucket",
        F.unix_micros("hour").alias("hour_us"),
        F.when(F.col("n").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
        F.last("vsum", ignorenulls=True).over(w).alias("value_locf"),
    )


# ---------------------------------------------------------------------------
# #160 XML semi-structured interchange (Spark 4 from_xml/to_xml)
# ---------------------------------------------------------------------------

_XML_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("p", T.DoubleType()),
    ]
)


@query(
    "q_xml_roundtrip",
    oracle="""
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS price_sum
        FROM orders
    GROUP BY o_orderstatus
    """,
    operators=(45, 160),
    doc="XML interchange (#160, Spark 4 from_xml/to_xml): every order is "
    "serialized to an XML document and parsed back through an explicit "
    "schema before aggregation, so the oracle (straight column SQL) "
    "proves the encode→parse cycle is lossless — longs, strings, and "
    "doubles (Java shortest-repr decimal text re-parses to the "
    "identical IEEE bits). The legacy-feed ingestion path: at 100 TB "
    "both directions are codegen'd row-local expressions — no UDF, no "
    "shuffle added; the decimal-exact sum keeps the post-roundtrip "
    "aggregate order-independent.",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    doc = F.to_xml(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("s"),
            F.col("o_totalprice").alias("p"),
        )
    )
    parsed = o.select(F.from_xml(doc, _XML_SCHEMA).alias("x"))
    return (
        parsed.select("x.k", "x.s", "x.p")
        .groupBy(F.col("s").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("key_sum"),
            dsum("p", "price_sum"),
        )
    )


# ---------------------------------------------------------------------------
# #161 hashing-trick feature vectorization
# ---------------------------------------------------------------------------

_FH_DIMS = 64


@query(
    "q_feature_hashing",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || SUBSTR(MD5(term), 1, 8)) AS BIGINT)
                       % {_FH_DIMS} AS dim,
                   CASE WHEN CAST(('0x' || SUBSTR(MD5(term), 9, 1)) AS BIGINT)
                             % 2 = 0 THEN 1 ELSE -1 END AS sgn
            FROM tok
        )
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(sgn) AS BIGINT) AS signed_tf
        FROM h
        GROUP BY dim
    """,
    operators=(44, 64, 161),
    doc=f"Hashing-trick feature vectorization (#161): tokens map to one "
    f"of {_FH_DIMS} dimensions via the md5-fold hash (the same hash the "
    "MinHash pipeline proved DuckDB-bit-reproducible) with a "
    "second-nibble sign bit — the signed feature-hashing estimator "
    "(Weinberger et al.), whose collisions cancel in expectation. "
    "Emitted per-dimension: token count, document frequency, signed "
    "sum. Scale: the vocabulary never materializes (that is the point "
    "of the trick — no dictionary build, no OOV); the shuffle carries "
    "(dim, partial) pairs bounded by 64·|partitions|, map-side "
    "combined. A 100 TB corpus vectorizes in one scan.",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    x = F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    sgn_src = F.conv(
        F.substring(F.md5(F.col("term").cast("binary")), 9, 1), 16, 10
    ).cast("long")
    h = tok.select(
        "doc_id",
        (x % _FH_DIMS).alias("dim"),
        F.when(sgn_src % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
    )
    return h.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("sgn").cast("bigint").alias("signed_tf"),
    )


# ---------------------------------------------------------------------------
# #217 embedding covariance / correlation matrix via outer-product agg
# ---------------------------------------------------------------------------

_COV_DEC = "decimal(38,18)"


@query(
    "q_embedding_covariance",
    oracle=f"""
        WITH {M.COV_CELLS_SQL},
        diag AS (SELECT i, cov_raw AS var_i FROM cov WHERE i = j)
        SELECT c.i, c.j,
               ROUND(c.cov_raw, 9) AS cov,
               ROUND(c.cov_raw / SQRT(da.var_i * db.var_i), 9) AS corr
        FROM cov c
        JOIN diag da ON da.i = c.i
        JOIN diag db ON db.i = c.j
    """,
    operators=(44, 158, 217),
    doc="Embedding covariance/correlation matrix (#217): the upper "
    "triangle of the 64x64 covariance matrix via OUTER-PRODUCT "
    "aggregation — each vector contributes its d(d+1)/2 pairwise "
    "products to a partial-aggregated groupBy on (i,j), the "
    "whitening/PCA precursor every embedding pipeline needs. Products "
    "quantize to exact dyadic integers (FLOOR(p*2^40+0.5): float32 "
    "inputs make every product an exact 48-bit double, so the scaled "
    "floor is exactly computed on both engines) and sum as "
    "order-independent integers — see functions/moments.py for why "
    "this replaced the per-element DECIMAL(38,18) cast (same bit-exact "
    "guarantee, ~10x cheaper per element). Correlations divide by the "
    "diagonal rejoined from the same result. Scale shape: scan -> "
    "generator -> generator -> partial hash-agg, ZERO joins before "
    "the d(d+1)/2 = 2080-cell merge — state is O(d^2) regardless of "
    "corpus size and 1000 executors merge partial integer matrices "
    "additively (never raw vectors).",
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # The diagonal rejoin consumes the cells twice more; materialize
    # the 2080-cell matrix once instead of re-running the corpus scan
    # per consumer.
    cov = M.cov_cells(e).withColumnRenamed("c", "cov_raw").localCheckpoint(eager=True)
    diag = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov_raw").alias("var_i")
    )
    return (
        cov.join(F.broadcast(diag), cov.i == F.col("d"))
        .drop("d")
        .withColumnRenamed("var_i", "va")
        .join(F.broadcast(diag), cov.j == F.col("d"))
        .drop("d")
        .withColumnRenamed("var_i", "vb")
        .select(
            "i",
            "j",
            F.round("cov_raw", 9).alias("cov"),
            F.round(F.col("cov_raw") / F.sqrt(F.col("va") * F.col("vb")), 9).alias(
                "corr"
            ),
        )
    )


# ---------------------------------------------------------------------------
# #233 Kaplan-Meier survival estimate (time-to-churn)
# ---------------------------------------------------------------------------


@query(
    "q_kaplan_meier",
    oracle="""
        WITH span AS (
            SELECT user_id,
                   EPOCH_US(MAX(CAST(ts AS TIMESTAMP))
                            - MIN(CAST(ts AS TIMESTAMP))) // 86400000000
                       AS life_days,
                   CAST(MAX(CAST(ts AS TIMESTAMP))
                        < (SELECT MAX(CAST(ts AS TIMESTAMP))
                           FROM events) - INTERVAL 12 HOUR AS INT) AS churned
            FROM events GROUP BY user_id
        ),
        t AS (
            SELECT life_days AS t, COUNT(*) AS n_at_t,
                   CAST(SUM(churned) AS BIGINT) AS d
            FROM span GROUP BY life_days
        ),
        risk AS (
            SELECT t, d,
                   CAST(SUM(n_at_t) OVER (ORDER BY t DESC
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS n_risk
            FROM t
        ),
        km AS (
            SELECT t, d, n_risk,
                   EXP(SUM(LN(1 - CAST(d AS DOUBLE) / n_risk))
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)) AS s
            FROM risk WHERE d > 0 AND d < n_risk
        )
        SELECT t AS life_days, d AS n_churned, n_risk,
               ROUND(s, 9) AS survival
        FROM km
    """,
    operators=(31, 233),
    doc="Kaplan-Meier survival estimate (#233): time-to-churn curves "
    "from the event stream — per-user lifetime in days, churn = no "
    "activity in the final 12-hour window (others right-censored), "
    "risk sets via a reverse cumulative count, and the product-limit "
    "estimator computed as exp(cumulative sum of ln(1 - d/n)) so the "
    "running product is a WINDOW AGGREGATE (one pass) rather than a "
    "sequential loop. The retention/reliability curve behind churn "
    "dashboards and failure analysis. Hash-exact: integer risk sets, "
    "identical IEEE ln/exp trees, ROUND(9). Scale: two hash "
    "aggregates + two windows over |distinct lifetimes| rows.",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    gmax = ev.groupBy().agg(F.max("ts").alias("gmax"))
    span = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(gmax))
        .select(
            F.expr("(unix_micros(t1) - unix_micros(t0)) div 86400000000").alias(
                "life_days"
            ),
            (
                F.col("t1") < F.col("gmax") - F.expr("INTERVAL 12 HOURS")
            )
            .cast("int")
            .alias("churned"),
        )
    )
    t = span.groupBy(F.col("life_days").alias("t")).agg(
        F.count(F.lit(1)).alias("n_at_t"),
        F.sum("churned").cast("bigint").alias("d"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = t.select(
        "t", "d", F.sum("n_at_t").over(w_desc).cast("bigint").alias("n_risk")
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # d == n_risk (everyone still at risk churned at the terminal
    # lifetime) would put LN(0) in the product-limit tail: DuckDB throws
    # ("cannot take logarithm of zero") while Spark returns NULL — a
    # data-dependent oracle divergence. Drop the terminal point on BOTH
    # sides; it can only be the largest observed lifetime, so no later
    # row's cumulative sum depends on it.
    km = (
        risk.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
        .select(
            "t",
            "d",
            "n_risk",
            F.exp(
                F.sum(
                    F.log(1 - F.col("d").cast("double") / F.col("n_risk"))
                ).over(w_asc)
            ).alias("s"),
        )
    )
    return km.select(
        F.col("t").alias("life_days"),
        F.col("d").alias("n_churned"),
        "n_risk",
        F.round("s", 9).alias("survival"),
    )


# ---------------------------------------------------------------------------
# #234 population stability index (feature drift detection)
# ---------------------------------------------------------------------------

_PSI_BINS = 10


@query(
    "q_psi_drift",
    oracle=f"""
        WITH half AS (
            SELECT o_totalprice AS v,
                   CAST(o_orderdate >= (SELECT MIN(o_orderdate)
                                        + (MAX(o_orderdate) - MIN(o_orderdate)) / 2
                                        FROM orders) AS INT) AS recent
            FROM orders
        ),
        mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM half),
        b AS (
            SELECT LEAST(CAST(FLOOR((v - lo) / (hi - lo) * {_PSI_BINS}) AS BIGINT),
                         {_PSI_BINS - 1}) AS bin,
                   recent
            FROM half CROSS JOIN mm
        ),
        cnt AS (
            SELECT bin,
                   CAST(SUM(1 - recent) AS BIGINT) AS n_base,
                   CAST(SUM(recent) AS BIGINT) AS n_recent
            FROM b GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                   CAST(SUM(n_recent) AS BIGINT) AS nr
            FROM cnt
        )
        SELECT bin, n_base, n_recent,
               ROUND(CAST(n_base AS DOUBLE) / nb, 9) AS p_base,
               ROUND(CAST(n_recent AS DOUBLE) / nr, 9) AS p_recent,
               ROUND((CAST(n_recent AS DOUBLE) / nr
                      - CAST(n_base AS DOUBLE) / nb)
                     * LN((CAST(n_recent AS DOUBLE) / nr + 1e-6)
                          / (CAST(n_base AS DOUBLE) / nb + 1e-6)), 9)
                   AS psi_part
        FROM cnt CROSS JOIN tot
    """,
    operators=(23, 234),
    doc=f"Population Stability Index (#234): the model-monitoring "
    "drift metric — order values split into older/recent halves at "
    f"the median date, binned into {_PSI_BINS} shared equal-width bins, "
    "and each bin contributes (p_recent - p_base)*ln(p_recent/p_base) "
    "(epsilon-smoothed); sum of psi_part = PSI, with >0.2 the "
    "classic retrain trigger. The companion to calibration (#227): "
    "PSI watches the INPUT distribution, ECE watches the output. "
    "Scale shape: one min/max broadcast + one hash aggregate to "
    f"{_PSI_BINS} bins — mergeable monitoring state, integer counts, "
    "hash-exact.",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mid = o.groupBy().agg(
        (
            F.min("o_orderdate")
            + ((F.max("o_orderdate") - F.min("o_orderdate")) / 2)
        ).alias("mid")
    )
    half = o.crossJoin(F.broadcast(mid)).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderdate") >= F.col("mid")).cast("int").alias("recent"),
    )
    mm = half.groupBy().agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    b = half.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _PSI_BINS)
            .cast("bigint"),
            F.lit(_PSI_BINS - 1).cast("bigint"),
        ).alias("bin"),
        "recent",
    )
    cnt = b.groupBy("bin").agg(
        F.sum(1 - F.col("recent")).cast("bigint").alias("n_base"),
        F.sum("recent").cast("bigint").alias("n_recent"),
    )
    tot = cnt.groupBy().agg(
        F.sum("n_base").cast("bigint").alias("nb"),
        F.sum("n_recent").cast("bigint").alias("nr"),
    )
    pb = F.col("n_base").cast("double") / F.col("nb")
    pr = F.col("n_recent").cast("double") / F.col("nr")
    return cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_base",
        "n_recent",
        F.round(pb, 9).alias("p_base"),
        F.round(pr, 9).alias("p_recent"),
        F.round((pr - pb) * F.log((pr + 1e-6) / (pb + 1e-6)), 9).alias("psi_part"),
    )


# ---------------------------------------------------------------------------
# #250 Benford's-law conformance screening
# ---------------------------------------------------------------------------


@query(
    "q_benford_screen",
    oracle="""
        WITH d AS (
            SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                        AS BIGINT) AS digit
            FROM orders WHERE o_totalprice >= 1
        ),
        obs AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM obs)
        SELECT obs.digit, obs.n,
               ROUND(CAST(obs.n AS DOUBLE) / tot.n_all, 9) AS observed_p,
               ROUND(LN(1 + CAST(1 AS DOUBLE) / obs.digit) / LN(10), 9)
                   AS benford_p,
               ROUND((CAST(obs.n AS DOUBLE) / tot.n_all
                      - LN(1 + CAST(1 AS DOUBLE) / obs.digit) / LN(10))
                     * (CAST(obs.n AS DOUBLE) / tot.n_all
                        - LN(1 + CAST(1 AS DOUBLE) / obs.digit) / LN(10))
                     / (LN(1 + CAST(1 AS DOUBLE) / obs.digit) / LN(10)), 9)
                   AS chi2_part
        FROM obs CROSS JOIN tot
    """,
    operators=(43, 250),
    doc="Benford's-law conformance screening (#250): the classic "
    "forensic-audit analytic — leading-digit frequencies of order "
    "values against the log10(1+1/d) expectation, with per-digit "
    "chi-square contributions (n x their sum is the test statistic; "
    "synthetic uniform prices intentionally FAIL Benford, which is "
    "the point of screening). One scalar projection + one 9-row "
    "aggregate; identical IEEE ln trees with ROUND(9) absorption. "
    "At 100 TB: a per-entity GROUP BY upgrade screens every vendor/"
    "account in the same single pass.",
)
def q_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.groupBy().agg(F.sum("n").cast("bigint").alias("n_all"))
    p_obs = F.col("n").cast("double") / F.col("n_all")
    p_ben = F.log(1 + F.lit(1).cast("double") / F.col("digit")) / F.log(F.lit(10.0))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(p_obs, 9).alias("observed_p"),
        F.round(p_ben, 9).alias("benford_p"),
        F.round((p_obs - p_ben) * (p_obs - p_ben) / p_ben, 9).alias("chi2_part"),
    )


# ---------------------------------------------------------------------------
# #251 ABC / Pareto analysis
# ---------------------------------------------------------------------------


@query(
    "q_abc_pareto",
    oracle="""
        WITH per AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, rev_dec,
                   CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, o_custkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS DOUBLE)
                   / CAST((SELECT CAST(SUM(rev_dec) AS DECIMAL(38,6)) FROM per)
                          AS DOUBLE) AS cum_share
            FROM per
        ),
        classed AS (
            SELECT o_custkey,
                   CASE WHEN cum_share <= 0.8 THEN 'A'
                        WHEN cum_share <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   CAST(rev_dec AS DOUBLE) AS revenue
            FROM ranked
        )
        SELECT abc_class,
               COUNT(*) AS n_customers,
               CAST(CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DECIMAL(38,6))
                    AS DOUBLE) AS class_revenue
        FROM classed GROUP BY abc_class
    """,
    operators=(31, 251),
    doc="ABC / Pareto analysis (#251): customers ranked by revenue, "
    "cumulative-share classed A (first 80% of revenue) / B (to 95%) / "
    "C (tail) — the 80/20 concentration census behind inventory and "
    "account prioritization. The cumulative share is a decimal-exact "
    "frame window over the per-customer aggregate (ties broken by "
    "key); class boundaries compare identically-computed doubles, so "
    "membership is engine-identical and the census grades hash-exact. "
    "At 100 TB the window runs over |customers|; a two-pass "
    "percentile-threshold variant removes even that sort.",
)
def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev_dec")
    )
    tot = per.groupBy().agg(
        F.sum("rev_dec").cast("decimal(38,6)").alias("tot_dec")
    )
    w = Window.orderBy(F.col("rev_dec").desc(), "o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.sum("rev_dec").over(w).cast("double")
            / F.col("tot_dec").cast("double")
        ).alias("cum_share"),
    )
    abc = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("abc_class", abc)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("revenue").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("class_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# #252 concentration metrics: Gini, HHI, top-share
# ---------------------------------------------------------------------------


@query(
    "q_concentration",
    oracle="""
        WITH per AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
            FROM orders GROUP BY o_custkey
        ),
        r AS (
            SELECT rev_dec,
                   ROW_NUMBER() OVER (ORDER BY rev_dec, o_custkey) AS i,
                   COUNT(*) OVER () AS n,
                   CAST(SUM(rev_dec) OVER () AS DECIMAL(38,6)) AS tot
            FROM per
        ),
        parts AS (
            SELECT n,
                   CAST(SUM(CAST((2 * i - n - 1) AS DECIMAL(38,6)) * rev_dec)
                        AS DOUBLE) AS gini_num,
                   CAST(MAX(tot) AS DOUBLE) AS tot_d,
                   CAST(SUM(CAST(CAST(rev_dec AS DOUBLE) / CAST(tot AS DOUBLE)
                                 * (CAST(rev_dec AS DOUBLE) / CAST(tot AS DOUBLE))
                                 AS DECIMAL(38,18))) AS DOUBLE) AS hhi,
                   CAST(SUM(CASE WHEN i > n - 10 THEN rev_dec ELSE CAST(0 AS DECIMAL(38,6)) END)
                        AS DOUBLE) AS top10_rev
            FROM r GROUP BY n
        )
        SELECT n AS n_customers,
               ROUND(gini_num / (n * tot_d), 9) AS gini,
               ROUND(hhi, 9) AS hhi,
               ROUND(top10_rev / tot_d, 9) AS top10_share
        FROM parts
    """,
    operators=(31, 252),
    doc="Concentration metrics (#252): the Gini coefficient via the "
    "rank identity sum((2i-n-1)·x_i)/(n·total) over revenue-ranked "
    "customers (ties by key), the Herfindahl-Hirschman index "
    "sum(share²) through DECIMAL(38,18), and the top-10 customer "
    "revenue share — the inequality/market-concentration statistics "
    "regulators and revenue teams both use. Rank weights are exact "
    "integers times exact decimals, so every metric grades "
    "hash-exact. One rank window over |customers| + one aggregate.",
)
def q_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev_dec")
    )
    wall = Window.partitionBy()
    r = per.select(
        "rev_dec",
        F.row_number().over(Window.orderBy("rev_dec", "o_custkey")).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("rev_dec").over(wall).cast("decimal(38,6)").alias("tot"),
    )
    share = F.col("rev_dec").cast("double") / F.col("tot").cast("double")
    parts = r.groupBy("n").agg(
        F.sum((2 * F.col("i") - F.col("n") - 1).cast("decimal(38,6)") * F.col("rev_dec"))
        .cast("double")
        .alias("gini_num"),
        F.max("tot").cast("double").alias("tot_d"),
        F.sum((share * share).cast("decimal(38,18)")).cast("double").alias("hhi"),
        F.sum(
            F.when(F.col("i") > F.col("n") - 10, F.col("rev_dec")).otherwise(
                F.lit(0).cast("decimal(38,6)")
            )
        )
        .cast("double")
        .alias("top10_rev"),
    )
    return parts.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("gini_num") / (F.col("n") * F.col("tot_d")), 9).alias("gini"),
        F.round("hhi", 9).alias("hhi"),
        F.round(F.col("top10_rev") / F.col("tot_d"), 9).alias("top10_share"),
    )


# ---------------------------------------------------------------------------
# #253 robust statistics: trimmed and winsorized means
# ---------------------------------------------------------------------------


@query(
    "q_robust_stats",
    oracle="""
        WITH r AS (
            SELECT l_returnflag, l_extendedprice AS v,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice, l_orderkey,
                                               l_linenumber) AS i,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ),
        marked AS (
            SELECT l_returnflag, v, n,
                   CAST(i > n // 20 AND i <= n - n // 20 AS INT) AS kept,
                   CASE WHEN i <= n // 20 THEN 'lo'
                        WHEN i > n - n // 20 THEN 'hi'
                        ELSE 'mid' END AS zone
            FROM r
        ),
        caps AS (
            SELECT l_returnflag,
                   MIN(CASE WHEN zone = 'mid' THEN v END) AS lo_cap,
                   MAX(CASE WHEN zone = 'mid' THEN v END) AS hi_cap
            FROM marked GROUP BY l_returnflag
        )
        SELECT m.l_returnflag,
               CAST(SUM(m.kept) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN m.kept = 1
                             THEN CAST(m.v AS DECIMAL(38,6))
                             ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                   / SUM(m.kept) AS trimmed_mean,
               CAST(SUM(CAST(CASE WHEN m.zone = 'lo' THEN c.lo_cap
                                  WHEN m.zone = 'hi' THEN c.hi_cap
                                  ELSE m.v END AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS winsorized_mean
        FROM marked m JOIN caps c ON c.l_returnflag = m.l_returnflag
        GROUP BY m.l_returnflag
    """,
    operators=(31, 253),
    doc="Robust statistics (#253): 5%-trimmed and 5%-winsorized means "
    "of extended price per return flag — the outlier-resistant "
    "location estimates that stop one fat-finger row from moving a "
    "dashboard. Trim boundaries come from integer rank cutoffs (i > "
    "n/20, ties broken by key — engine-identical membership, no "
    "percentile interpolation to drift); winsorizing caps tails at "
    "the kept-zone extremes. All sums through DECIMAL(38,6); "
    "hash-exact. One rank window + one aggregate per group.",
)
def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    r = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    lo_out = F.col("i") <= F.expr("n div 20")
    hi_out = F.col("i") > F.col("n") - F.expr("n div 20")
    # marked is consumed twice (caps + the final aggregate); the rank
    # window's per-group sort was re-running for each consumer
    # (measured: two 1.5–2.2 s stages re-reading the same 11 MB
    # exchange). Materialize the window output once (guide §2.4).
    marked = r.select(
        "l_returnflag",
        "v",
        "n",
        ((~lo_out) & (~hi_out)).cast("int").alias("kept"),
        F.when(lo_out, "lo").when(hi_out, "hi").otherwise("mid").alias("zone"),
    ).localCheckpoint(eager=True)
    caps = marked.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("zone") == "mid", F.col("v"))).alias("lo_cap"),
        F.max(F.when(F.col("zone") == "mid", F.col("v"))).alias("hi_cap"),
    )
    dec0 = F.lit(0).cast("decimal(38,6)")
    wins_v = (
        F.when(F.col("zone") == "lo", F.col("lo_cap"))
        .when(F.col("zone") == "hi", F.col("hi_cap"))
        .otherwise(F.col("v"))
    )
    return (
        marked.join(F.broadcast(caps), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("kept").cast("bigint").alias("n_kept"),
            (
                F.sum(
                    F.when(F.col("kept") == 1, F.col("v").cast("decimal(38,6)"))
                    .otherwise(dec0)
                ).cast("double")
                / F.sum("kept")
            ).alias("trimmed_mean"),
            (
                F.sum(wins_v.cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
        )
    )


# ---------------------------------------------------------------------------
# #254 max drawdown over the daily revenue curve
# ---------------------------------------------------------------------------


@query(
    "q_max_drawdown",
    oracle="""
        WITH d AS (
            SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS dd,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1
        ),
        cum_t AS (
            SELECT dd,
                   CAST(SUM(cents) OVER (ORDER BY dd
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT) AS cum
            FROM d
        ),
        c AS (
            SELECT dd, cum,
                   CAST(MAX(cum) OVER (ORDER BY dd
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS peak
            FROM cum_t
        ),
        dd2 AS (
            SELECT dd, cum, peak,
                   peak - cum AS drawdown_cents
            FROM c
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(MAX(drawdown_cents) AS BIGINT) AS max_drawdown_cents,
               ROUND(CAST(MAX(drawdown_cents) AS DOUBLE)
                     / MAX(peak), 9) AS max_drawdown_frac
        FROM dd2
    """,
    operators=(31, 254),
    doc="Maximum drawdown (#254): the peak-to-trough decline of the "
    "cumulative daily revenue curve — the finance/risk metric that "
    "also catches revenue-pipeline regressions (a drawdown on a "
    "cumulative business metric means negative days). Running sum -> "
    "running peak -> max gap, all integer-exact cents through nested "
    "frame windows; the fractional drawdown divides two identically-"
    "derived values. Window state is O(1) per step, series length is "
    "|days|.",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("dd")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    wcum = Window.orderBy("dd").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.select(
        "dd", F.sum("cents").over(wcum).cast("bigint").alias("cum")
    ).select(
        "dd", "cum", F.max("cum").over(wcum).cast("bigint").alias("peak")
    )
    dd2 = c.select("dd", "cum", "peak", (F.col("peak") - F.col("cum")).alias("drawdown_cents"))
    return dd2.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("drawdown_cents").cast("bigint").alias("max_drawdown_cents"),
        F.round(
            F.max("drawdown_cents").cast("double") / F.max("peak"), 9
        ).alias("max_drawdown_frac"),
    )


# ---------------------------------------------------------------------------
# #298 VaR / CVaR tail risk (rank-exact, integer cents)
# ---------------------------------------------------------------------------


@query(
    "q_cvar_tail_risk",
    oracle="""
        WITH o AS (
            SELECT o_orderpriority AS priority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        c AS (
            SELECT priority, cents, COUNT(*) AS k FROM o GROUP BY 1, 2
        ),
        r AS (
            SELECT priority, cents,
                   SUM(k) OVER (PARTITION BY priority ORDER BY cents
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(k) OVER (PARTITION BY priority) AS n
            FROM c
        ),
        var AS MATERIALIZED (
            SELECT priority, MAX(n) AS n, MIN(cents) AS var95
            FROM r WHERE cum >= (19 * n + 19) // 20
            GROUP BY priority
        )
        SELECT o.priority, CAST(var.n AS BIGINT) AS n,
               CAST(var.var95 AS BIGINT) AS var95_cents,
               CAST(COUNT(*) AS BIGINT) AS tail_n,
               CAST(CAST(CAST(SUM(o.cents) AS DOUBLE) / COUNT(*)
                         AS DECIMAL(38,6)) AS DOUBLE) AS cvar_cents
        FROM o JOIN var ON var.priority = o.priority
        WHERE o.cents >= var.var95
        GROUP BY o.priority, var.n, var.var95
    """,
    operators=(23, 31, 298),
    doc="Value-at-risk and conditional VaR (#298), the tail-risk pair "
    "beside max-drawdown (#254): per priority class, VaR₉₅ is the "
    "exact 95th-percentile order value by discrete rank (smallest "
    "cents with running count ≥ ⌈19n/20⌉ — pure integer rank algebra, "
    "the repo's spillable quantile shape) and CVaR is the mean of the "
    "tail AT or beyond it — the statistic that answers 'how bad is "
    "bad', which VaR alone hides (two books with equal VaR can carry "
    "wildly different tail mass). Everything stays BIGINT cents until "
    "the single CVaR division, quantized at 1e-6. Scale: value-domain "
    "cells + running-count windows per group; the tail join "
    "re-shuffles only (priority, cents).",
)
def q_cvar_tail_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = o.groupBy("priority", "cents").agg(F.count(F.lit(1)).alias("k"))
    wc = (
        Window.partitionBy("priority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("priority")
    r = c.select(
        "priority",
        "cents",
        F.sum("k").over(wc).alias("cum"),
        F.sum("k").over(wn).alias("n"),
    )
    var = (
        r.filter(F.col("cum") >= F.expr("(19 * n + 19) div 20"))
        .groupBy("priority")
        .agg(F.max("n").alias("n"), F.min("cents").alias("var95"))
    )
    return (
        o.join(var, "priority")
        .filter(F.col("cents") >= F.col("var95"))
        .groupBy("priority", "n", "var95")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tail_n"),
            (F.sum("cents").cast("double") / F.count(F.lit(1)))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("cvar_cents"),
        )
        .select(
            "priority",
            F.col("n").cast("bigint").alias("n"),
            F.col("var95").cast("bigint").alias("var95_cents"),
            "tail_n",
            "cvar_cents",
        )
    )


# ---------------------------------------------------------------------------
# #321 Zipf rank-frequency fit (is the traffic cacheable?)
# ---------------------------------------------------------------------------


@query(
    "q_zipf_fit",
    oracle="""
        WITH f AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk
            FROM f
        ),
        pts AS (
            SELECT CAST(LN(CAST(rnk AS DOUBLE)) AS DECIMAL(38,9)) AS x,
                   CAST(LN(CAST(n AS DOUBLE)) AS DECIMAL(38,9)) AS y,
                   CAST(LN(CAST(rnk AS DOUBLE))
                        * LN(CAST(rnk AS DOUBLE)) AS DECIMAL(38,9)) AS xx,
                   CAST(LN(CAST(rnk AS DOUBLE))
                        * LN(CAST(n AS DOUBLE)) AS DECIMAL(38,9)) AS xy
            FROM r
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(xx) AS sxx, SUM(xy) AS sxy
            FROM pts
        )
        SELECT k AS n_keys,
               CAST(CAST(
                   (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sy AS DOUBLE))
                   / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sx AS DOUBLE))
                   AS DECIMAL(38,9)) AS DOUBLE) AS zipf_slope,
               CAST((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sy AS DOUBLE))
                   / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sx AS DOUBLE)) <= -0.5 AS INT)
                   AS skew_cacheable
        FROM s
    """,
    operators=(30, 43, 158, 321),
    doc="Zipf rank-frequency fit (#321): OLS slope of ln(frequency) "
    "on ln(rank) over per-user event counts — the one-number skew "
    "diagnostic behind caching, hot-key salting, and top-k sizing "
    "decisions (slope ≈ −1 is classic Zipf where a tiny cache "
    "absorbs most traffic; slope ≈ 0 is uniform where caching buys "
    "nothing; flagged cacheable at ≤ −0.5). Ranks are exact "
    "(count DESC, id ties); each ln/product term is an identical "
    "IEEE tree quantized at 1e-9 and summed exactly; the slope is "
    "one closed-form division. Scale: one groupBy to |keys| cells "
    "and a rank over cells — the global rank window over CELLS (not "
    "rows) is the #73 cell discipline; range-partition the rank for "
    "billion-key domains.",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    f = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    r = f.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "user_id"))
        .alias("rnk"),
    )
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    pts = r.select(
        lx.cast("decimal(38,9)").alias("x"),
        ly.cast("decimal(38,9)").alias("y"),
        (lx * lx).cast("decimal(38,9)").alias("xx"),
        (lx * ly).cast("decimal(38,9)").alias("xy"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
    )
    slope = (
        F.col("k") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("k") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return s.select(
        F.col("k").alias("n_keys"),
        slope.cast("decimal(38,9)").cast("double").alias("zipf_slope"),
        (slope <= -0.5).cast("int").alias("skew_cacheable"),
    )


# ---------------------------------------------------------------------------
# #358 bh_fdr — Benjamini-Hochberg false-discovery-rate control
# ---------------------------------------------------------------------------

_BH_Q = "0.05"
_TWO52_BH = float(1 << 52)


@query(
    "q_bh_fdr",
    oracle=f"""
        WITH tests AS (
            SELECT p_partkey AS test_id,
                   CASE WHEN p_partkey % 50 = 0
                        THEN CAST(('0x' || SUBSTR(MD5('p:' ||
                                 CAST(p_partkey AS VARCHAR)), 1, 13))
                                 AS BIGINT) / {int(_TWO52_BH)} / 1000
                        ELSE CAST(('0x' || SUBSTR(MD5('p:' ||
                                 CAST(p_partkey AS VARCHAR)), 1, 13))
                                 AS BIGINT) / {int(_TWO52_BH)}
                   END AS p
            FROM part
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM tests),
        rk AS (
            SELECT test_id, p,
                   ROW_NUMBER() OVER (ORDER BY p, test_id) AS k
            FROM tests
        ),
        adj AS (
            SELECT r.test_id, r.p, r.k, m.m,
                   LEAST(CAST(1 AS DOUBLE),
                         MIN(m.m * r2.p / r2.k)
                             OVER (ORDER BY r.k DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) AS p_adj
            FROM rk r
            JOIN rk r2 ON r2.k = r.k
            CROSS JOIN m
        ),
        cut AS (
            SELECT COALESCE(MAX(k), 0) AS k_star
            FROM rk CROSS JOIN m
            WHERE p <= CAST({_BH_Q} AS DOUBLE) * k / m.m
        )
        SELECT a.test_id, ROUND(a.p, 9) AS p_value, a.k,
               ROUND(a.p_adj, 9) AS p_adj,
               CAST(a.k <= c.k_star AS INT) AS rejected,
               c.k_star, a.m
        FROM adj a CROSS JOIN cut c
        ORDER BY a.k
        LIMIT 20
    """,
    operators=(30, 31, 358),
    doc=f"Benjamini-Hochberg FDR control (#358) at q={_BH_Q}: rank "
    "the family's p-values, find the largest k with p_(k) <= qk/m, "
    "reject everything at or below it, and emit step-up adjusted "
    "p-values min over the suffix of m·p/k (the monotone envelope, "
    "one DESC-ordered running MIN window) — the multiple-testing "
    "correction that keeps a 2000-test screen from drowning in "
    "false positives where Bonferroni would kill all power; the "
    "family-wide completion of the per-test stats (#272 KS, #307 "
    "ANOVA, #322 trend). Fixture p-values are md5-uniform nulls with "
    "planted signals (every 50th test's p divided by 1000), so BH "
    "recovers mostly-planted rejections deterministically. Top-20 "
    "by rank graded. Scale: the test family grows with the corpus, "
    "so BOTH global passes are bucket-decomposed (functions/ranks "
    "discipline): ranks = bucket offsets + bucket-partitioned "
    "windows; the step-up suffix-min = within-bucket suffix mins "
    "combined with a broadcast <=4097-row bucket-census running min "
    "— no single-partition WindowExec anywhere.",
    bench=False,
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    p_raw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("p:"), F.col("p_partkey").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("double") / F.lit(_TWO52_BH)
    tests = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("test_id"),
        F.when(F.col("p_partkey") % 50 == 0, p_raw / 1000)
        .otherwise(p_raw)
        .alias("p"),
    )
    from zmaxion_spark.functions.ranks import bucketed_row_number

    m = tests.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    # Exact global rank + suffix-min WITHOUT single-partition windows
    # (tests scale with the corpus — the entity-grain discipline):
    # rank via bucket offsets; the step-up envelope min_{j>=k} m*p_j/j
    # via per-bucket suffix mins + a <=4097-row bucket census.
    tests_b = tests.withColumn("_bkt", F.floor(F.col("p") * 4096).cast("long"))
    rk = bucketed_row_number(tests_b, "_bkt", ["p", "test_id"], out="k")
    v = rk.crossJoin(F.broadcast(m)).withColumn(
        "_v", F.col("m") * F.col("p") / F.col("k")
    )
    bmin = v.groupBy("_bkt").agg(F.min("_v").alias("_bmin"))
    w_gt = Window.orderBy(F.desc("_bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sfx_gt = bmin.select(
        "_bkt", F.min("_bmin").over(w_gt).alias("_sfx_gt")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adj = (
        v.join(F.broadcast(sfx_gt), "_bkt")
        .withColumn(
            "p_adj",
            F.least(
                F.lit(1.0),
                F.least(
                    F.min("_v").over(w_in),
                    F.coalesce(F.col("_sfx_gt"), F.lit(1.0)),
                ),
            ),
        )
        .drop("_bkt", "_v", "_sfx_gt")
    )
    cut = (
        rk.crossJoin(F.broadcast(m))
        .filter(F.col("p") <= F.lit(float(_BH_Q)) * F.col("k") / F.col("m"))
        .agg(F.coalesce(F.max("k"), F.lit(0)).alias("k_star"))
    )
    return (
        adj.crossJoin(F.broadcast(cut))
        .select(
            "test_id",
            F.round("p", 9).alias("p_value"),
            "k",
            F.round("p_adj", 9).alias("p_adj"),
            (F.col("k") <= F.col("k_star")).cast("int").alias("rejected"),
            "k_star",
            "m",
        )
        .orderBy("k")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# #359 logrank_test — two-group survival-curve comparison
# ---------------------------------------------------------------------------


@query(
    "q_logrank_test",
    oracle="""
        WITH span AS (
            SELECT user_id, user_id % 2 AS grp,
                   EPOCH_US(MAX(CAST(ts AS TIMESTAMP))
                            - MIN(CAST(ts AS TIMESTAMP))) // 86400000000
                       AS life_days,
                   CAST(MAX(CAST(ts AS TIMESTAMP))
                        < (SELECT MAX(CAST(ts AS TIMESTAMP))
                           FROM events) - INTERVAL 12 HOUR AS INT) AS churned
            FROM events GROUP BY user_id
        ),
        t AS (
            SELECT life_days AS t, grp, COUNT(*) AS n_at_t,
                   CAST(SUM(churned) AS BIGINT) AS d
            FROM span GROUP BY life_days, grp
        ),
        times AS (SELECT DISTINCT t FROM t),
        grid AS (
            SELECT ti.t, g.grp,
                   CAST(COALESCE(tt.n_at_t, 0) AS BIGINT) AS n_at_t,
                   CAST(COALESCE(tt.d, 0) AS BIGINT) AS d
            FROM times ti CROSS JOIN (SELECT 0 AS grp UNION ALL SELECT 1) g
            LEFT JOIN t tt ON tt.t = ti.t AND tt.grp = g.grp
        ),
        risk AS (
            SELECT t, grp, d,
                   CAST(SUM(n_at_t) OVER (PARTITION BY grp ORDER BY t DESC
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS n_g
            FROM grid
        ),
        ev AS (
            SELECT r.t,
                   CAST(SUM(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT)
                       AS d1,
                   CAST(SUM(d) AS BIGINT) AS d,
                   CAST(SUM(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT)
                       AS n1,
                   CAST(SUM(n_g) AS BIGINT) AS n
            FROM risk r GROUP BY r.t
        ),
        terms AS (
            SELECT t, d1,
                   d * (CAST(n1 AS DOUBLE) / n) AS e1,
                   CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
                        ELSE d * (CAST(n1 AS DOUBLE) / n)
                             * (1 - CAST(n1 AS DOUBLE) / n)
                             * (n - d) / (n - 1) END AS v
            FROM ev WHERE d > 0
        ),
        s AS (
            SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                   CAST(SUM(CAST(e1 AS DECIMAL(38,18))) AS DOUBLE) AS e1,
                   CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS v
            FROM terms
        )
        SELECT o1 AS observed_g1,
               ROUND(e1, 9) AS expected_g1,
               ROUND((o1 - e1) / SQRT(v), 9) AS z,
               ROUND((o1 - e1) * (o1 - e1) / v, 9) AS chi2,
               CAST(ABS((o1 - e1) / SQRT(v)) > 1.96 AS INT) AS significant
        FROM s
    """,
    operators=(23, 31, 233, 359),
    doc="Log-rank test (#359): the standard two-group survival-curve "
    "comparison over the Kaplan-Meier fixture (#233) with users "
    "split by id parity — at every churn time, observed group-1 "
    "deaths vs the hypergeometric expectation d·n1/n and variance "
    "d·(n1/n)(1-n1/n)(n-d)/(n-1), summed into the O-E z statistic "
    "and chi-square — the censoring-correct way to compare retention "
    "between cohorts (a t-test on lifetimes is biased by censoring; "
    "this is not). Risk sets are reverse cumulative counts per group "
    "over the ZERO-COMPLETED (time x group) grid; expectations and "
    "variances are identical IEEE trees over exact BIGINTs summed "
    "through DECIMAL(38,18); one ROUND(9). Scale: everything runs on "
    "|distinct lifetimes| x 2 cells.",
    bench=False,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev0 = load_table(spark, sf_dir, "events")
    gmax = ev0.agg(F.max("ts").alias("gmax"))
    span = (
        ev0.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(gmax))
        .select(
            (F.col("user_id") % 2).alias("grp"),
            F.expr("(unix_micros(t1) - unix_micros(t0)) div 86400000000").alias(
                "life_days"
            ),
            (
                F.col("t1") < F.col("gmax") - F.expr("INTERVAL 12 HOURS")
            )
            .cast("int")
            .alias("churned"),
        )
    )
    t = span.groupBy(F.col("life_days").alias("t"), "grp").agg(
        F.count(F.lit(1)).alias("n_at_t"),
        F.sum("churned").cast("bigint").alias("d"),
    )
    times = t.select("t").distinct()
    grps = t.sparkSession.createDataFrame([(0,), (1,)], "grp BIGINT")
    grid = (
        times.crossJoin(F.broadcast(grps))
        .join(t, ["t", "grp"], "left")
        .select(
            "t",
            "grp",
            F.coalesce("n_at_t", F.lit(0)).cast("bigint").alias("n_at_t"),
            F.coalesce("d", F.lit(0)).cast("bigint").alias("d"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = grid.withColumn("n_g", F.sum("n_at_t").over(w).cast("bigint"))
    evt = risk.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("d").cast("bigint").alias("d"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_g")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum("n_g").cast("bigint").alias("n"),
    )
    ratio = F.col("n1").cast("double") / F.col("n")
    terms = evt.filter(F.col("d") > 0).select(
        "d1",
        (F.col("d") * ratio).alias("e1"),
        F.when(F.col("n") <= 1, F.lit(0.0))
        .otherwise(
            F.col("d") * ratio * (1 - ratio) * (F.col("n") - F.col("d"))
            / (F.col("n") - 1)
        )
        .alias("v"),
    )
    dec = "decimal(38,18)"
    s = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(F.col("e1").cast(dec)).cast("double").alias("e1"),
        F.sum(F.col("v").cast(dec)).cast("double").alias("v"),
    )
    z = (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v"))
    return s.select(
        F.col("o1").alias("observed_g1"),
        F.round("e1", 9).alias("expected_g1"),
        F.round(z, 9).alias("z"),
        F.round(
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1"))
            / F.col("v"),
            9,
        ).alias("chi2"),
        (F.abs(z) > 1.96).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #364 cramers_v — categorical association (chi-square based)
# ---------------------------------------------------------------------------


@query(
    "q_cramers_v",
    oracle="""
        WITH cells AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY lang, source
        ),
        marg AS (
            SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM cells) AS nt,
                   (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM cells)
                       AS r,
                   (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM cells)
                       AS c
        ),
        rowm AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nr FROM cells
                 GROUP BY lang),
        colm AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nc FROM cells
                 GROUP BY source),
        grid AS (
            SELECT rm.lang, cm.source, rm.nr, cm.nc,
                   COALESCE(ce.n, 0) AS n
            FROM rowm rm CROSS JOIN colm cm
            LEFT JOIN cells ce ON ce.lang = rm.lang AND ce.source = cm.source
        ),
        chi AS (
            SELECT CAST(SUM(CAST(
                       (n - CAST(g.nr AS DOUBLE) * g.nc / m.nt)
                       * (n - CAST(g.nr AS DOUBLE) * g.nc / m.nt)
                       / (CAST(g.nr AS DOUBLE) * g.nc / m.nt)
                       AS DECIMAL(38,18))) AS DOUBLE) AS chi2,
                   ANY_VALUE(m.nt) AS nt, ANY_VALUE(m.r) AS r,
                   ANY_VALUE(m.c) AS c
            FROM grid g CROSS JOIN marg m
        )
        SELECT nt AS n_total, r AS n_rows_cat, c AS n_cols_cat,
               ROUND(chi2, 9) AS chi2,
               ROUND(SQRT(chi2 / (nt * (LEAST(r, c) - 1))), 9) AS cramers_v
        FROM chi
    """,
    operators=(23, 24, 280, 364),
    doc="Cramér's V (#364): chi-square association between two "
    "categorical columns (lang x source) normalized to [0,1] by "
    "n·(min(r,c)-1) — the effect-size companion to the chi-square "
    "feature screen (#280: significance says IF dependent, V says "
    "HOW MUCH, invariant to table size) and the categorical sibling "
    "of the numeric correlations (#158/#348/#349). Expectations "
    "nr·nc/N are identical IEEE trees over exact marginal BIGINTs on "
    "the ZERO-COMPLETED contingency grid (absent cells contribute "
    "their full expectation); the chi-square sum goes through "
    "DECIMAL(38,18). Scale: cells are |lang|x|source| — a census, "
    "never rows.",
    bench=False,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rowm = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nr"))
    colm = cells.groupBy("source").agg(F.sum("n").cast("bigint").alias("nc"))
    marg = cells.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.countDistinct("lang").cast("bigint").alias("r"),
        F.countDistinct("source").cast("bigint").alias("c"),
    )
    grid = (
        rowm.crossJoin(colm)
        .join(cells, ["lang", "source"], "left")
        .select(
            "nr", "nc", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
        )
    )
    e = F.col("nr").cast("double") * F.col("nc") / F.col("nt")
    chi = (
        grid.crossJoin(F.broadcast(marg))
        .agg(
            F.sum(((F.col("n") - e) * (F.col("n") - e) / e).cast("decimal(38,18)"))
            .cast("double")
            .alias("chi2"),
            F.first("nt").alias("nt"),
            F.first("r").alias("r"),
            F.first("c").alias("c"),
        )
    )
    return chi.select(
        F.col("nt").alias("n_total"),
        F.col("r").alias("n_rows_cat"),
        F.col("c").alias("n_cols_cat"),
        F.round("chi2", 9).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("nt") * (F.least("r", "c") - 1))), 9
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# #365 runs_test — Wald-Wolfowitz randomness test
# ---------------------------------------------------------------------------


@query(
    "q_runs_test",
    oracle="""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        cnt AS (SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS x
                FROM o GROUP BY 1, 2),
        med AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                                 THEN x ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                              THEN 1 ELSE 0 END) AS median
            FROM (SELECT event_type, x,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY x, d) AS rn,
                         COUNT(*) OVER (PARTITION BY event_type) AS m
                  FROM cnt)
            GROUP BY event_type
        ),
        sgn AS (
            SELECT c.event_type, c.d,
                   CASE WHEN c.x > m.median THEN 1 ELSE 0 END AS s
            FROM cnt c JOIN med m ON m.event_type = c.event_type
            WHERE c.x <> m.median
        ),
        runs AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN prev IS NULL OR s <> prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
                   CAST(SUM(s) AS BIGINT) AS n_plus,
                   CAST(SUM(1 - s) AS BIGINT) AS n_minus
            FROM (SELECT event_type, s,
                         LAG(s) OVER (PARTITION BY event_type ORDER BY d)
                             AS prev
                  FROM sgn)
            GROUP BY event_type
        )
        SELECT event_type, n_runs, n_plus, n_minus,
               ROUND((n_runs - (2.0 * n_plus * n_minus
                                / (n_plus + n_minus) + 1))
                     / SQRT(2.0 * n_plus * n_minus
                            * (2.0 * n_plus * n_minus - n_plus - n_minus)
                            / ((CAST(n_plus + n_minus AS DOUBLE))
                               * (n_plus + n_minus)
                               * (n_plus + n_minus - 1))), 9) AS z,
               CAST(ABS((n_runs - (2.0 * n_plus * n_minus
                                   / (n_plus + n_minus) + 1))
                        / SQRT(2.0 * n_plus * n_minus
                               * (2.0 * n_plus * n_minus - n_plus - n_minus)
                               / ((CAST(n_plus + n_minus AS DOUBLE))
                                  * (n_plus + n_minus)
                                  * (n_plus + n_minus - 1)))) > 1.96 AS INT)
                   AS non_random
        FROM runs
        ORDER BY event_type
    """,
    operators=(23, 31, 92, 365),
    doc="Wald-Wolfowitz runs test (#365) per daily-count series: "
    "dichotomize days against the series MEDIAN (exact rank "
    "selection, ties-at-median dropped per the standard recipe), "
    "count sign runs with one LAG window, and grade the normal "
    "approximation z = (R - (2ab/(a+b) + 1))/sigma_R — the "
    "randomness check that catches clustering/oscillation patterns "
    "mean-level tests (#92), trend tests (#322/#342) and "
    "autocorrelation (#343) each miss in their own way. Counts are "
    "exact BIGINTs; the median reuses the #342 rank-position "
    "selection; z is one identical IEEE tree at 1e-9. Scale: "
    "everything after the daily rollup runs on (series, day) cells.",
    bench=False,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    )
    cnt = o.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    w_rank = Window.partitionBy("event_type").orderBy("x", "d")
    ranked = cnt.select(
        "event_type",
        "x",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            (F.sum("x").cast("double") / F.count(F.lit(1))).alias("median")
        )
    )
    sgn = (
        cnt.join(med, "event_type")
        .filter(F.col("x") != F.col("median"))
        .select(
            "event_type",
            "d",
            F.when(F.col("x") > F.col("median"), 1).otherwise(0).alias("s"),
        )
    )
    w_seq = Window.partitionBy("event_type").orderBy("d")
    runs = (
        sgn.withColumn("prev", F.lag("s").over(w_seq))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_runs"),
            F.sum("s").cast("bigint").alias("n_plus"),
            F.sum(F.lit(1) - F.col("s")).cast("bigint").alias("n_minus"),
        )
    )
    a, b = F.col("n_plus"), F.col("n_minus")
    mu = 2.0 * a * b / (a + b) + 1
    sig = F.sqrt(
        2.0 * a * b * (2.0 * a * b - a - b)
        / ((a + b).cast("double") * (a + b) * (a + b - 1))
    )
    z = (F.col("n_runs") - mu) / sig
    return runs.select(
        "event_type",
        "n_runs",
        "n_plus",
        "n_minus",
        F.round(z, 9).alias("z"),
        (F.abs(z) > 1.96).cast("int").alias("non_random"),
    ).orderBy("event_type")
