"""Statistical-inference + clustering wave — SURVEY.md §2 (#272–#276).

Round-5 third wave: the distribution-comparison and resampling
machinery a production data-quality stack runs beside PSI (#234) and
the eval suite (#226–#239), plus the one classic unsupervised
primitive the engine still lacked (fixed-iteration Lloyd k-means).

Parity disciplines specific to this module (all proven elsewhere in
the repo, reused verbatim):

- Empirical CDFs and rank statistics stay INTEGER (counts, cents) as
  long as possible; each final statistic is a short identical IEEE
  tree on both engines quantized through DECIMAL(38,9) (stats_q._r9).
- "Randomness" is md5-derived at plan level (the q_weighted_sample
  discipline): Poisson(1) bootstrap weights come from inverse-CDF
  lookup of a 13-hex-char md5 uniform against hard-coded cumulative
  cutoffs, so every resample is reproducible from (key, replicate)
  alone on both engines.
- Iterative k-means unrolls as MATERIALIZED CTE chains in DuckDB
  (the q_pca_power lesson: DuckDB re-inlines chained CTEs otherwise)
  while Spark folds per-round centroids back in as literal arrays —
  centroid cells are k·d bounded driver state, the documented
  IVF-centroid discipline, never a data collect.
- Squared L2 distances are pure-double LEFT FOLDS over the dimension
  axis (Spark ``aggregate`` over ``zip_with`` vs DuckDB
  ``list_reduce``/``list_transform`` — the q_pca_power-proven
  bit-exact pattern), NOT per-term decimal sums. Measured reason:
  quantizing each squared-diff term through a decimal cast diverges
  between engines at any scale — Spark rescales the SHORTEST decimal
  repr (BigDecimal.valueOf) while DuckDB rounds the true binary
  expansion, and float-derived products land on half-boundaries often
  enough that one term in ~10^5 flips (measured at both scale 15 and
  scale 9 on sf0.1). A fold has no per-term rounding at all: both
  engines execute the identical 64-term IEEE chain, so distances are
  bit-identical and the (dist, cluster) argmin is deterministic.
  Only the 4 final inertia SUMS quantize (dist -> DECIMAL(38,9),
  summed exactly) — fold-output doubles have full-entropy mantissas,
  nowhere near the rescale ambiguity zone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query

_US_PER_DAY = 86_400_000_000

# sqrt(-ln(0.025)/2): the two-sided alpha=0.05 KS critical coefficient.
_KS_C05 = 1.3581015157406195

# Cumulative Poisson(1) CDF cutoffs P(X <= k) for k = 0..5; a uniform
# u maps to the smallest k with u < cutoff[k] (k = 6 beyond). Literal
# doubles so both engines compare against bit-identical constants.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _r9(col, alias: str):
    """double -> DECIMAL(38,9) -> double quantization (see stats_q._r9)."""
    return col.cast("decimal(38,9)").cast("double").alias(alias)


# ---------------------------------------------------------------------------
# #272 two-sample Kolmogorov–Smirnov drift test
# ---------------------------------------------------------------------------


@query(
    "q_ks_test",
    oracle=f"""
        WITH span AS (
            SELECT (MIN(EPOCH_US(CAST(ts AS TIMESTAMP)))
                    + MAX(EPOCH_US(CAST(ts AS TIMESTAMP)))) // 2 AS mid
            FROM events
        ),
        pts AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   CASE WHEN EPOCH_US(CAST(ts AS TIMESTAMP)) <= span.mid
                        THEN 1 ELSE 0 END AS in_a
            FROM events, span
        ),
        cells AS (
            SELECT event_type, cents,
                   CAST(SUM(in_a) AS BIGINT) AS ca,
                   CAST(SUM(1 - in_a) AS BIGINT) AS cb
            FROM pts GROUP BY 1, 2
        ),
        cdf AS (
            SELECT event_type,
                   SUM(ca) OVER (PARTITION BY event_type ORDER BY cents)
                       AS cum_a,
                   SUM(cb) OVER (PARTITION BY event_type ORDER BY cents)
                       AS cum_b,
                   SUM(ca) OVER (PARTITION BY event_type) AS n_a,
                   SUM(cb) OVER (PARTITION BY event_type) AS n_b
            FROM cells
        ),
        ks AS (
            SELECT event_type,
                   CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   CAST(CAST(MAX(ABS(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                                     - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
                             AS DECIMAL(38,9)) AS DOUBLE) AS ks_d,
                   CAST(CAST(CAST({_KS_C05!r} AS DOUBLE)
                             * SQRT(CAST(n_a + n_b AS DOUBLE)
                                    / CAST(n_a * n_b AS DOUBLE))
                             AS DECIMAL(38,9)) AS DOUBLE) AS ks_crit_05
            FROM cdf GROUP BY event_type, n_a, n_b
        )
        SELECT event_type, n_a, n_b, ks_d, ks_crit_05,
               CAST(CASE WHEN ks_d > ks_crit_05 THEN 1 ELSE 0 END AS BIGINT)
                   AS drift
        FROM ks
    """,
    operators=(23, 31, 43, 272),
    doc="Two-sample Kolmogorov–Smirnov drift test (#272): per event "
    "type, the value distribution of the first half of the time span "
    "vs the second (split at the integer epoch-micro midpoint — "
    "interval/2 halves days integrally in DuckDB, so midpoints are "
    "computed in BIGINT micros on both engines). D = sup over "
    "distinct values of |ECDF_a - ECDF_b|, with the alpha=0.05 "
    "two-sided critical value and a drift flag — the nonparametric "
    "companion to PSI (#234) that needs no binning choice. Parity: "
    "values collapse to exact cents, CDFs are integer running counts, "
    "each ECDF gap is two IEEE divisions of exact integers, max is "
    "order-independent, result quantized at 1e-9. Scale: the groupBy "
    "collapses ties map-side so the shuffle carries (series, "
    "distinct-value) rows, and every window partitions by the series "
    "key — no global single-partition sort anywhere.",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    span = e.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid")
    )
    pts = e.join(F.broadcast(span)).select(
        "event_type",
        "cents",
        F.when(F.col("us") <= F.col("mid"), 1).otherwise(0).alias("in_a"),
    )
    cells = pts.groupBy("event_type", "cents").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cdf = cells.select(
        "event_type",
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
        F.sum("ca").over(w_all).alias("n_a"),
        F.sum("cb").over(w_all).alias("n_b"),
    )
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a").cast("double")
        - F.col("cum_b").cast("double") / F.col("n_b").cast("double")
    )
    crit = F.lit(_KS_C05) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    ks = cdf.groupBy("event_type", "n_a", "n_b").agg(
        _r9(F.max(gap), "ks_d"),
        _r9(F.first(crit), "ks_crit_05"),
    )
    return ks.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "ks_d",
        "ks_crit_05",
        F.when(F.col("ks_d") > F.col("ks_crit_05"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("drift"),
    )


# ---------------------------------------------------------------------------
# #273 fixed-iteration Lloyd k-means over the embedding corpus
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 3
_KM_DIM = 64

_KM_SEED_WORD = "CAST(('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"


def _km_sql_assign(cells: str, out: str) -> str:
    """One DuckDB Lloyd assignment round: left-fold double distance
    against each centroid list -> deterministic (dist, cluster) argmin."""
    return f"""
        {out}_l AS MATERIALIZED (
            SELECT cluster, LIST(val ORDER BY pos) AS vals
            FROM {cells} GROUP BY cluster
        ),
        {out} AS MATERIALIZED (
            SELECT vec_id, label, embedding, cluster, dist FROM (
                SELECT e.vec_id, e.label, e.embedding, c.cluster,
                       LIST_REDUCE(
                           LIST_TRANSFORM(range(1, {_KM_DIM + 1}),
                               i -> (CAST(e.embedding[i] AS DOUBLE)
                                     - c.vals[i])
                                    * (CAST(e.embedding[i] AS DOUBLE)
                                       - c.vals[i])),
                           (acc, x) -> acc + x) AS dist
                FROM embeddings e, {out}_l c
            )
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cluster) = 1
        )"""


def _km_sql_update(assign: str, prev: str, out: str) -> str:
    """One DuckDB centroid update: per-(cluster, dim) decimal-exact
    mean; empty clusters keep their previous centroid (COALESCE)."""
    return f"""
        {out}_m AS MATERIALIZED (
            SELECT a.cluster, t.i AS pos,
                   CAST(SUM(CAST(CAST(a.embedding[t.i + 1] AS DOUBLE)
                                 AS DECIMAL(38,9))) AS DOUBLE)
                       / COUNT(*) AS val
            FROM {assign} a, range({_KM_DIM}) t(i)
            GROUP BY a.cluster, t.i
        ),
        {out} AS MATERIALIZED (
            SELECT p.cluster, p.pos, COALESCE(m.val, p.val) AS val
            FROM {prev} p
            LEFT JOIN {out}_m m ON m.cluster = p.cluster AND m.pos = p.pos
        )"""


@query(
    "q_kmeans_fixed",
    oracle=f"""
        WITH seeds AS MATERIALIZED (
            SELECT vec_id, embedding,
                   ROW_NUMBER() OVER (ORDER BY {_KM_SEED_WORD}, vec_id) - 1
                       AS cluster
            FROM embeddings
            QUALIFY ROW_NUMBER() OVER (ORDER BY {_KM_SEED_WORD}, vec_id)
                    <= {_KM_K}
        ),
        c0 AS MATERIALIZED (
            SELECT cluster, t.i AS pos,
                   CAST(embedding[t.i + 1] AS DOUBLE) AS val
            FROM seeds, range({_KM_DIM}) t(i)
        ),
        {_km_sql_assign("c0", "a1")},
        {_km_sql_update("a1", "c0", "c1")},
        {_km_sql_assign("c1", "a2")},
        {_km_sql_update("a2", "c1", "c2")},
        {_km_sql_assign("c2", "a3")},
        lab AS (
            SELECT cluster, label, COUNT(*) AS k FROM a3 GROUP BY 1, 2
        ),
        top_lab AS (
            SELECT cluster, label AS top_label FROM lab
            QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
                                       ORDER BY k DESC, label) = 1
        )
        SELECT a3.cluster,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(a3.dist AS DECIMAL(38,9))) AS DOUBLE)
                   AS inertia,
               CAST(MIN(t.top_label) AS BIGINT) AS top_label
        FROM a3 JOIN top_lab t ON t.cluster = a3.cluster
        GROUP BY a3.cluster
    """,
    operators=(44, 62, 273),
    doc=f"Fixed-iteration Lloyd k-means (#273): k={_KM_K} centroids "
    f"over the {_KM_DIM}-dim embedding corpus, md5-ranked "
    f"deterministic seeding, {_KM_ITERS} unrolled assign/update "
    "rounds, reporting final cluster sizes, exact inertia, and the "
    "majority ground-truth label per cluster. Distances are pure-"
    "double left folds over the dimension axis — bit-identical on "
    "both engines (see the module docstring for why per-term decimal "
    "quantization is NOT portable) — so the (dist, cluster) argmin "
    "tie-break is engine-deterministic; centroid means are decimal-"
    "exact sums over one IEEE division. Spark folds each round's k*d=256 centroid cells "
    "back in as literal arrays (bounded driver state, the IVF-"
    "centroid discipline) so assignment is row-local against "
    "broadcast constants and the only shuffle per round is the "
    "k*d-cell map-side-combined mean; DuckDB unrolls the rounds as "
    "MATERIALIZED CTEs (the q_pca_power re-inlining lesson). Empty "
    "clusters deterministically keep their previous centroid on both "
    "engines.",
)
def q_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .cache()
    )
    word = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    seed_rows = emb.orderBy(word, "vec_id").limit(_KM_K).collect()
    cents: dict[int, list[float]] = {
        i: [float(x) for x in r.v] for i, r in enumerate(seed_rows)
    }

    def assign(c: dict[int, list[float]]) -> DataFrame:
        # Arrow-vectorized exact argmin (similarity.lloyd_assign_udf):
        # bit-identical to the k zip_with/aggregate HOF trees it
        # replaces (same fold order, same (dist, cluster) tie-break).
        from zmaxion_spark.functions import similarity as S

        best = S.lloyd_assign_udf(c)(F.col("v"))
        return emb.select(
            "vec_id",
            "label",
            "v",
            best.getField("cluster").alias("cluster"),
            best.getField("dist").alias("dist"),
        )

    a = assign(cents)
    for _ in range(_KM_ITERS - 1):
        # centroid update: k*d cells, map-side combined, bounded collect
        cells = (
            a.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(38,9)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("val")
            )
            .collect()
        )
        new_c = dict(cents)  # empty clusters keep previous centroids
        by_cluster: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.val
        for cid, dims in by_cluster.items():
            new_c[cid] = [dims[p] for p in range(_KM_DIM)]
        cents = new_c
        a = assign(cents)

    lab = a.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("k"))
    w = Window.partitionBy("cluster").orderBy(F.desc("k"), "label")
    top = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("top_label"))
    )
    return (
        a.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("dist").cast("decimal(38,9)"))
            .cast("double")
            .alias("inertia"),
        )
        .join(top, "cluster")
        .select(
            "cluster",
            F.col("n").cast("bigint").alias("n"),
            "inertia",
            F.col("top_label").cast("bigint").alias("top_label"),
        )
    )


# ---------------------------------------------------------------------------
# #274 Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_B = 64  # bootstrap replicates; 95% CI = rank-2 / rank-63 resample means


def _pois_case_sql(u: str) -> str:
    parts = [
        f"WHEN {u} < CAST({c!r} AS DOUBLE) THEN {k}"
        for k, c in enumerate(_POIS1_CDF)
    ]
    return "CASE " + " ".join(parts) + " ELSE 6 END"


@query(
    "q_bootstrap_ci",
    oracle=f"""
        WITH draws AS (
            SELECT o.o_orderpriority, b.b,
                   {_pois_case_sql(
                       "CAST(CAST(('0x' || SUBSTR(MD5(CAST(o.o_orderkey AS VARCHAR)"
                       " || ':' || CAST(b.b AS VARCHAR)), 1, 13)) AS BIGINT)"
                       " AS DOUBLE) / 4503599627370496"
                   )} AS w,
                   CAST(o.o_totalprice AS DECIMAL(38,6)) AS price
            FROM orders o, range({_B}) b(b)
        ),
        res AS (
            SELECT o_orderpriority, b,
                   CAST(SUM(w * price) AS DOUBLE)
                       / CAST(SUM(w) AS DOUBLE) AS mean_b
            FROM draws GROUP BY 1, 2
            HAVING SUM(w) > 0
        ),
        ranked AS (
            SELECT o_orderpriority, mean_b,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY mean_b, b) AS rk,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS nb
            FROM res
        ),
        ci AS (
            SELECT o_orderpriority,
                   MAX(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
                   MAX(CASE WHEN rk = nb - 1 THEN mean_b END) AS ci_hi,
                   CAST(MAX(nb) AS BIGINT) AS n_resamples
            FROM ranked GROUP BY o_orderpriority
        ),
        pt AS (
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS mean_price
            FROM orders GROUP BY o_orderpriority
        )
        SELECT pt.o_orderpriority, pt.n, pt.mean_price,
               ci.ci_lo, ci.ci_hi, ci.n_resamples
        FROM pt JOIN ci USING (o_orderpriority)
    """,
    operators=(24, 43, 47, 274),
    doc=f"Poisson-bootstrap 95% CI (#274) of mean order value per "
    f"priority class: each (order, replicate) draws a deterministic "
    f"Poisson(1) weight by inverse-CDF lookup of the md5 uniform "
    f"hash(orderkey:b)/2^52 against hard-coded cumulative cutoffs — "
    f"the standard single-pass bootstrap for data too large to "
    f"resample by index (each of the {_B} replicates is a weighted "
    "aggregate, never a materialized copy). Resample means are "
    "decimal-exact sums over one IEEE division; the CI is rank-"
    "selected (rank 2 / rank B-1 of B=64), no interpolation to "
    "drift. Scale: the replicate explode is a generator (no shuffle "
    "of its input) and partial aggregation collapses it map-side, so "
    "the exchange carries B x |groups| rows regardless of data size.",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(38,6)").alias("price"),
    )
    # Spread the narrow projection across the cluster BEFORE the B-fold
    # explode (guide §2.5 input skew): the local fixture is one parquet
    # row group → a 1-partition scan, so the 9.6M-row md5|conv|CASE
    # chain below otherwise runs on a single core. All downstream
    # aggregates are exact (decimal / long), so partitioning cannot
    # change any result bit. Measured 10.1 → 1.2 s at sf0.1.
    from zmaxion_spark.catalog import spread

    draws = spread(o).select(
        "o_orderpriority",
        "price",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        "o_orderkey",
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
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
    # Project u as its own column BEFORE the inverse-CDF CASE: Spark's
    # codegen does not common-subexpression-eliminate across WHEN
    # branches, so inlining u into the 6 predicates re-evaluates the
    # md5|conv chain per branch (measured 2x slower at sf0.1). The
    # intermediate select leaves enough CSE structure to evaluate it
    # ~once. (A transform()-bound lambda variable would force exactly
    # once but drops the expression out of whole-stage codegen —
    # measured SLOWER than the partially-eliminated CASE.)
    stepped = draws.select("o_orderpriority", "b", "price", u.alias("u"))
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    res = (
        stepped.select("o_orderpriority", "b", w.alias("w"), "price")
        .groupBy("o_orderpriority", "b")
        .agg(
            (
                F.sum(F.col("w") * F.col("price")).cast("double")
                / F.sum("w").cast("double")
            ).alias("mean_b"),
            F.sum("w").alias("wn"),
        )
        .filter(F.col("wn") > 0)
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("mean_b", "b")
    wall = Window.partitionBy("o_orderpriority")
    ranked = res.select(
        "o_orderpriority",
        "mean_b",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("nb"),
    )
    ci = ranked.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_b"))).alias("ci_lo"),
        F.max(
            F.when(F.col("rk") == F.col("nb") - 1, F.col("mean_b"))
        ).alias("ci_hi"),
        F.max("nb").cast("bigint").alias("n_resamples"),
    )
    pt = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("price").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_price"),
    )
    return pt.join(ci, "o_orderpriority").select(
        "o_orderpriority", "n", "mean_price", "ci_lo", "ci_hi", "n_resamples"
    )


# ---------------------------------------------------------------------------
# #275 seasonal decomposition (centered-MA detrend + day-of-week index)
# ---------------------------------------------------------------------------


@query(
    "q_seasonal_decompose",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ),
        ma AS (
            SELECT event_type, day_idx, cents,
                   SUM(cents) OVER w AS sum7,
                   COUNT(*) OVER w AS cnt7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        detr AS (
            SELECT event_type,
                   CAST((day_idx + 4) % 7 AS BIGINT) AS dow,
                   7 * cents - sum7 AS d7
            FROM ma WHERE cnt7 = 7
        )
        SELECT event_type, dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(CAST(CAST(SUM(d7) AS DOUBLE)
                         / CAST(COUNT(*) * 700 AS DOUBLE)
                         AS DECIMAL(38,9)) AS DOUBLE) AS seasonal,
               CAST(CAST(SQRT(CAST(COUNT(*) * SUM(CAST(d7 AS DECIMAL(18,0))
                                               * CAST(d7 AS DECIMAL(18,0)))
                                   - SUM(CAST(d7 AS DECIMAL(18,0)))
                                     * SUM(CAST(d7 AS DECIMAL(18,0)))
                                   AS DOUBLE)
                              / CAST(COUNT(*) * (COUNT(*) - 1) AS DOUBLE))
                         / CAST(700 AS DOUBLE)
                         AS DECIMAL(38,9)) AS DOUBLE) AS resid_sd
        FROM detr
        WHERE dow IS NOT NULL
        GROUP BY event_type, dow
        HAVING COUNT(*) >= 2
    """,
    operators=(31, 42, 87, 275),
    doc="Classical seasonal decomposition (#275) of the daily revenue "
    "series per event type: centered 7-day moving-average trend, "
    "day-of-week seasonal index of the detrended series, and the "
    "residual standard deviation (trend-and-season-removed noise "
    "floor — the input an anomaly threshold actually wants). "
    "Everything stays INTEGER until the final statistics: detrended "
    "value is scaled by 7 (d7 = 7*cents - sum7, exact BIGINT), the "
    "seasonal index is one IEEE division, and the residual sd within "
    "a (type, dow) cell equals the sd of d7/700 — computed from "
    "decimal-exact sum/sum-of-squares, so no per-row float "
    "accumulates anywhere. Day-of-week derives from epoch days "
    "((d + 4) % 7), immune to engine DOW-origin disagreement. "
    "Scale: one map-side-combined daily rollup, then windows "
    "partitioned by series key over |days| rows.",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("day_idx"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    daily = e.groupBy("event_type", "day_idx").agg(
        F.sum("c").cast("bigint").alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "day_idx",
        "cents",
        F.sum("cents").over(w).alias("sum7"),
        F.count(F.lit(1)).over(w).alias("cnt7"),
    )
    detr = ma.filter(F.col("cnt7") == 7).select(
        "event_type",
        ((F.col("day_idx") + 4) % 7).cast("bigint").alias("dow"),
        (7 * F.col("cents") - F.col("sum7")).alias("d7"),
    )
    d7dec = F.col("d7").cast("decimal(18,0)")
    n = F.count(F.lit(1))
    sx = F.sum(d7dec)
    sx2 = F.sum(d7dec * d7dec)
    return (
        detr.groupBy("event_type", "dow")
        .agg(
            n.cast("bigint").alias("n_days"),
            _r9(
                F.sum("d7").cast("double")
                / (n * 700).cast("double"),
                "seasonal",
            ),
            _r9(
                F.sqrt(
                    (n * sx2 - sx * sx).cast("double")
                    / (n * (n - 1)).cast("double")
                )
                / F.lit(700.0),
                "resid_sd",
            ),
        )
        .filter(F.col("n_days") >= 2)
    )


# ---------------------------------------------------------------------------
# #276 mutual information between two categorical columns
# ---------------------------------------------------------------------------


@query(
    "q_mutual_information",
    oracle="""
        WITH cells AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS k
            FROM documents GROUP BY 1, 2
        ),
        marg AS (
            SELECT lang, source, k,
                   SUM(k) OVER (PARTITION BY lang) AS kl,
                   SUM(k) OVER (PARTITION BY source) AS ks,
                   SUM(k) OVER () AS n
            FROM cells
        ),
        mi AS (
            SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
                   CAST(SUM(CAST(
                       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       * LN(CAST(k * n AS DOUBLE) / CAST(kl * ks AS DOUBLE))
                       AS DECIMAL(38,9))) AS DOUBLE) AS mi_nats
            FROM marg
        ),
        hl AS (
            SELECT CAST(SUM(CAST(
                       -(CAST(kl AS DOUBLE) / CAST(n AS DOUBLE))
                       * LN(CAST(kl AS DOUBLE) / CAST(n AS DOUBLE))
                       AS DECIMAL(38,9))) AS DOUBLE) AS h_lang
            FROM (SELECT DISTINCT lang, kl, n FROM marg)
        ),
        hs AS (
            SELECT CAST(SUM(CAST(
                       -(CAST(ks AS DOUBLE) / CAST(n AS DOUBLE))
                       * LN(CAST(ks AS DOUBLE) / CAST(n AS DOUBLE))
                       AS DECIMAL(38,9))) AS DOUBLE) AS h_source
            FROM (SELECT DISTINCT source, ks, n FROM marg)
        )
        SELECT n_docs,
               CAST(CAST(mi_nats AS DECIMAL(38,9)) AS DOUBLE) AS mi_nats,
               CAST(CAST(h_lang AS DECIMAL(38,9)) AS DOUBLE) AS h_lang,
               CAST(CAST(h_source AS DECIMAL(38,9)) AS DOUBLE) AS h_source,
               CAST(CAST(mi_nats / SQRT(h_lang * h_source)
                         AS DECIMAL(38,9)) AS DOUBLE) AS nmi
        FROM mi, hl, hs
    """,
    operators=(23, 31, 43, 276),
    doc="Mutual information (#276) between document language and "
    "source: MI = sum over cells of p(x,y)*ln(p(x,y)/(p(x)p(y))), "
    "with both marginal entropies and the sqrt-normalized NMI — the "
    "symmetric dependence measure beside the supervised WOE/IV "
    "(#212) for feature-redundancy screening. One pass builds the "
    "joint contingency cells; marginals are window sums OVER the "
    "cells (never a second scan of the data). Each MI term is an "
    "identical IEEE tree on exact integer counts, terms sum through "
    "DECIMAL(38,9) (the #271 entropy discipline). Scale: the "
    "shuffle carries one row per observed (x,y) cell — bounded by "
    "the category-domain product, independent of row count.",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # localCheckpoint: three consumers (MI + two marginal entropies)
    # must not re-derive the cells — i.e. re-scan the corpus — per
    # branch; the materialized frame is |lang|x|source| rows.
    cells = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        .localCheckpoint(eager=True)
    )
    marg = cells.select(
        "lang",
        "source",
        "k",
        F.sum("k").over(Window.partitionBy("lang")).alias("kl"),
        F.sum("k").over(Window.partitionBy("source")).alias("ks"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    term = (F.col("k").cast("double") / F.col("n").cast("double")) * F.log(
        (F.col("k") * F.col("n")).cast("double")
        / (F.col("kl") * F.col("ks")).cast("double")
    )
    mi = marg.agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum(term.cast("decimal(38,9)")).cast("double").alias("mi_nats"),
    )

    def _h(col: str, tot: str, alias: str) -> DataFrame:
        p = F.col(tot).cast("double") / F.col("n").cast("double")
        return (
            marg.select(col, tot, "n")
            .distinct()
            .agg(
                F.sum((-p * F.log(p)).cast("decimal(38,9)"))
                .cast("double")
                .alias(alias)
            )
        )

    out = mi.join(_h("lang", "kl", "h_lang")).join(
        _h("source", "ks", "h_source")
    )
    return out.select(
        "n_docs",
        _r9(F.col("mi_nats"), "mi_nats"),
        _r9(F.col("h_lang"), "h_lang"),
        _r9(F.col("h_source"), "h_source"),
        _r9(
            F.col("mi_nats") / F.sqrt(F.col("h_lang") * F.col("h_source")),
            "nmi",
        ),
    )


# ---------------------------------------------------------------------------
# #278 split-conformal prediction intervals (Mondrian, per priority class)
# ---------------------------------------------------------------------------

_CP_FLOOR = 0.85  # graded finite-sample coverage floor (nominal 0.9)


@query(
    "q_conformal_intervals",
    oracle=f"""
        WITH split AS (
            SELECT o_orderpriority AS grp, o_totalprice AS y, o_orderkey,
                   CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                        AS BIGINT) % 4 AS b
            FROM orders
        ),
        model AS (
            SELECT grp,
                   CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                       AS pred
            FROM split WHERE b <= 1 GROUP BY grp
        ),
        cal AS (
            SELECT s.grp, ABS(s.y - m.pred) AS r, s.o_orderkey
            FROM split s JOIN model m USING (grp) WHERE s.b = 2
        ),
        caln AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal GROUP BY grp),
        qhat AS (
            SELECT c.grp, caln.n_cal, MIN(c.r) AS q_hat
            FROM (
                SELECT grp, r,
                       ROW_NUMBER() OVER (PARTITION BY grp
                                          ORDER BY r, o_orderkey) AS rn
                FROM cal
            ) c
            JOIN caln USING (grp)
            WHERE c.rn = (9 * (caln.n_cal + 1) + 9) // 10
            GROUP BY c.grp, caln.n_cal
        ),
        test AS (
            SELECT s.grp, ABS(s.y - m.pred) AS r
            FROM split s JOIN model m USING (grp) WHERE s.b = 3
        )
        SELECT t.grp AS o_orderpriority,
               q.n_cal,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(CAST(q.q_hat AS DECIMAL(38,6)) AS DOUBLE) AS q_hat,
               CAST(CAST(CAST(SUM(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*)
                         AS DECIMAL(38,9)) AS DOUBLE) AS coverage,
               CAST(CASE WHEN CAST(SUM(CASE WHEN t.r <= q.q_hat THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*) >= {_CP_FLOOR}
                    THEN 1 ELSE 0 END AS BIGINT) AS coverage_ok
        FROM test t JOIN qhat q ON q.grp = t.grp
        GROUP BY t.grp, q.n_cal, q.q_hat
    """,
    operators=(30, 43, 47, 278),
    doc="Split-conformal prediction intervals (#278), Mondrian per "
    "priority class: a 50/25/25 md5 split trains the (deliberately "
    "simple) per-group mean model, the calibration quarter yields "
    "q_hat = the ceil(0.9*(n+1))-th smallest absolute residual — the "
    "distribution-free finite-sample quantile — and the held-out "
    "quarter grades empirical coverage of pred +/- q_hat against a "
    "0.85 floor (nominal 0.9; the conformal guarantee needs NO "
    "distributional assumption, which is the whole point). Rank "
    "selection is exact (ties by key, no interpolation); the model "
    "mean is a decimal-exact sum over one IEEE division. Scale: two "
    "hash aggregates over |groups| cells plus one rank window per "
    "group over the calibration quarter.",
)
def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    word = F.conv(
        F.substring(
            F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    # cache: five consumers (model/cal/caln/qhat/test) must read the
    # split projection once, not re-scan the table per branch
    split = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("y"),
        "o_orderkey",
        (word % 4).alias("b"),
    ).cache()
    model = (
        split.filter(F.col("b") <= 1)
        .groupBy("grp")
        .agg(
            (
                F.sum(F.col("y").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("pred")
        )
    )
    cal = (
        split.filter(F.col("b") == 2)
        .join(F.broadcast(model), "grp")
        .select("grp", F.abs(F.col("y") - F.col("pred")).alias("r"), "o_orderkey")
    )
    caln = cal.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    w = Window.partitionBy("grp").orderBy("r", "o_orderkey")
    qhat = (
        cal.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(caln), "grp")
        # ceil(0.9*(n+1)) as INTEGER ceil division: a double 0.9*(n+1)
        # can land an ulp above/below the integer when n+1 is a
        # multiple of 10 while DuckDB's DECIMAL literal product is
        # exact — CEIL would then disagree by 1 rank.
        .filter(F.col("rn") == F.expr("(9 * (n_cal + 1) + 9) div 10"))
        .groupBy("grp", "n_cal")
        .agg(F.min("r").alias("q_hat"))
    )
    test = (
        split.filter(F.col("b") == 3)
        .join(F.broadcast(model), "grp")
        .select("grp", F.abs(F.col("y") - F.col("pred")).alias("r"))
    )
    cov = F.sum(F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0)).cast(
        "double"
    ) / F.count(F.lit(1))
    return (
        test.join(F.broadcast(qhat), "grp")
        .groupBy(F.col("grp").alias("o_orderpriority"), "n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            cov.cast("decimal(38,9)").cast("double").alias("coverage"),
            (cov >= _CP_FLOOR).cast("bigint").alias("coverage_ok"),
        )
        .select(
            "o_orderpriority",
            "n_cal",
            "n_test",
            F.col("q_hat").cast("decimal(38,6)").cast("double").alias("q_hat"),
            "coverage",
            "coverage_ok",
        )
    )


# ---------------------------------------------------------------------------
# #279 quantile normalization (rank-matched to the global profile)
# ---------------------------------------------------------------------------


@query(
    "q_quantile_normalize",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS gr,
                   COUNT(*) OVER (PARTITION BY source) AS ng,
                   COUNT(*) OVER () AS n
            FROM documents
        ),
        cum AS (
            SELECT n_chars AS val,
                   SUM(k) OVER (ORDER BY n_chars)
                       - k + 1 AS lo,
                   SUM(k) OVER (ORDER BY n_chars) AS hi
            FROM (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS k
                  FROM documents GROUP BY n_chars)
        ),
        mapped AS (
            SELECT r.source, r.n_chars,
                   ((2 * r.gr - 1) * r.n + r.ng) // (2 * r.ng) AS tr,
                   c.val AS norm_chars
            FROM ranked r
            JOIN cum c
              ON ((2 * r.gr - 1) * r.n + r.ng) // (2 * r.ng) >= c.lo
             AND ((2 * r.gr - 1) * r.n + r.ng) // (2 * r.ng) <= c.hi
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_before,
               CAST(SUM(norm_chars) AS BIGINT) AS sum_after,
               CAST(MAX(ABS(norm_chars - n_chars)) AS BIGINT) AS max_shift
        FROM mapped GROUP BY source
    """,
    operators=(17, 30, 279),
    doc="Quantile normalization (#279): each source's document-length "
    "distribution is rank-matched onto the GLOBAL length profile "
    "(within-group rank gr of ng maps to the global order statistic "
    "at rank ((2*gr-1)*N + ng) // (2*ng), the integer-exact midpoint "
    "quantile) — the cross-source debiasing step that makes length "
    "gates comparable across crawls, and the batch-effect remover "
    "bioinformatics runs on arrays. Everything is integer rank "
    "algebra: no interpolation, no floats anywhere. The global "
    "profile compresses to (distinct value, rank range) cells "
    "(the exact-quantile-at-scale discipline) and the rank lookup is "
    "a broadcast range join against it — the global sort never "
    "materializes a single-partition pass over raw rows.",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wg = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    n_tot = d.agg(F.count(F.lit(1)).alias("n"))
    ranked = d.crossJoin(F.broadcast(n_tot)).select(
        "source",
        "n_chars",
        F.row_number().over(wg).alias("gr"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ng"),
        "n",
    )
    k = d.groupBy("n_chars").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    wc = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = k.select(
        F.col("n_chars").alias("val"),
        (F.sum("k").over(wc) - F.col("k") + 1).alias("lo"),
        F.sum("k").over(wc).alias("hi"),
    )
    tr = F.expr("((2 * gr - 1) * n + ng) div (2 * ng)")
    mapped = (
        ranked.withColumn("tr", tr)
        .join(
            F.broadcast(cum),
            (F.col("tr") >= F.col("lo")) & (F.col("tr") <= F.col("hi")),
        )
        .select("source", "n_chars", F.col("val").alias("norm_chars"))
    )
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_before"),
        F.sum("norm_chars").cast("bigint").alias("sum_after"),
        F.max(F.abs(F.col("norm_chars") - F.col("n_chars")))
        .cast("bigint")
        .alias("max_shift"),
    )


# ---------------------------------------------------------------------------
# #280 chi-square feature screening (per-source dependence on language)
# ---------------------------------------------------------------------------


@query(
    "q_chi2_screen",
    oracle="""
        WITH cells AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
            FROM documents GROUP BY 1, 2
        ),
        grid AS (
            SELECT l.lang, s.source, l.kl, s.ks, s.n,
                   COALESCE(c.o, 0) AS o
            FROM (SELECT lang, SUM(o) AS kl FROM cells GROUP BY lang) l
            CROSS JOIN (SELECT source, SUM(o) AS ks, SUM(SUM(o)) OVER () AS n
                        FROM cells GROUP BY source) s
            LEFT JOIN cells c ON c.lang = l.lang AND c.source = s.source
        ),
        parts AS (
            SELECT source,
                   CAST(SUM(CAST(
                       (CAST(o AS DOUBLE)
                        - CAST(kl * ks AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(o AS DOUBLE)
                          - CAST(kl * ks AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(kl * ks AS DOUBLE) / CAST(n AS DOUBLE))
                       AS DECIMAL(38,9))) AS DOUBLE) AS chi2_src,
                   CAST(COUNT(*) - 1 AS BIGINT) AS dof
            FROM grid GROUP BY source
        )
        SELECT source, dof,
               CAST(CAST(chi2_src AS DECIMAL(38,9)) AS DOUBLE) AS chi2_src,
               CAST(ROW_NUMBER() OVER (ORDER BY CAST(CAST(chi2_src AS
                        DECIMAL(38,9)) AS DOUBLE) DESC, source) AS BIGINT)
                   AS rnk
        FROM parts
    """,
    operators=(23, 31, 43, 280),
    doc="Chi-square feature screening (#280): per source, the "
    "chi-square statistic of its language distribution against the "
    "corpus-wide expectation E = row*col/n — ranked descending, the "
    "classic supervised feature-selection screen beside the symmetric "
    "MI (#276) and the monotone WOE/IV (#212). The grid CTE "
    "materializes EMPTY cells too (COALESCE 0): a sparse cells-only "
    "sum silently understates chi2 by every (O-E)^2/E = E term a "
    "missing combination contributes. Each term is an identical IEEE "
    "tree on exact integer marginals, summed through DECIMAL(38,9); "
    "ranks order by the quantized statistic with a source tiebreak. "
    "Scale: the shuffle carries one row per (lang, source) cell.",
)
def q_chi2_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ).localCheckpoint(eager=True)
    lmarg = cells.groupBy("lang").agg(F.sum("o").alias("kl"))
    smarg = cells.groupBy("source").agg(F.sum("o").alias("ks"))
    n = cells.agg(F.sum("o").alias("n"))
    grid = (
        lmarg.crossJoin(F.broadcast(smarg))
        .crossJoin(F.broadcast(n))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "kl",
            "ks",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    e = (F.col("kl") * F.col("ks")).cast("double") / F.col("n").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    parts = grid.groupBy("source").agg(
        F.sum(term.cast("decimal(38,9)")).cast("double").alias("chi2_src"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
    )
    wr = Window.orderBy(
        F.desc(F.col("chi2_src").cast("decimal(38,9)").cast("double")), "source"
    )
    return parts.select(
        "source",
        "dof",
        F.col("chi2_src").cast("decimal(38,9)").cast("double").alias("chi2_src"),
        F.row_number().over(wr).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# #284 propensity-score matching (nearest-neighbor ATT with caliper)
# ---------------------------------------------------------------------------

# Fixed-coefficient propensity model (the #222 discipline: md5-derived
# plan-time constants standing in for trained parameters) and the
# deterministic md5-uniform treatment draw it biases.
_PSM_W0, _PSM_W1, _PSM_W2 = -0.8, 0.25, -0.1
_PSM_CALIPER = 0.05


@query(
    "q_propensity_match",
    oracle=f"""
        WITH rev AS (
            SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS y
            FROM orders GROUP BY o_custkey
        ),
        units AS (
            SELECT c.c_custkey AS id,
                   CAST(COALESCE(rev.y, 0) AS DOUBLE) AS y,
                   ROUND(1 / (1 + EXP(-({_PSM_W0!r}
                       + {_PSM_W1!r} * (c.c_acctbal / 1000.0)
                       + {_PSM_W2!r} * (c.c_nationkey % 5)))), 9) AS p,
                   CAST(CAST(('0x' || SUBSTR(MD5(CAST(c.c_custkey AS VARCHAR)),
                                             1, 13)) AS BIGINT) AS DOUBLE)
                       / 4503599627370496 AS u
            FROM customer c LEFT JOIN rev ON rev.o_custkey = c.c_custkey
        ),
        flagged AS (
            SELECT id, y, p, CAST(u < p AS INT) AS treated
            FROM units
        ),
        stacked AS (
            SELECT id, y, p, treated,
                   LAST_VALUE(CASE WHEN treated = 0
                                   THEN struct_pack(p := p, y := y, id := id)
                              END IGNORE NULLS)
                       OVER (ORDER BY p, treated, id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS bwd,
                   FIRST_VALUE(CASE WHEN treated = 0
                                    THEN struct_pack(p := p, y := y, id := id)
                               END IGNORE NULLS)
                       OVER (ORDER BY p, treated, id
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS fwd
            FROM flagged
        ),
        matched AS (
            SELECT id, y, p,
                   CASE
                     WHEN bwd IS NULL AND fwd IS NULL THEN NULL
                     WHEN fwd IS NULL THEN bwd
                     WHEN bwd IS NULL THEN fwd
                     WHEN p - bwd.p <= fwd.p - p THEN bwd
                     ELSE fwd
                   END AS m
            FROM stacked WHERE treated = 1
        ),
        pairs AS (
            SELECT id, y, p, m.p AS pc, m.y AS yc
            FROM matched
            WHERE m IS NOT NULL AND ABS(p - m.p) <= {_PSM_CALIPER!r}
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM matched) AS n_treated,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(CAST(SUM(CAST(y - yc AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*) AS DOUBLE) AS att,
               CAST(CAST(CAST(SUM(CAST(p AS DECIMAL(38,9))) AS DOUBLE)
                    / COUNT(*) AS DECIMAL(38,9)) AS DOUBLE) AS mean_p_treated,
               CAST(CAST(CAST(SUM(CAST(pc AS DECIMAL(38,9))) AS DOUBLE)
                    / COUNT(*) AS DECIMAL(38,9)) AS DOUBLE) AS mean_p_control
        FROM pairs
    """,
    operators=(14, 31, 43, 284),
    doc="Propensity-score matching (#284), the causal-inference "
    "workhorse beside diff-in-diff (#249): a fixed-coefficient "
    "logistic propensity (the #222 pattern) both BIASES the "
    "deterministic md5-uniform treatment draw (confounding by "
    "construction — treated units really do have higher balances) "
    "and then deconfounds it: each treated customer matches its "
    "nearest control by propensity (backward/forward ignore-nulls "
    "window scan over the p-sorted stack — the asof-join shape, no "
    "n^2 pair join), a 0.05 caliper drops poor matches, and ATT = "
    "mean(y_t - y_matched). Propensities ride ROUND(9) (EXP "
    "discipline) so the sort order and caliper are engine-"
    "deterministic; outcome differences sum through DECIMAL(38,6). "
    "Scale (round 6, closing VERDICT r5 'weak' #3): the p-axis scan "
    "runs RANGE-BUCKET-DECOMPOSED — units bucket by floor(p*1024), "
    "the nearest-control windows are PARTITIONED by bucket, and "
    "cross-bucket reach comes from a <=1025-row bucket-boundary "
    "census (per-bucket first/last control, cumulated in tiny "
    "windows and broadcast back). No single-partition window over "
    "|customers|; identical matches.",
)
def q_propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("y")
    )
    z = (
        F.lit(_PSM_W0)
        + F.lit(_PSM_W1) * (F.col("c_acctbal") / 1000.0)
        + F.lit(_PSM_W2) * (F.col("c_nationkey") % 5)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("c_custkey").cast("string").cast("binary")), 1, 13
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(4503599627370496.0)
    )
    units = (
        c.join(rev, c.c_custkey == rev.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("id"),
            F.coalesce(F.col("y"), F.lit(0).cast("decimal(38,6)"))
            .cast("double")
            .alias("y"),
            F.round(1 / (1 + F.exp(-z)), 9).alias("p"),
            u.alias("u"),
        )
        .select(
            "id", "y", "p", (F.col("u") < F.col("p")).cast("int").alias("treated")
        )
    )
    ctrl = F.when(
        F.col("treated") == 0, F.struct(F.col("p"), F.col("y"), F.col("id"))
    )
    # Range-bucket decomposition of the p-sorted nearest-control scan:
    # equal p values share a bucket (the bucket is a function of p), so
    # within-bucket running windows + a per-bucket boundary census give
    # EXACTLY the global running last/first control. Forward nearest
    # still runs as a RUNNING window over the reversed order — Spark
    # evaluates (CURRENT ROW, UNBOUNDED FOLLOWING) frames by
    # re-scanning current..end for EVERY row (O(n^2), measured 677 s at
    # sf1) while running frames accumulate incrementally in O(n).
    units = units.withColumn("_bkt", F.floor(F.col("p") * 1024).cast("long"))
    ctl_units = units.filter(F.col("treated") == 0)
    bl = ctl_units.groupBy("_bkt").agg(
        F.max_by(
            F.struct("p", "y", "id"), F.struct("p", "id")
        ).alias("_blast"),
        F.min_by(
            F.struct("p", "y", "id"), F.struct("p", "id")
        ).alias("_bfirst"),
    )
    wprev = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    wnext = Window.orderBy(F.desc("_bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bounds = (
        units.select("_bkt")
        .distinct()
        .join(bl, "_bkt", "left")
        .select(
            "_bkt",
            F.last("_blast", ignorenulls=True).over(wprev).alias("_prev"),
            F.last("_bfirst", ignorenulls=True).over(wnext).alias("_next"),
        )
    )
    w_b = Window.partitionBy("_bkt").orderBy("p", "treated", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_f = Window.partitionBy("_bkt").orderBy(
        F.desc("p"), F.desc("treated"), F.desc("id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stacked = units.join(F.broadcast(bounds), "_bkt").select(
        "id",
        "y",
        "p",
        "treated",
        F.coalesce(
            F.last(ctrl, ignorenulls=True).over(w_b), F.col("_prev")
        ).alias("bwd"),
        F.coalesce(
            F.last(ctrl, ignorenulls=True).over(w_f), F.col("_next")
        ).alias("fwd"),
    )
    m = (
        F.when(F.col("bwd").isNull() & F.col("fwd").isNull(), F.lit(None))
        .when(F.col("fwd").isNull(), F.col("bwd"))
        .when(F.col("bwd").isNull(), F.col("fwd"))
        .when(
            F.col("p") - F.col("bwd.p") <= F.col("fwd.p") - F.col("p"),
            F.col("bwd"),
        )
        .otherwise(F.col("fwd"))
    )
    matched = (
        stacked.filter(F.col("treated") == 1)
        .withColumn("m", m)
        .select("id", "y", "p", "m")
        .localCheckpoint(eager=True)  # two consumers: census + pairs
    )
    n_treated = matched.agg(F.count(F.lit(1)).cast("bigint").alias("n_treated"))
    pairs = matched.filter(
        F.col("m").isNotNull()
        & (F.abs(F.col("p") - F.col("m.p")) <= _PSM_CALIPER)
    ).select("y", "p", F.col("m.p").alias("pc"), F.col("m.y").alias("yc"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        (
            F.sum((F.col("y") - F.col("yc")).cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("att"),
        (
            F.sum(F.col("p").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("decimal(38,9)")
        .cast("double")
        .alias("mean_p_treated"),
        (
            F.sum(F.col("pc").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("decimal(38,9)")
        .cast("double")
        .alias("mean_p_control"),
    )
    return n_treated.crossJoin(agg).select(
        "n_treated", "n_matched", "att", "mean_p_treated", "mean_p_control"
    )


# ---------------------------------------------------------------------------
# #287 Neyman-allocated stratified sampling
# ---------------------------------------------------------------------------

_NEY_TOTAL = 100  # total sample budget across strata


@query(
    "q_neyman_allocation",
    oracle=f"""
        WITH s AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS nh,
                   SUM(CAST(n_chars AS DECIMAL(18,0))) AS sx,
                   SUM(CAST(n_chars AS DECIMAL(18,0))
                       * CAST(n_chars AS DECIMAL(18,0))) AS sx2
            FROM documents GROUP BY lang
        ),
        sig AS (
            SELECT lang, nh,
                   CAST(CAST(SQRT(CAST(nh * sx2 - sx * sx AS DOUBLE)
                                  / CAST(nh * (nh - 1) AS DOUBLE))
                             AS DECIMAL(38,9)) AS DOUBLE) AS sigma
            FROM s WHERE nh >= 2
        ),
        wts AS (
            SELECT lang, nh, sigma,
                   CAST(CAST(CAST(nh AS DOUBLE) * sigma AS DECIMAL(38,9))
                        AS DOUBLE) AS wh,
                   SUM(CAST(CAST(CAST(nh AS DOUBLE) * sigma AS DECIMAL(38,9))
                            AS DOUBLE)) OVER () AS wsum
            FROM sig
        ),
        fr AS (
            SELECT lang, nh, sigma,
                   CAST(CAST({_NEY_TOTAL} * wh / wsum AS DECIMAL(38,9))
                        AS DOUBLE) AS alloc
            FROM wts
        ),
        fl AS (
            SELECT lang, nh, sigma, alloc,
                   CAST(FLOOR(alloc) AS BIGINT) AS base,
                   alloc - FLOOR(alloc) AS rem
            FROM fr
        ),
        tot AS (SELECT CAST(SUM(base) AS BIGINT) AS used FROM fl),
        ranked AS (
            SELECT fl.*, tot.used,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr
            FROM fl, tot
        )
        SELECT lang, nh, sigma,
               CAST(base + CASE WHEN rr <= {_NEY_TOTAL} - used
                                THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
        FROM ranked
    """,
    operators=(23, 31, 80, 287),
    doc=f"Neyman-allocated stratified sampling (#287): the survey-"
    f"sampling optimum n_h ∝ N_h·σ_h distributes a {_NEY_TOTAL}-row "
    "budget across language strata by size TIMES within-stratum "
    "spread — variance-dense strata earn more rows than proportional "
    "allocation gives them, which is why stratified estimators beat "
    "uniform sampling at equal budget (the principled upgrade to the "
    "equal-per-group #80 balancer). Integerization uses the "
    "largest-remainder method (floor + rank the fractional parts) so "
    "allocations sum EXACTLY to the budget — naive per-stratum "
    "rounding over- or under-spends it. σ_h comes from decimal-exact "
    "integer Σx/Σx² (no per-row float accumulates); every derived "
    "double is an identical IEEE tree quantized at 1e-9, and the "
    "remainder ranking tie-breaks on the stratum key. Scale: one "
    "map-side-combined rollup to |strata| cells; everything after "
    "is window algebra over those cells.",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    xdec = F.col("n_chars").cast("decimal(18,0)")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum(xdec).alias("sx"),
        F.sum(xdec * xdec).alias("sx2"),
    )
    sig = s.filter(F.col("nh") >= 2).select(
        "lang",
        "nh",
        _r9(
            F.sqrt(
                (F.col("nh") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / (F.col("nh") * (F.col("nh") - 1)).cast("double")
            ),
            "sigma",
        ),
    )
    wh = _r9(F.col("nh").cast("double") * F.col("sigma"), "wh")
    wts = sig.select("lang", "nh", "sigma", wh).withColumn(
        "wsum", F.sum("wh").over(Window.partitionBy())
    )
    fr = wts.select(
        "lang",
        "nh",
        "sigma",
        _r9(F.lit(_NEY_TOTAL) * F.col("wh") / F.col("wsum"), "alloc"),
    )
    fl = fr.select(
        "lang",
        "nh",
        "sigma",
        "alloc",
        F.floor("alloc").cast("bigint").alias("base"),
        (F.col("alloc") - F.floor("alloc")).alias("rem"),
    )
    tot = fl.agg(F.sum("base").cast("bigint").alias("used"))
    ranked = fl.crossJoin(F.broadcast(tot)).withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "lang"))
    )
    return ranked.select(
        "lang",
        "nh",
        "sigma",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.lit(_NEY_TOTAL) - F.col("used"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    )


# ---------------------------------------------------------------------------
# #289 inverse-propensity weighting (the estimator twin of #284)
# ---------------------------------------------------------------------------


@query(
    "q_ipw_att",
    oracle=f"""
        WITH rev AS (
            SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS y
            FROM orders GROUP BY o_custkey
        ),
        units AS (
            SELECT c.c_custkey AS id,
                   CAST(COALESCE(rev.y, 0) AS DOUBLE) AS y,
                   ROUND(1 / (1 + EXP(-({_PSM_W0!r}
                       + {_PSM_W1!r} * (c.c_acctbal / 1000.0)
                       + {_PSM_W2!r} * (c.c_nationkey % 5)))), 9) AS p,
                   CAST(CAST(('0x' || SUBSTR(MD5(CAST(c.c_custkey AS VARCHAR)),
                                             1, 13)) AS BIGINT) AS DOUBLE)
                       / 4503599627370496 AS u
            FROM customer c LEFT JOIN rev ON rev.o_custkey = c.c_custkey
        ),
        w AS (
            SELECT y, p, CAST(u < p AS INT) AS treated, p / (1 - p) AS odds
            FROM units
        ),
        t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
                   SUM(CAST(y AS DECIMAL(38,6))) AS sy
            FROM w WHERE treated = 1
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_control,
                   SUM(CAST(y * odds AS DECIMAL(38,9))) AS swy,
                   SUM(CAST(odds AS DECIMAL(38,9))) AS sw,
                   SUM(CAST(odds * odds AS DECIMAL(38,9))) AS sw2
            FROM w WHERE treated = 0
        )
        SELECT t.n_treated, c.n_control,
               CAST(CAST(CAST(t.sy AS DOUBLE) / t.n_treated
                         - CAST(c.swy AS DOUBLE) / CAST(c.sw AS DOUBLE)
                         AS DECIMAL(38,6)) AS DOUBLE) AS att_ipw,
               CAST(CAST(CAST(c.sw AS DOUBLE) * CAST(c.sw AS DOUBLE)
                         / CAST(c.sw2 AS DOUBLE)
                         AS DECIMAL(38,6)) AS DOUBLE) AS ess_control
        FROM t CROSS JOIN c
    """,
    operators=(24, 43, 284, 289),
    doc="Inverse-propensity-weighted ATT (#289), the estimator twin of "
    "matching (#284) over the SAME confounded construction: controls "
    "are reweighted by the odds p/(1-p) so their covariate "
    "distribution mimics the treated population's, ATT = mean(y|T=1) "
    "- Σ(w·y)/Σw. Where matching DISCARDS distant controls, IPW keeps "
    "every unit — the emitted effective sample size (Σw)²/Σw² is the "
    "diagnostic that says how many controls the weights actually "
    "retain (extreme propensities crater it, the practical reason "
    "IPW ships with trimming). Parity: p rides ROUND(9) (the #284 "
    "discipline), odds/products are identical IEEE trees quantized "
    "DECIMAL(38,9) before the exact sum, the two final statistics "
    "quantize at scale 6 (1e5-magnitude outcomes — the _r6 rule). "
    "Scale: two filtered global aggregates over one rollup join — "
    "map-side combined, no window, no n² anything; the weight table "
    "never materializes per-pair state.",
)
def q_ipw_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("y")
    )
    z = (
        F.lit(_PSM_W0)
        + F.lit(_PSM_W1) * (F.col("c_acctbal") / 1000.0)
        + F.lit(_PSM_W2) * (F.col("c_nationkey") % 5)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("c_custkey").cast("string").cast("binary")), 1, 13
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(4503599627370496.0)
    )
    units = c.join(rev, c.c_custkey == rev.o_custkey, "left").select(
        F.coalesce(F.col("y"), F.lit(0).cast("decimal(38,6)"))
        .cast("double")
        .alias("y"),
        F.round(1 / (1 + F.exp(-z)), 9).alias("p"),
        u.alias("u"),
    )
    w = units.select(
        "y",
        "p",
        (F.col("u") < F.col("p")).cast("int").alias("treated"),
        (F.col("p") / (1 - F.col("p"))).alias("odds"),
    )
    t = w.filter(F.col("treated") == 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        F.sum(F.col("y").cast("decimal(38,6)")).alias("sy"),
    )
    ctl = w.filter(F.col("treated") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_control"),
        F.sum((F.col("y") * F.col("odds")).cast("decimal(38,9)")).alias("swy"),
        F.sum(F.col("odds").cast("decimal(38,9)")).alias("sw"),
        F.sum((F.col("odds") * F.col("odds")).cast("decimal(38,9)")).alias(
            "sw2"
        ),
    )
    return t.crossJoin(ctl).select(
        "n_treated",
        "n_control",
        (
            F.col("sy").cast("double") / F.col("n_treated")
            - F.col("swy").cast("double") / F.col("sw").cast("double")
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("att_ipw"),
        (
            F.col("sw").cast("double")
            * F.col("sw").cast("double")
            / F.col("sw2").cast("double")
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("ess_control"),
    )


# ---------------------------------------------------------------------------
# #290 Cohen's kappa inter-annotator agreement
# ---------------------------------------------------------------------------

_KAP_CHARS = 300   # annotator A: document length gate
_KAP_RATIO = 5.5   # annotator B: chars-per-token density gate


@query(
    "q_cohens_kappa",
    oracle=f"""
        WITH t AS (
            SELECT lang,
                   CASE WHEN n_chars >= {_KAP_CHARS} THEN 1 ELSE 0 END AS a,
                   CASE WHEN n_chars / LEN(STRING_SPLIT(text, ' '))
                             >= {_KAP_RATIO!r} THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        cells AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a * b) AS BIGINT) AS n11,
                   CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                   CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
            FROM t GROUP BY lang
        )
        SELECT lang, n, n11, n10, n01, n00,
               CAST(CAST(CAST(n11 + n00 AS DOUBLE) / n
                         AS DECIMAL(38,9)) AS DOUBLE) AS po,
               CAST(CAST(
                   CAST((n11 + n10) * (n11 + n01)
                        + (n01 + n00) * (n10 + n00) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                   AS DECIMAL(38,9)) AS DOUBLE) AS pe,
               CAST(CAST(
                   (CAST(n11 + n00 AS DOUBLE) / n
                    - CAST((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00) AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1 - CAST((n11 + n10) * (n11 + n01)
                               + (n01 + n00) * (n10 + n00) AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   AS DECIMAL(38,9)) AS DOUBLE) AS kappa
        FROM cells
    """,
    operators=(23, 41, 290),
    doc=f"Cohen's kappa (#290), the chance-corrected agreement score "
    "every labeling pipeline reports before trusting annotations: two "
    f"deterministic rule annotators (A: n_chars ≥ {_KAP_CHARS}; B: "
    f"chars-per-token ≥ {_KAP_RATIO} — length vs density, correlated "
    "but not identical signals) label every document, the per-language "
    "2×2 confusion cells stay BIGINT, and kappa = (po − pe)/(1 − pe) "
    "is one identical IEEE tree over exact integers quantized at 1e-9 "
    "(po, pe re-derived inside the kappa expression rather than read "
    "from the quantized columns — rounding before the ratio would "
    "shift kappa by more than an ulp). Raw agreement po is reported "
    "beside kappa because imbalanced labels make po alone flattering "
    "— that gap IS the statistic's reason to exist. Scale: one "
    "map-side-combined groupBy to 5 cells per language; the division "
    "runs on |langs| rows.",
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    a = F.when(F.col("n_chars") >= _KAP_CHARS, 1).otherwise(0)
    b = F.when(
        F.col("n_chars") / F.size(F.split("text", " ")) >= _KAP_RATIO, 1
    ).otherwise(0)
    cells = (
        d.select("lang", a.alias("a"), b.alias("b"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
            F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
            F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
            F.sum((1 - F.col("a")) * (1 - F.col("b")))
            .cast("bigint")
            .alias("n00"),
        )
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ).cast("double") / (F.col("n").cast("double") * F.col("n").cast("double"))
    return cells.select(
        "lang",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        po.cast("decimal(38,9)").cast("double").alias("po"),
        pe.cast("decimal(38,9)").cast("double").alias("pe"),
        ((po - pe) / (1 - pe)).cast("decimal(38,9)").cast("double").alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# #304 Jensen-Shannon divergence matrix between sources
# ---------------------------------------------------------------------------


@query(
    "q_js_divergence",
    oracle="""
        WITH cells AS (
            SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
        ),
        tot AS (
            SELECT source, CAST(SUM(n) AS BIGINT) AS ns FROM cells GROUP BY 1
        ),
        langs AS (SELECT DISTINCT lang FROM cells),
        grid AS (
            SELECT t.source, l.lang, t.ns,
                   COALESCE(c.n, 0) AS n
            FROM tot t CROSS JOIN langs l
            LEFT JOIN cells c ON c.source = t.source AND c.lang = l.lang
        ),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b, a.lang,
                   CAST(a.n AS DOUBLE) / a.ns AS p,
                   CAST(b.n AS DOUBLE) / b.ns AS q
            FROM grid a JOIN grid b
              ON b.lang = a.lang AND a.source < b.source
        ),
        terms AS (
            SELECT src_a, src_b,
                   CAST(CASE WHEN p > 0
                             THEN p * LN(p / ((p + q) / 2)) ELSE 0 END
                        AS DECIMAL(38,12)) AS ta,
                   CAST(CASE WHEN q > 0
                             THEN q * LN(q / ((p + q) / 2)) ELSE 0 END
                        AS DECIMAL(38,12)) AS tb
            FROM pairs
        )
        SELECT src_a, src_b,
               (CAST(SUM(ta) AS DOUBLE) + CAST(SUM(tb) AS DOUBLE)) / 2 AS js
        FROM terms GROUP BY src_a, src_b
    """,
    operators=(23, 43, 234, 304),
    doc="Jensen-Shannon divergence matrix (#304) between every source "
    "pair's language distribution — the SYMMETRIC, bounded (≤ ln 2), "
    "never-infinite companion to PSI (#234) and KL: JS(P,Q) = "
    "(KL(P‖M) + KL(Q‖M))/2 with M the midpoint, the standard "
    "corpus-mixture comparison (which crawls look alike? which "
    "source shifted?) and the metric behind GAN/distribution-match "
    "losses. The lang×source grid is ZERO-COMPLETED first (a sparse "
    "join silently drops the p·ln(p/(p/2)) = p·ln 2 term a "
    "one-sided language contributes — measured wrong answers, the "
    "#280 lesson); probabilities are integer-ratio doubles, each "
    "term one identical IEEE tree quantized at 1e-12 and summed "
    "exactly — the halved sum is then EXACT double arithmetic (sum "
    "scale x magnitude sits far inside 2^53), so no final "
    "re-quantization exists to straddle a rounding boundary (the "
    "1e-9 final quantize measurably flipped an ulp here). Scale: |sources|²·|langs| cells — the data pass is one groupBy; "
    "everything after runs on cells.",
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.groupBy("source").agg(F.sum("n").cast("bigint").alias("ns"))
    langs = cells.select("lang").distinct()
    grid = (
        tot.crossJoin(langs)
        .join(cells, ["source", "lang"], "left")
        .select(
            "source", "lang", "ns", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    a = grid.select(
        F.col("source").alias("src_a"),
        "lang",
        (F.col("n").cast("double") / F.col("ns")).alias("p"),
    )
    b = grid.select(
        F.col("source").alias("src_b"),
        F.col("lang").alias("lang_b"),
        (F.col("n").cast("double") / F.col("ns")).alias("q"),
    )
    pairs = a.join(
        b,
        (F.col("lang_b") == F.col("lang"))
        & (F.col("src_a") < F.col("src_b")),
    )
    m = (F.col("p") + F.col("q")) / 2
    ta = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(
        F.lit(0.0)
    ).cast("decimal(38,12)")
    tb = F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(
        F.lit(0.0)
    ).cast("decimal(38,12)")
    return (
        pairs.select("src_a", "src_b", ta.alias("ta"), tb.alias("tb"))
        .groupBy("src_a", "src_b")
        .agg(
            (
                (F.sum("ta").cast("double") + F.sum("tb").cast("double")) / 2
            ).alias("js")
        )
    )


# ---------------------------------------------------------------------------
# #307 one-way ANOVA (k-group mean comparison)
# ---------------------------------------------------------------------------


@query(
    "q_anova_oneway",
    oracle="""
        WITH o AS (
            SELECT o_orderpriority AS g,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
            FROM orders
        ),
        per AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT) AS sc,
                   CAST(SUM((c * c) // 1000000000) AS BIGINT) AS s2h,
                   CAST(SUM((c * c) % 1000000000) AS BIGINT) AS s2l
            FROM o GROUP BY g
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS tn,
                   CAST(SUM(sc) AS BIGINT) AS tsc,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM per
        ),
        celld AS (
            SELECT per.n,
                   CAST(per.sc AS DOUBLE) / 100000.0 AS sv,
                   (CAST(per.s2h AS DOUBLE) * 1000000000.0
                        + CAST(per.s2l AS DOUBLE)) / 10000000000.0 AS sv2,
                   tot.tn, tot.k, tot.tsc
            FROM per CROSS JOIN tot
        ),
        comp AS (
            SELECT tn AS n, k,
                   CAST(tsc AS DOUBLE) / 100000.0 AS ts,
                   SUM(CAST(sv * sv / n AS DECIMAL(38,3))) AS sq_grp,
                   SUM(CAST(sv2 AS DECIMAL(38,3))) AS sq_all
            FROM celld
            GROUP BY tn, k, tsc
        ),
        fin AS (
            SELECT n, k,
                   CAST(sq_grp AS DOUBLE) - ts * ts / n AS ssb,
                   CAST(sq_all AS DOUBLE) - CAST(sq_grp AS DOUBLE) AS ssw
            FROM comp
        )
        SELECT n, k,
               CAST(CAST(ssb AS DECIMAL(38,3)) AS DOUBLE) AS ssb,
               CAST(CAST(ssw AS DECIMAL(38,3)) AS DOUBLE) AS ssw,
               CAST(CAST((ssb / (k - 1)) / (ssw / (n - k))
                         AS DECIMAL(38,9)) AS DOUBLE) AS f_stat,
               CAST(CAST(ssb / (ssb + ssw) AS DECIMAL(38,9)) AS DOUBLE)
                   AS eta_sq
        FROM fin
    """,
    operators=(24, 43, 147, 307),
    doc="One-way ANOVA (#307) across priority classes on order value — "
    "the k-group generalization of the two-sample test (#147): "
    "F = (SSB/(k−1))/(SSW/(n−k)) plus η² = SSB/SST, the "
    "variance-explained effect size p-values hide. INTEGER-EXACT "
    "MOMENTS: per-row values stay cents (BIGINT); Σc is an exact "
    "BIGINT, and Σc² is carried as two exact BIGINT halves "
    "(Σ(c² div 1e9), Σ(c² mod 1e9)) so that EVERY engine-specific "
    "int→double conversion is of an integer < 2^53 and therefore "
    "exact on both engines — the round-8 driver hash FAIL traced to "
    "per-row double products cast to DECIMAL(38,9), where the two "
    "engines' cast rounding straddled a half-quantum. Here the first "
    "doubles appear at the k-cell stage from bit-identical exact "
    "integers, so the whole IEEE tree (sv = Σc/1e5 kilo-dollars, "
    "sv² = Σc²/1e10) is shared, and only k≈5 half-quantum-safe "
    "quantizations remain. The sum-of-squares family quantizes at "
    "scale 3, not 9: ssw ≈ 3e8 at scale 9 has an unscaled int "
    "> 2^53, where DuckDB's int128→double and Java's BigDecimal "
    "round differently (the observed one-ulp r8 residual); scale 3 "
    "keeps unscaled < 2^53 through ~sf100 so decimal→double is one "
    "shared exact-int division on both engines. Scale: one "
    "map-side-combined groupBy to k cells; then k-row algebra.",
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    cc = F.col("c") * F.col("c")
    per = o.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.expr("(c * c) div 1000000000")).cast("bigint").alias("s2h"),
        F.sum(cc % F.lit(1000000000)).cast("bigint").alias("s2l"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sc").cast("bigint").alias("tsc"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    celld = per.crossJoin(F.broadcast(tot)).select(
        "n",
        (F.col("sc").cast("double") / F.lit(100000.0)).alias("sv"),
        (
            (
                F.col("s2h").cast("double") * F.lit(1000000000.0)
                + F.col("s2l").cast("double")
            )
            / F.lit(10000000000.0)
        ).alias("sv2"),
        "tn",
        "k",
        "tsc",
    )
    comp = celld.groupBy("tn", "k", "tsc").agg(
        F.sum(
            (F.col("sv") * F.col("sv") / F.col("n")).cast("decimal(38,3)")
        ).alias("sq_grp"),
        F.sum(F.col("sv2").cast("decimal(38,3)")).alias("sq_all"),
    )
    ts = F.col("tsc").cast("double") / F.lit(100000.0)
    ssb = F.col("sq_grp").cast("double") - ts * ts / F.col("tn")
    ssw = F.col("sq_all").cast("double") - F.col("sq_grp").cast("double")
    return comp.select(
        F.col("tn").alias("n"),
        "k",
        ssb.cast("decimal(38,3)").cast("double").alias("ssb"),
        ssw.cast("decimal(38,3)").cast("double").alias("ssw"),
        ((ssb / (F.col("k") - 1)) / (ssw / (F.col("tn") - F.col("k"))))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("f_stat"),
        (ssb / (ssb + ssw)).cast("decimal(38,9)").cast("double").alias(
            "eta_sq"
        ),
    )


# ---------------------------------------------------------------------------
# #335 Wasserstein-1 (earth mover's) drift distance
# ---------------------------------------------------------------------------


@query(
    "q_wasserstein_drift",
    oracle="""
        WITH span AS (
            SELECT (MIN(EPOCH_US(CAST(ts AS TIMESTAMP)))
                    + MAX(EPOCH_US(CAST(ts AS TIMESTAMP)))) // 2 AS mid
            FROM events
        ),
        pts AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   CASE WHEN EPOCH_US(CAST(ts AS TIMESTAMP)) <= span.mid
                        THEN 1 ELSE 0 END AS in_a
            FROM events, span
        ),
        cells AS (
            SELECT event_type, cents,
                   CAST(SUM(in_a) AS BIGINT) AS ca,
                   CAST(SUM(1 - in_a) AS BIGINT) AS cb
            FROM pts GROUP BY 1, 2
        ),
        cdf AS (
            SELECT event_type, cents,
                   SUM(ca) OVER (PARTITION BY event_type ORDER BY cents)
                       AS cum_a,
                   SUM(cb) OVER (PARTITION BY event_type ORDER BY cents)
                       AS cum_b,
                   LEAD(cents) OVER (PARTITION BY event_type ORDER BY cents)
                       AS next_cents,
                   SUM(ca) OVER (PARTITION BY event_type) AS n_a,
                   SUM(cb) OVER (PARTITION BY event_type) AS n_b
            FROM cells
        ),
        terms AS (
            SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
                   CAST(n_b AS BIGINT) AS n_b,
                   CAST(ABS(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                            - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                        * (CAST(next_cents - cents AS DOUBLE)
                           / CAST(100 AS DOUBLE))
                        AS DECIMAL(38,18)) AS t
            FROM cdf WHERE next_cents IS NOT NULL
        )
        SELECT event_type, n_a, n_b,
               CAST(CAST(CAST(SUM(t) AS DOUBLE) AS DECIMAL(38,9)) AS DOUBLE)
                   AS w1
        FROM terms
        GROUP BY event_type, n_a, n_b
        ORDER BY event_type
    """,
    operators=(31, 43, 272, 335),
    doc="Wasserstein-1 (earth mover's) drift distance (#335): per "
    "event type, W1 = integral of |ECDF_a - ECDF_b| over the value "
    "axis between the first and second half of the time span — the "
    "MAGNITUDE companion to KS (#272): KS says whether distributions "
    "differ, W1 says by how much in the metric's own units (here "
    "dollars), which is what alerting thresholds want. Computed "
    "exactly on the tie-collapsed cell grid: each consecutive "
    "distinct-value gap contributes |gap in ECDF| * (value step), "
    "both factors from exact integers, terms summed through "
    "DECIMAL(38,18) and the result quantized at 1e-9. Scale: "
    "identical shape to the KS query — map-side tie collapse, "
    "windows partitioned by series, shuffle carries cells not rows.",
)
def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    pts = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.unix_micros("ts") <= F.col("mid"), 1).otherwise(0).alias("in_a"),
    )
    cells = pts.groupBy("event_type", "cents").agg(
        F.sum("in_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("cb"),
    )
    wc = Window.partitionBy("event_type").orderBy("cents")
    wall = Window.partitionBy("event_type")
    cdf = cells.select(
        "event_type",
        "cents",
        F.sum("ca").over(wc.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_a"
        ),
        F.sum("cb").over(wc.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_b"
        ),
        F.lead("cents").over(wc).alias("next_cents"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    term = (
        F.abs(
            F.col("cum_a").cast("double") / F.col("n_a").cast("double")
            - F.col("cum_b").cast("double") / F.col("n_b").cast("double")
        )
        * (
            (F.col("next_cents") - F.col("cents")).cast("double")
            / F.lit(100.0)
        )
    ).cast("decimal(38,18)")
    return (
        cdf.filter(F.col("next_cents").isNotNull())
        .select(
            "event_type",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            term.alias("t"),
        )
        .groupBy("event_type", "n_a", "n_b")
        .agg(
            F.sum("t")
            .cast("double")
            .cast("decimal(38,9)")
            .cast("double")
            .alias("w1")
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# #348 kendall_tau — tie-corrected rank correlation (tau-b)
# ---------------------------------------------------------------------------

_KT_GRID_SQL = """
        o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
                   user_id
            FROM events
        ),
        days AS (
            SELECT UNNEST(GENERATE_SERIES(mn, mx)) AS d
            FROM (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o)
        ),
        types AS (SELECT DISTINCT event_type FROM o),
        cnt AS (SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS x,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS y
                FROM o GROUP BY 1, 2),
        grid AS MATERIALIZED (
            SELECT t.event_type, days.d,
                   COALESCE(cnt.x, 0) AS x, COALESCE(cnt.y, 0) AS y
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        )
"""


@query(
    "q_kendall_tau",
    oracle=f"""
        WITH {_KT_GRID_SQL},
        pr AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS dd,
                   CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
                        AS BIGINT) AS tx,
                   CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
                        AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n0
            FROM grid a JOIN grid b
              ON b.event_type = a.event_type AND b.d > a.d
            GROUP BY a.event_type
        )
        SELECT event_type, n0, c AS concordant, dd AS discordant,
               CAST(CAST(
                   (CAST(c AS DOUBLE) - dd)
                   / SQRT(CAST(n0 - tx AS DOUBLE) * (n0 - ty))
                   AS DECIMAL(38,9)) AS DOUBLE) AS tau_b
        FROM pr
        ORDER BY event_type
    """,
    operators=(23, 31, 158, 348),
    doc="Kendall tau-b (#348) between two daily metrics per series "
    "(event count vs distinct users over the zero-completed day "
    "grid): concordant minus discordant pairs over the tie-corrected "
    "geometric-mean denominator sqrt((n0-t_x)(n0-t_y)) — the rank "
    "correlation that, unlike Pearson (#158), is exact under any "
    "monotone transform and robust to outliers, and the pairwise "
    "sibling of Spearman (#349). Everything through the denominator "
    "is exact BIGINT pair counting (tie pairs counted directly in "
    "the same pair join); tau is one identical IEEE tree quantized "
    "at 1e-9. Scale: the pair join runs on (series, day) CELLS like "
    "Mann-Kendall (#322) — thousands of rows; at decade scale use "
    "the O(n log n) merge-sort inversion count.",
    bench=False,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
        "user_id",
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
    )
    types = o.select("event_type").distinct()
    cnt = o.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.countDistinct("user_id").cast("bigint").alias("y"),
    )
    grid = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    a = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"),
        F.col("x").alias("xa"), F.col("y").alias("ya"),
    )
    b = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("db"),
        F.col("x").alias("xb"), F.col("y").alias("yb"),
    )
    prod = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    pr = (
        a.join(b, (a.et == b.et) & (F.col("db") > F.col("da")))
        .groupBy(a.et.alias("event_type"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint").alias("c"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint").alias("dd"),
            F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
            .cast("bigint")
            .alias("tx"),
            F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
            .cast("bigint")
            .alias("ty"),
            F.count(F.lit(1)).cast("bigint").alias("n0"),
        )
    )
    tau = (F.col("c").cast("double") - F.col("dd")) / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double") * (F.col("n0") - F.col("ty"))
    )
    return pr.select(
        "event_type",
        "n0",
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        tau.cast("decimal(38,9)").cast("double").alias("tau_b"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #349 spearman_rho — average-rank correlation via integer 2·rank cells
# ---------------------------------------------------------------------------


@query(
    "q_spearman_rho",
    oracle=f"""
        WITH {_KT_GRID_SQL},
        rx AS (
            SELECT g.event_type, g.d,
                   2 * (SELECT COUNT(*) FROM grid h
                        WHERE h.event_type = g.event_type AND h.x < g.x)
                   + (SELECT COUNT(*) FROM grid h
                      WHERE h.event_type = g.event_type AND h.x = g.x)
                   + 1 AS rx2,
                   2 * (SELECT COUNT(*) FROM grid h
                        WHERE h.event_type = g.event_type AND h.y < g.y)
                   + (SELECT COUNT(*) FROM grid h
                      WHERE h.event_type = g.event_type AND h.y = g.y)
                   + 1 AS ry2
            FROM grid g
        ),
        mom AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rx2) AS BIGINT) AS sx,
                   CAST(SUM(ry2) AS BIGINT) AS sy,
                   CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
                   CAST(SUM(rx2 * rx2) AS BIGINT) AS sx2,
                   CAST(SUM(ry2 * ry2) AS BIGINT) AS sy2
            FROM rx GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(CAST(
                   (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   / SQRT((n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                          * (n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
                   AS DECIMAL(38,9)) AS DOUBLE) AS spearman_rho
        FROM mom
        ORDER BY event_type
    """,
    operators=(23, 31, 158, 349),
    doc="Spearman rank correlation (#349) between the same two daily "
    "metrics as #348: Pearson over AVERAGE ranks, with the tie-safe "
    "trick that 2·avg_rank = 2·count(v < x) + count(v = x) + 1 is always "
    "an INTEGER — so every rank and every co-moment stays exact "
    "BIGINT (correlation is scale-invariant, so rho over 2·rank "
    "equals rho over rank) and no midrank double ever enters a sum. "
    "rho is one identical IEEE tree at 1e-9. The less/equal counts "
    "come from a value-census join, not a sort — ranks over CELLS, "
    "the quantile_normalize (#279) discipline. Scale: per-series "
    "cells are bounded by the day span; nothing global sorts.",
    bench=False,
)
def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("timestamp").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
        "user_id",
    )
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    days = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
    )
    types = o.select("event_type").distinct()
    cnt = o.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.countDistinct("user_id").cast("bigint").alias("y"),
    )
    grid = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=True)  # both rank censuses reuse it
    )

    def rank2(col: str, out: str):
        cells = grid.groupBy("event_type", col).agg(
            F.count(F.lit(1)).cast("bigint").alias("t")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow - 0)
        )
        # cnt_less via running sum over the value census minus own t
        cells = cells.withColumn(
            "cum", F.sum("t").over(w)
        ).select(
            "event_type",
            col,
            (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1).alias(out),
        )
        return cells

    rx = grid.join(rank2("x", "rx2"), ["event_type", "x"]).join(
        rank2("y", "ry2"), ["event_type", "y"]
    )
    mom = rx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sx2"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("sy2"),
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
    return mom.select(
        "event_type",
        "n",
        (num / den).cast("decimal(38,9)").cast("double").alias("spearman_rho"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #355 rocchio_classifier — nearest-centroid classification
# ---------------------------------------------------------------------------

_ROC_DIM = 64


@query(
    "q_rocchio_classifier",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, label,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        train AS (SELECT * FROM emb WHERE vec_id % 5 <> 0),
        test AS (SELECT * FROM emb WHERE vec_id % 5 = 0),
        dims AS (
            SELECT label, i, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(v[i + 1] AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM train, range({_ROC_DIM}) t(i)
            GROUP BY label, i
        ),
        cents AS (
            SELECT label AS c_label, i, s / n AS c
            FROM dims
        ),
        cent_lists AS (
            SELECT c_label, LIST(c ORDER BY i) AS cv
            FROM cents GROUP BY c_label
        ),
        dist AS (
            SELECT t.vec_id, t.label AS true_label, cl.c_label,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(range(1, {_ROC_DIM + 1}),
                               i -> (t.v[i] - cl.cv[i])
                                    * (t.v[i] - cl.cv[i]))),
                       (a, b) -> a + b) AS d2
            FROM test t CROSS JOIN cent_lists cl
        ),
        pred AS (
            SELECT vec_id, true_label, c_label AS pred_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ROUND(d2, 9), c_label) AS rn
            FROM dist
        )
        SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred WHERE rn = 1
        GROUP BY true_label, pred_label
        ORDER BY true_label, pred_label
    """,
    operators=(23, 44, 112, 355),
    doc=f"Rocchio / nearest-centroid classification (#355): per-label "
    f"mean vectors over the {_ROC_DIM}-dim embedding train split "
    "(vec_id % 5 != 0), holdout vectors assigned to the closest "
    "centroid by squared euclidean distance, graded as the confusion "
    "matrix — the embedding-space sibling of naive Bayes (#350) and "
    "the 1-NN-to-centroids special case every retrieval stack uses "
    "as its cheap classifier baseline (class = nearest class "
    "prototype). Parity: centroid dims are DECIMAL(38,18)-summed "
    "exact means (bit-identical on both engines, so the literals "
    "Spark broadcasts equal what the oracle derives); distances are "
    "ORDERED double folds — Spark aggregate() vs DuckDB list_reduce "
    "over the same zip, the #260 pca_power discipline — and argmin "
    "is on ROUND(9) with a label tie-break. "
    f"Scale: centroids are |labels|x{_ROC_DIM} — a broadcast literal "
    "(the #273 k-means discipline); scoring is one map-side pass "
    "over test vectors, no shuffle beyond the final census.",
    bench=False,
)
def q_rocchio_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    train = emb.filter(F.col("vec_id") % 5 != 0)
    test = emb.filter(F.col("vec_id") % 5 == 0)
    dims = (
        train.select(
            "label",
            F.posexplode("v").alias("i", "x"),
        )
        .groupBy("label", "i")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("x").cast("decimal(38,18)")).cast("double").alias("s"),
        )
        .select("label", "i", (F.col("s") / F.col("n")).alias("c"))
    )
    # bounded: |labels| x 64 — collect to literals (k-means discipline)
    cent_rows = dims.collect()
    cents: dict[int, list[float]] = {}
    for r in cent_rows:
        cents.setdefault(int(r["label"]), [0.0] * _ROC_DIM)[int(r["i"])] = float(
            r["c"]
        )
    cands = []
    for lbl in sorted(cents):
        lit_vec = F.array(*[F.lit(x) for x in cents[lbl]])
        terms = F.zip_with(F.col("v"), lit_vec, lambda x, y: (x - y) * (x - y))
        d2 = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
        cands.append(
            F.struct(
                F.round(d2, 9).alias("d2"), F.lit(lbl).alias("pred_label")
            )
        )
    best = F.array_min(F.array(*cands))
    return (
        test.select(
            F.col("label").alias("true_label"),
            best.getField("pred_label").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("true_label", "pred_label")
    )


# ---------------------------------------------------------------------------
# #370 kruskal_wallis — nonparametric one-way test across k groups
# ---------------------------------------------------------------------------


@query(
    "q_kruskal_wallis",
    oracle="""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        cnt AS (SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS x
                FROM o GROUP BY 1, 2),
        r2 AS (
            SELECT c.event_type, c.x,
                   2 * (SELECT COUNT(*) FROM cnt h WHERE h.x < c.x)
                   + (SELECT COUNT(*) FROM cnt h WHERE h.x = c.x)
                   + 1 AS rr
            FROM cnt c
        ),
        g AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(rr) AS BIGINT) AS s2r
            FROM r2 GROUP BY event_type
        ),
        nn AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM g),
        ties AS (
            SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cnt GROUP BY x)
        ),
        h AS (
            SELECT CAST(12 AS DOUBLE)
                   / (ANY_VALUE(nn.n) * (ANY_VALUE(nn.n) + 1))
                   * CAST(SUM(CAST(
                         (CAST(g.s2r AS DOUBLE) / 2)
                         * (CAST(g.s2r AS DOUBLE) / 2) / g.n_i
                         AS DECIMAL(38,18))) AS DOUBLE)
                   - 3 * (ANY_VALUE(nn.n) + 1) AS h_raw,
                   ANY_VALUE(nn.n) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   ANY_VALUE(ties.tie3) AS tie3
            FROM g CROSS JOIN nn CROSS JOIN ties
        )
        SELECT n, k,
               ROUND(h_raw / (1 - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE)
                                                          * n * n - n)),
                     9) AS h_stat,
               CAST(h_raw / (1 - CAST(tie3 AS DOUBLE)
                             / (CAST(n AS DOUBLE) * n * n - n))
                    > 9.487729036781154 AS INT) AS significant
        FROM h
    """,
    operators=(23, 24, 307, 370),
    doc="Kruskal-Wallis H (#370): the nonparametric one-way test "
    "across the five event-type daily-count samples — rank-based, so "
    "valid where ANOVA's (#307) normality assumption fails, with the "
    "standard tie correction 1 - sum(t^3-t)/(N^3-N) and the df=4 5% "
    "chi-square gate. Ranks use the #349 integer trick (2·avg_rank "
    "is always an integer from less/equal census counts — no midrank "
    "double ever enters a sum); rank sums and tie counts are exact "
    "BIGINTs; H is one identical IEEE tree at 1e-9. Scale: ranks "
    "come from a value-census join over (series, day) cells.",
    bench=False,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    cells = cnt.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    rmap = cells.withColumn("cum", F.sum("t").over(w)).select(
        "x",
        (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1).alias("rr"),
        "t",
    )
    r2 = cnt.join(rmap.select("x", "rr"), "x")
    g = r2.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("rr").cast("bigint").alias("s2r"),
    )
    nn = g.agg(F.sum("n_i").cast("bigint").alias("n"))
    ties = cells.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3")
    )
    dec = "decimal(38,18)"
    term = (
        (F.col("s2r").cast("double") / 2)
        * (F.col("s2r").cast("double") / 2)
        / F.col("n_i")
    )
    h = (
        g.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .agg(
            (
                F.lit(12.0) / (F.first("n") * (F.first("n") + 1))
                * F.sum(term.cast(dec)).cast("double")
                - 3 * (F.first("n") + 1)
            ).alias("h_raw"),
            F.first("n").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.first("tie3").alias("tie3"),
        )
    )
    corr = 1 - F.col("tie3").cast("double") / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    return h.select(
        "n",
        "k",
        F.round(F.col("h_raw") / corr, 9).alias("h_stat"),
        (F.col("h_raw") / corr > 9.487729036781154).cast("int").alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# #371 friedman_test — blocked nonparametric comparison (days as blocks)
# ---------------------------------------------------------------------------


@query(
    "q_friedman_test",
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
        rr AS (
            SELECT a.event_type, a.d,
                   2 * CAST(SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
                            AS BIGINT)
                   + CAST(SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END)
                          AS BIGINT) + 2 AS r2
            FROM grid a JOIN grid b ON b.d = a.d
                                   AND b.event_type <> a.event_type
            GROUP BY a.event_type, a.d
        ),
        dims AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM types) AS k
        ),
        pergrp AS (
            SELECT event_type, CAST(SUM(r2) AS BIGINT) AS s2r FROM rr
            GROUP BY event_type
        ),
        amat AS (
            SELECT CAST(SUM(r2 * r2) AS BIGINT) AS a4 FROM rr
        )
        SELECT d.n AS n_blocks, d.k,
               ROUND((d.k - 1)
                     * (SELECT CAST(SUM(CAST(
                            (CAST(s2r AS DOUBLE) / 2
                             - CAST(d.n AS DOUBLE) * (d.k + 1) / 2)
                            * (CAST(s2r AS DOUBLE) / 2
                               - CAST(d.n AS DOUBLE) * (d.k + 1) / 2)
                            AS DECIMAL(38,18))) AS DOUBLE) FROM pergrp)
                     / (CAST(a.a4 AS DOUBLE) / 4
                        - CAST(d.n AS DOUBLE) * d.k * (d.k + 1) * (d.k + 1)
                          / 4), 9) AS friedman_chi2,
               CAST((d.k - 1)
                    * (SELECT CAST(SUM(CAST(
                           (CAST(s2r AS DOUBLE) / 2
                            - CAST(d.n AS DOUBLE) * (d.k + 1) / 2)
                           * (CAST(s2r AS DOUBLE) / 2
                              - CAST(d.n AS DOUBLE) * (d.k + 1) / 2)
                           AS DECIMAL(38,18))) AS DOUBLE) FROM pergrp)
                    / (CAST(a.a4 AS DOUBLE) / 4
                       - CAST(d.n AS DOUBLE) * d.k * (d.k + 1) * (d.k + 1)
                         / 4)
                    > 9.487729036781154 AS INT) AS significant
        FROM dims d CROSS JOIN amat a
    """,
    operators=(23, 31, 307, 371),
    doc="Friedman test (#371): the BLOCKED nonparametric comparison — "
    "each day is a block, the five event types are ranked WITHIN the "
    "day, and the tie-corrected statistic (k-1)·Σ(R_j - n(k+1)/2)² / "
    "(A - nk(k+1)²/4) asks whether any type systematically out-ranks "
    "the others once day-level effects are blocked out — the "
    "repeated-measures sibling of Kruskal-Wallis (#370), which "
    "ignores blocking and loses power to day-to-day drift. "
    "Within-block average ranks use the #349 integer 2·rank trick "
    "(block-local less/equal counts from a k² cell self-join); rank "
    "sums and A are exact BIGINTs over quarters; one ROUND(9). "
    "Scale: everything runs on the (day x type) grid — k² per-block "
    "cells, never event rows.",
    bench=False,
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .localCheckpoint(eager=True)
    )
    a = grid.select(
        F.col("event_type").alias("et"), F.col("d").alias("dd"),
        F.col("x").alias("xa"),
    )
    b = grid.select(
        F.col("event_type").alias("etb"), F.col("d").alias("dd"),
        F.col("x").alias("xb"),
    )
    rr = (
        a.join(b, (a.dd == b.dd) & (F.col("et") != F.col("etb")))
        .groupBy(F.col("et").alias("event_type"), a.dd.alias("d"))
        .agg(
            (
                2 * F.sum(F.when(F.col("xb") < F.col("xa"), 1).otherwise(0))
                + F.sum(F.when(F.col("xb") == F.col("xa"), 1).otherwise(0))
                + 2
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    n = days.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    k = types.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    pergrp = rr.groupBy("event_type").agg(
        F.sum("r2").cast("bigint").alias("s2r")
    )
    amat = rr.agg(F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("a4"))
    dec = "decimal(38,18)"
    joined = pergrp.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(k))
    dev = (
        F.col("s2r").cast("double") / 2
        - F.col("n").cast("double") * (F.col("k") + 1) / 2
    )
    num = joined.agg(
        F.sum((dev * dev).cast(dec)).cast("double").alias("ssd"),
        F.first("n").alias("n"),
        F.first("k").alias("k"),
    )
    out = num.crossJoin(F.broadcast(amat))
    denom = (
        F.col("a4").cast("double") / 4
        - F.col("n").cast("double") * F.col("k") * (F.col("k") + 1)
          * (F.col("k") + 1) / 4
    )
    chi = (F.col("k") - 1) * F.col("ssd") / denom
    return out.select(
        F.col("n").alias("n_blocks"),
        "k",
        F.round(chi, 9).alias("friedman_chi2"),
        (chi > 9.487729036781154).cast("int").alias("significant"),
    )


# ---------------------------------------------------------------------------
# #372 levene_test — Brown-Forsythe variance-homogeneity check
# ---------------------------------------------------------------------------


@query(
    "q_levene_test",
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
        z AS (
            SELECT c.event_type, ABS(c.x - m.median) AS z
            FROM cnt c JOIN med m ON m.event_type = c.event_type
        ),
        g AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_j,
                   CAST(SUM(CAST(z AS DECIMAL(38,9))) AS DOUBLE) AS sz,
                   CAST(SUM(CAST(z * z AS DECIMAL(38,18))) AS DOUBLE) AS sz2
            FROM z GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(n_j) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(CAST(sz AS DECIMAL(38,9))) AS DOUBLE) AS sz_all
            FROM g
        ),
        parts AS (
            SELECT CAST(SUM(CAST(
                       g.n_j * (g.sz / g.n_j - t.sz_all / t.n)
                             * (g.sz / g.n_j - t.sz_all / t.n)
                       AS DECIMAL(38,18))) AS DOUBLE) AS ss_between,
                   CAST(SUM(CAST(g.sz2 - g.sz * g.sz / g.n_j
                                 AS DECIMAL(38,18))) AS DOUBLE) AS ss_within,
                   ANY_VALUE(t.n) AS n, ANY_VALUE(t.k) AS k
            FROM g CROSS JOIN tot t
        )
        SELECT n, k,
               ROUND((CAST(n - k AS DOUBLE) / (k - 1))
                     * ss_between / ss_within, 9) AS bf_stat,
               CAST((CAST(n - k AS DOUBLE) / (k - 1))
                    * ss_between / ss_within
                    > 2.3718794301168693 AS INT) AS significant
        FROM parts
    """,
    operators=(23, 24, 307, 372),
    doc="Brown-Forsythe / Levene test (#372): variance homogeneity "
    "across the event-type daily-count groups — one-way ANOVA (#307) "
    "run on |x - group MEDIAN| (the Brown-Forsythe centering, robust "
    "where mean-centered Levene is dragged by skew); the check that "
    "should PRECEDE #307, whose F statistic assumes equal variances. "
    "Medians come from the #342 exact rank-position selection; |z| "
    "terms are identical IEEE values summed through DECIMAL(38,9)/"
    "(38,18); the flag uses the asymptotic F(k-1, inf) 5% critical "
    "value (documented — exact df2 criticals would need an F-table). "
    "Scale: one rank pass + two moment censuses over (series, day) "
    "cells.",
    bench=False,
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .agg((F.sum("x").cast("double") / F.count(F.lit(1))).alias("median"))
    )
    z = cnt.join(med, "event_type").select(
        "event_type", F.abs(F.col("x") - F.col("median")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_j"),
        F.sum(F.col("z").cast("decimal(38,9)")).cast("double").alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sz2"),
    )
    tot = g.agg(
        F.sum("n_j").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("sz").cast("decimal(38,9)")).cast("double").alias("sz_all"),
    )
    dec = "decimal(38,18)"
    dev = F.col("sz") / F.col("n_j") - F.col("sz_all") / F.col("n")
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum((F.col("n_j") * dev * dev).cast(dec))
        .cast("double")
        .alias("ss_between"),
        F.sum(
            (F.col("sz2") - F.col("sz") * F.col("sz") / F.col("n_j")).cast(dec)
        )
        .cast("double")
        .alias("ss_within"),
        F.first("n").alias("n"),
        F.first("k").alias("k"),
    )
    stat = (
        (F.col("n") - F.col("k")).cast("double") / (F.col("k") - 1)
    ) * F.col("ss_between") / F.col("ss_within")
    return parts.select(
        "n",
        "k",
        F.round(stat, 9).alias("bf_stat"),
        (stat > 2.3718794301168693).cast("int").alias("significant"),
    )
