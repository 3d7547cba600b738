"""Round-7 pattern-mining + governance wave — SURVEY.md §2 (#381–#386).

Ordinal/time-series pattern operators (permutation entropy, banded
DTW), corpus dictionary tagging, the l-diversity / t-closeness
privacy ladder above k-anonymity (#202), and deterministic SMOTE
oversampling on the embedding corpus.

Parity disciplines reused from the repo:

- Ordinal patterns stay INTEGER: the stable rank of each element in
  a length-4 window is count(strictly less) + count(equal at an
  earlier index) — 12 comparisons, a base-4 code, a census; only the
  final entropy is a DECIMAL(38,18)-summed ln tree.
- Distances are ORDERED double folds (Spark aggregate over zip_with
  vs DuckDB list_reduce over the same zip — the #260/#355
  discipline), argmin on ROUND(9) with an id tie-break.
- t-closeness EMD numerators stay integer: cum_g·N − cum_G·n_g per
  ordered category, one final division.
- "Randomness" (SMOTE's interpolation weight) is md5-derived at plan
  level from the row key — reproducible on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query

_TWO52 = 4503599627370496  # 2^52 — 13 hex chars of md5 normalize to [0,1)
_LN24 = "3.1780538303479458"  # ln(4!) — max entropy over order-4 patterns


# ---------------------------------------------------------------------------
# #381 permutation_entropy — Bandt-Pompe ordinal complexity per series
# ---------------------------------------------------------------------------


def _pe_rank_sql(i: int) -> str:
    """Stable rank of x{i} among x0..x3 (less + earlier-equal)."""
    less = " + ".join(
        f"CASE WHEN x{j} < x{i} THEN 1 ELSE 0 END" for j in range(4) if j != i
    )
    eq = " + ".join(
        f"CASE WHEN x{j} = x{i} THEN 1 ELSE 0 END" for j in range(i)
    )
    return f"({less}{' + ' + eq if eq else ''})"


@query(
    "q_permutation_entropy",
    oracle=f"""
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
        win AS (
            SELECT event_type, x AS x0,
                   LEAD(x, 1) OVER w AS x1,
                   LEAD(x, 2) OVER w AS x2,
                   LEAD(x, 3) OVER w AS x3
            FROM grid
            WINDOW w AS (PARTITION BY event_type ORDER BY t)
        ),
        codes AS (
            SELECT event_type,
                   (({_pe_rank_sql(0)} * 4 + {_pe_rank_sql(1)}) * 4
                    + {_pe_rank_sql(2)}) * 4 + {_pe_rank_sql(3)} AS code
            FROM win WHERE x3 IS NOT NULL
        ),
        cen AS (
            SELECT event_type, code, CAST(COUNT(*) AS BIGINT) AS c
            FROM codes GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_patterns
            FROM cen GROUP BY event_type
        ),
        ent AS (
            SELECT c.event_type,
                   CAST(SUM(CAST(
                       -(CAST(c.c AS DOUBLE) / t.n)
                       * LN(CAST(c.c AS DOUBLE) / t.n)
                       AS DECIMAL(38,18))) AS DOUBLE) AS h
            FROM cen c JOIN tot t ON t.event_type = c.event_type
            GROUP BY c.event_type
        ),
        top AS (
            SELECT event_type, code AS top_code
            FROM (SELECT event_type, code,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY c DESC, code) AS rn
                  FROM cen)
            WHERE rn = 1
        )
        SELECT t.event_type, t.n AS n_windows, t.n_patterns, p.top_code,
               ROUND(e.h, 9) AS h,
               ROUND(e.h / {_LN24}, 9) AS h_norm
        FROM tot t
        JOIN ent e ON e.event_type = t.event_type
        JOIN top p ON p.event_type = t.event_type
        ORDER BY t.event_type
    """,
    operators=(23, 31, 66, 381),
    doc="Permutation entropy (#381, Bandt-Pompe 2002): per daily "
    "series, every length-4 window maps to its ordinal pattern "
    "(the stable rank permutation of the 4 values — "
    "count(strictly-less) + count(equal-at-earlier-index) per "
    "element, 12 integer comparisons, a base-4 code), patterns are "
    "censused, and Shannon entropy over the pattern distribution "
    "(normalized by ln 4!) grades the series' ordinal complexity — "
    "low for deterministic/trending dynamics, 1 for white noise; "
    "the model-free determinism probe beside ACF (#343) and the "
    "runs test (#365), robust to any monotone transform of the "
    "values. Parity: codes are pure integers from 3 LEADs; only "
    "the final entropy is a DECIMAL(38,18) ln-sum. Scale: one "
    "window pass over the (series, day) grid, then 24-cell "
    "censuses per series.",
    bench=False,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    )
    w = Window.partitionBy("event_type").orderBy("t")
    win = grid.select(
        "event_type",
        F.col("x").alias("x0"),
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
        F.lead("x", 3).over(w).alias("x3"),
    ).filter(F.col("x3").isNotNull())

    def rank(i: int):
        xi = F.col(f"x{i}")
        r = F.lit(0)
        for j in range(4):
            if j != i:
                r = r + F.when(F.col(f"x{j}") < xi, 1).otherwise(0)
        for j in range(i):
            r = r + F.when(F.col(f"x{j}") == xi, 1).otherwise(0)
        return r

    codes = win.select(
        "event_type",
        (((rank(0) * 4 + rank(1)) * 4 + rank(2)) * 4 + rank(3)).alias("code"),
    )
    cen = codes.groupBy("event_type", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cen.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
    )
    ent = (
        cen.join(tot.select("event_type", "n"), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                (
                    -(F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("n"))
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("h")
        )
    )
    w_top = Window.partitionBy("event_type").orderBy(F.desc("c"), "code")
    top = (
        cen.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("code").alias("top_code"))
    )
    return (
        tot.join(ent, "event_type")
        .join(top, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_windows"),
            "n_patterns",
            "top_code",
            F.round("h", 9).alias("h"),
            F.round(F.col("h") / float(_LN24), 9).alias("h_norm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# #382 gazetteer_tag — dictionary entity tagging via broadcast join
# ---------------------------------------------------------------------------

_GAZ_K = 15


@query(
    "q_gazetteer_tag",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        df AS (
            SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks WHERE lang = 'en' GROUP BY tok
        ),
        gaz AS (
            SELECT tok AS term, df,
                   ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS df_rank
            FROM df
            QUALIFY df_rank <= {_GAZ_K}
        )
        SELECT t.lang, g.term, CAST(g.df_rank AS BIGINT) AS df_rank,
               CAST(COUNT(*) AS BIGINT) AS n_mentions,
               CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs
        FROM toks t JOIN gaz g ON g.term = t.tok
        GROUP BY t.lang, g.term, g.df_rank
        ORDER BY t.lang, g.term
    """,
    operators=(16, 23, 65, 382),
    doc=f"Gazetteer tagging (#382): the dictionary-matching slot an "
    "Aho-Corasick automaton fills in a single-node NER stack, done "
    f"Spark-first — the dictionary (here the top-{_GAZ_K} "
    "document-frequency tokens of the English slice; in production "
    "a curated entity list) broadcasts to every executor and "
    "tagging is ONE broadcast hash join against the token stream, "
    "censused per (lang, term) with mention and document counts. "
    "Multi-word phrases tag identically against the shingle stream "
    "(#68). Scale: the gazetteer is small by construction "
    "(broadcast), the corpus-side pass is embarrassingly parallel, "
    "and no shuffle touches the full token stream except the final "
    "narrow-key census.",
    bench=True,
)
def q_gazetteer_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    df = (
        toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    )
    # Distributed top-K first (TakeOrderedAndProject — no global sort
    # or full-vocab window), THEN a row_number over the K survivors.
    topk = df.orderBy(F.desc("df"), "tok").limit(_GAZ_K)
    w = Window.orderBy(F.desc("df"), "tok")
    gaz = topk.select(
        F.col("tok").alias("term"),
        F.row_number().over(w).cast("bigint").alias("df_rank"),
    )
    return (
        toks.join(F.broadcast(gaz), toks["tok"] == gaz["term"])
        .groupBy("lang", "term", "df_rank")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_mentions"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy("lang", "term")
    )


# ---------------------------------------------------------------------------
# #383 l_diversity — distinct + entropy diversity above k-anonymity
# ---------------------------------------------------------------------------

_LDIV_L = 3
_LN3 = "1.0986122886681098"  # ln(3) — entropy l-diversity gate at l=3


@query(
    "q_l_diversity",
    oracle=f"""
        WITH j AS (
            SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sv
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        ),
        cen AS (
            SELECT c_nationkey, c_mktsegment, sv,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM j GROUP BY 1, 2, 3
        ),
        frac AS (
            SELECT c_nationkey, c_mktsegment, c,
                   CAST(c AS DOUBLE)
                   / SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment)
                       AS p
            FROM cen
        ),
        grp AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS l_distinct,
                   CAST(SUM(CAST(-p * LN(p) AS DECIMAL(38,18))) AS DOUBLE)
                       AS h
            FROM frac
            GROUP BY c_nationkey, c_mktsegment
        )
        SELECT c_nationkey, c_mktsegment, n, l_distinct,
               ROUND(h, 9) AS entropy,
               CAST(l_distinct >= {_LDIV_L} AS INT) AS distinct_l_ok,
               CAST(h >= {_LN3} AS INT) AS entropy_l_ok
        FROM grp
        ORDER BY c_nationkey, c_mktsegment
    """,
    operators=(13, 23, 202, 383),
    doc=f"l-diversity audit (#383): the privacy rung ABOVE "
    "k-anonymity (#202) — a QI class with k members but one shared "
    "sensitive value still leaks it; each (nation, segment) class "
    f"is graded on DISTINCT l-diversity (>= {_LDIV_L} distinct order "
    "priorities among its members' orders) and the stricter ENTROPY "
    f"l-diversity (H(sensitive | class) >= ln {_LDIV_L}, which a "
    "99:1:1 mix fails even at l_distinct = 3). Parity: counts are "
    "exact; entropy is the standard DECIMAL(38,18) ln-sum over the "
    "per-class census. Scale: one join shuffled on custkey, then a "
    "narrow-key census — same shape as #202 with one extra "
    "aggregation level.",
    bench=False,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, o["o_custkey"] == c["c_custkey"]).select(
        "c_nationkey", "c_mktsegment", F.col("o_orderpriority").alias("sv")
    )
    cen = j.groupBy("c_nationkey", "c_mktsegment", "sv").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    p = F.col("c").cast("double") / F.sum("c").over(w)
    grp = (
        cen.withColumn("term", (-p * F.log(p)).cast("decimal(38,18)"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
            F.sum("term").cast("double").alias("h"),
        )
    )
    return grp.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        "l_distinct",
        F.round("h", 9).alias("entropy"),
        (F.col("l_distinct") >= _LDIV_L).cast("int").alias("distinct_l_ok"),
        (F.col("h") >= float(_LN3)).cast("int").alias("entropy_l_ok"),
    ).orderBy("c_nationkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# #384 t_closeness — ordered EMD between class and global sensitive mix
# ---------------------------------------------------------------------------

_TCLOSE_T = "0.2"


@query(
    "q_t_closeness",
    oracle=f"""
        WITH j AS (
            SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sv
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        ),
        cats AS (SELECT DISTINCT sv FROM j),
        grps AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM j),
        gcen AS (
            SELECT c_nationkey, c_mktsegment, sv,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM j GROUP BY 1, 2, 3
        ),
        gtot AS (SELECT sv, CAST(COUNT(*) AS BIGINT) AS cg FROM j GROUP BY sv),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM j),
        gridc AS (
            SELECT g.c_nationkey, g.c_mktsegment, cats.sv,
                   COALESCE(gc.c, 0) AS c, gl.cg
            FROM grps g CROSS JOIN cats
            LEFT JOIN gcen gc ON gc.c_nationkey = g.c_nationkey
                             AND gc.c_mktsegment = g.c_mktsegment
                             AND gc.sv = cats.sv
            JOIN gtot gl ON gl.sv = cats.sv
        ),
        cum AS (
            SELECT c_nationkey, c_mktsegment, sv,
                   CAST(SUM(c) OVER w AS BIGINT) AS cum_g,
                   CAST(SUM(cg) OVER w AS BIGINT) AS cum_glob,
                   CAST(SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment)
                        AS BIGINT) AS n_g,
                   CAST(COUNT(*) OVER (PARTITION BY c_nationkey,
                                       c_mktsegment) AS BIGINT) AS m
            FROM gridc
            WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
                         ORDER BY sv)
        )
        SELECT c.c_nationkey, c.c_mktsegment, ANY_VALUE(c.n_g) AS n,
               ROUND(CAST(SUM(ABS(c.cum_g * n.nt - c.cum_glob * c.n_g))
                          AS DOUBLE)
                     / (CAST(ANY_VALUE(c.n_g) AS DOUBLE) * n.nt
                        * (ANY_VALUE(c.m) - 1)), 9) AS t_value,
               CAST(CAST(SUM(ABS(c.cum_g * n.nt - c.cum_glob * c.n_g))
                         AS DOUBLE)
                    / (CAST(ANY_VALUE(c.n_g) AS DOUBLE) * n.nt
                       * (ANY_VALUE(c.m) - 1)) <= {_TCLOSE_T} AS INT)
                   AS t_close_ok
        FROM cum c CROSS JOIN nn n
        GROUP BY c.c_nationkey, c.c_mktsegment, n.nt
        ORDER BY c.c_nationkey, c.c_mktsegment
    """,
    operators=(23, 31, 202, 384),
    doc="t-closeness audit (#384): the rung above l-diversity (#383) "
    "— a class can be l-diverse yet still leak if its sensitive "
    "DISTRIBUTION deviates from the table's (the 'skewness attack'); "
    "each (nation, segment) class is graded on the ordered-category "
    "earth-mover's distance between its order-priority mix and the "
    "global mix, EMD = sum_i |cumdiff_i| / (m-1), gated at t <= "
    f"{_TCLOSE_T}. Parity: the cumulative difference stays INTEGER "
    "as cum_g·N - cum_glob·n_g over the zero-completed class x "
    "category grid; one final division at ROUND(9). Scale: the "
    "grid is |classes| x |categories| cells after one narrow "
    "census — the audit never rescans the fact table.",
    bench=False,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_nationkey", "c_mktsegment", F.col("o_orderpriority").alias("sv")
        )
        .cache()  # five derivations below — one join pass, not five
    )
    cats = j.select("sv").distinct()
    grps = j.select("c_nationkey", "c_mktsegment").distinct()
    gcen = j.groupBy("c_nationkey", "c_mktsegment", "sv").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    glob = j.groupBy("sv").agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
    nn = j.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    gridc = (
        grps.crossJoin(F.broadcast(cats))
        .join(gcen, ["c_nationkey", "c_mktsegment", "sv"], "left")
        .join(F.broadcast(glob), "sv")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "sv",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
            "cg",
        )
    )
    wp = Window.partitionBy("c_nationkey", "c_mktsegment")
    w = wp.orderBy("sv").rowsBetween(Window.unboundedPreceding, 0)
    cum = gridc.select(
        "c_nationkey",
        "c_mktsegment",
        F.sum("c").over(w).cast("bigint").alias("cum_g"),
        F.sum("cg").over(w).cast("bigint").alias("cum_glob"),
        F.sum("c").over(wp).cast("bigint").alias("n_g"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("m"),
    )
    agg = (
        cum.crossJoin(F.broadcast(nn))
        .groupBy("c_nationkey", "c_mktsegment", "nt")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_g") * F.col("nt")
                    - F.col("cum_glob") * F.col("n_g")
                )
            ).alias("snum"),
            F.any_value(F.col("n_g")).alias("n"),
            F.any_value(F.col("m")).alias("m"),
        )
    )
    t = F.col("snum").cast("double") / (
        F.col("n").cast("double") * F.col("nt") * (F.col("m") - 1)
    )
    return agg.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        F.round(t, 9).alias("t_value"),
        (t <= float(_TCLOSE_T)).cast("int").alias("t_close_ok"),
    ).orderBy("c_nationkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# #385 smote_interpolate — deterministic minority oversampling
# ---------------------------------------------------------------------------

_EMB_DIM = 64


@query(
    "q_smote_interpolate",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        mlab AS (
            SELECT label
            FROM (SELECT label, COUNT(*) AS c FROM emb GROUP BY label)
            ORDER BY c, label LIMIT 1
        ),
        mino AS (
            SELECT e.vec_id, e.label, e.v
            FROM emb e JOIN mlab m ON m.label = e.label
        ),
        pairs AS (
            SELECT a.vec_id, a.label, a.v AS va, b.vec_id AS nn_id,
                   b.v AS vb,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(range(1, {_EMB_DIM + 1}),
                               i -> (a.v[i] - b.v[i])
                                    * (a.v[i] - b.v[i]))),
                       (p, q) -> p + q) AS d2
            FROM mino a JOIN mino b ON b.vec_id <> a.vec_id
        ),
        nn AS (
            SELECT vec_id, label, va, nn_id, vb, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ROUND(d2, 9), nn_id) AS rn
            FROM pairs
        ),
        synth AS (
            SELECT vec_id, label, nn_id, d2,
                   CAST(('0x' || SUBSTR(MD5('smote:' || vec_id), 1, 13))
                        AS BIGINT) / {_TWO52} AS lam,
                   list_transform(range(1, {_EMB_DIM + 1}),
                       i -> va[i]
                            + (CAST(('0x' || SUBSTR(MD5('smote:' || vec_id),
                                                    1, 13)) AS BIGINT)
                               / {_TWO52}) * (vb[i] - va[i])) AS s
            FROM nn WHERE rn = 1
        )
        SELECT vec_id, label, nn_id,
               ROUND(d2, 9) AS nn_d2,
               ROUND(lam, 9) AS lam,
               ROUND(list_reduce(
                         list_prepend(CAST(0 AS DOUBLE),
                             list_transform(s, t -> t * t)),
                         (p, q) -> p + q), 9) AS synth_norm2
        FROM synth
        ORDER BY vec_id
    """,
    operators=(23, 30, 71, 385),
    doc="Deterministic SMOTE (#385): the minority label (smallest "
    "class, ties by label) is oversampled by interpolating each "
    "minority vector toward its exact 1-NN within the class — "
    "synth = a + lam·(b - a) with lam an md5-uniform of the row key "
    "(the #203 derandomization discipline), graded as the neighbor "
    "id, distance, lam, and synthetic norm. Parity: distances and "
    "norms are ORDERED double folds (#355 discipline), argmin on "
    "ROUND(9) with id tie-break. Scale: SMOTE's workload is the "
    "minority class BY DEFINITION (that's why one oversamples); "
    "the quadratic candidate join is bounded by the class size, and "
    "for a large minority the #263 LSH-bucket cap diverts the "
    "pair generation exactly as in the near-dup family.",
    bench=True,
)
def q_smote_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Broadcast-matrix 1-NN (the functions/similarity.dedup_by_cosine
    # shape): the minority matrix broadcasts once, each partition
    # BLAS-scores its batch against it (compute-bound matmul), and only
    # candidates inside an epsilon band of the batch minimum get the
    # exact LEFT-FOLD rescore + Spark-ROUND(9) ordering — so the chosen
    # neighbor and every emitted double are bit-identical to the
    # oracle's quadratic list_reduce join, while the pair join the
    # naive shape would shuffle (quadratic in the minority size:
    # measured 79 s at sf10 vs 5 s for this shape) never materializes.
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    mlab = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("c", "label")
        .limit(1)
        .select("label")
    )
    mino = emb.join(F.broadcast(mlab), "label")
    pdf = mino.select("vec_id", "v").toPandas()
    ids_np = pdf["vec_id"].to_numpy()
    mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((ids_np, mat))

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("nn_id", T.LongType()),
            T.StructField("nn_d2", T.DoubleType()),
            T.StructField("lam", T.DoubleType()),
            T.StructField("synth_norm2", T.DoubleType()),
        ]
    )

    def _round9(x: float) -> float:
        # Spark ROUND(double, 9) = HALF_UP on the shortest decimal
        # repr (BigDecimal.valueOf); Decimal(repr(x)) is that repr.
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        )

    def _fold_d2(x: np.ndarray, cand: np.ndarray) -> np.ndarray:
        # exact left-fold: acc = (acc + term_i), ascending i — the
        # same IEEE chain as zip_with/aggregate and list_reduce.
        acc = np.zeros(len(cand))
        for i in range(cand.shape[1]):
            t = x[i] - cand[:, i]
            acc = acc + t * t
        return acc

    def score(batches):
        import hashlib

        corpus_ids, corpus = bc.value
        c_sq = (corpus * corpus).sum(axis=1)
        id_pos = {int(cid): k for k, cid in enumerate(corpus_ids)}
        for pdf_in in batches:
            chunk = max(1, 32_000_000 // max(1, len(corpus)))
            for lo in range(0, len(pdf_in), chunk):
                sub = pdf_in.iloc[lo : lo + chunk]
                batch = np.vstack(sub["v"].to_numpy()).astype(np.float64)
                bids = sub["vec_id"].to_numpy()
                labels = sub["label"].to_numpy()
                d2b = (
                    (batch * batch).sum(axis=1)[:, None]
                    + c_sq[None, :]
                    - 2.0 * (batch @ corpus.T)
                )
                d2b[bids[:, None] == corpus_ids[None, :]] = np.inf
                rows = []
                eps = 1e-6
                for r in range(len(batch)):
                    m = d2b[r].min()
                    cand_idx = np.nonzero(d2b[r] <= m + eps * (1.0 + abs(m)))[0]
                    exact = _fold_d2(batch[r], corpus[cand_idx])
                    keys = sorted(
                        (_round9(float(e)), int(corpus_ids[j]), float(e))
                        for e, j in zip(exact, cand_idx)
                    )
                    _, nn_id, d2 = keys[0]
                    h = hashlib.md5(f"smote:{int(bids[r])}".encode())
                    lam = int(h.hexdigest()[:13], 16) / 4503599627370496
                    nb = corpus[id_pos[nn_id]]
                    norm2 = 0.0
                    for i in range(len(nb)):
                        s_i = batch[r][i] + lam * (nb[i] - batch[r][i])
                        norm2 = norm2 + s_i * s_i
                    rows.append(
                        (
                            int(bids[r]),
                            int(labels[r]),
                            int(nn_id),
                            d2,
                            lam,
                            norm2,
                        )
                    )
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "vec_id",
                        "label",
                        "nn_id",
                        "nn_d2",
                        "lam",
                        "synth_norm2",
                    ],
                )

    out = mino.select("vec_id", "label", "v").mapInPandas(score, out_schema)
    return out.select(
        "vec_id",
        "label",
        "nn_id",
        F.round("nn_d2", 9).alias("nn_d2"),
        F.round("lam", 9).alias("lam"),
        F.round("synth_norm2", 9).alias("synth_norm2"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# #385/#263 smote_capped — LSH-bucket-diverted SMOTE (the capped twin)
# ---------------------------------------------------------------------------

_SMOTE_BITS = 4  # sign-random-projection bits; production scales bits
#                  with log2(|minority| / target_bucket) — the graded
#                  contract pins 4 so the oracle states the same buckets


def _smote_hyperplanes() -> list[list[float]]:
    """Deterministic md5-uniform hyperplanes in [-1, 1)^dim.

    Plan-level constants (the #203 derandomization discipline): both
    engines receive the SAME literal component lists, so the sign of
    the ordered dot-product fold is bit-identical cross-engine.
    """
    import hashlib

    out = []
    for j in range(_SMOTE_BITS):
        h = []
        for i in range(_EMB_DIM):
            u = (
                int(hashlib.md5(f"smoteh:{j}:{i}".encode()).hexdigest()[:13], 16)
                / _TWO52
            )
            h.append(2.0 * u - 1.0)
        out.append(h)
    return out


_SMOTE_H = _smote_hyperplanes()


def _smote_bucket_sql() -> str:
    terms = []
    for j in range(_SMOTE_BITS):
        lit = "[" + ", ".join(repr(x) for x in _SMOTE_H[j]) + "]"
        terms.append(
            f"""CASE WHEN list_reduce(
                list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, {_EMB_DIM + 1}),
                        i -> m.v[i] * (CAST({lit} AS DOUBLE[]))[i])),
                (p, q) -> p + q) > 0 THEN {1 << j} ELSE 0 END"""
        )
    return "(" + "\n + ".join(terms) + ")"


@query(
    "q_smote_capped",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        mlab AS (
            SELECT label
            FROM (SELECT label, COUNT(*) AS c FROM emb GROUP BY label)
            ORDER BY c, label LIMIT 1
        ),
        mino AS (
            SELECT e.vec_id, e.label, e.v
            FROM emb e JOIN mlab m ON m.label = e.label
        ),
        buck AS (
            SELECT m.vec_id, m.label, m.v,
                   {_smote_bucket_sql()} AS bucket
            FROM mino m
        ),
        sz AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_bucket
            FROM buck GROUP BY bucket
        ),
        pairs AS (
            SELECT a.vec_id, a.label, a.bucket, a.v AS va,
                   b.vec_id AS nn_id, b.v AS vb,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(range(1, {_EMB_DIM + 1}),
                               i -> (a.v[i] - b.v[i])
                                    * (a.v[i] - b.v[i]))),
                       (p, q) -> p + q) AS d2
            FROM buck a JOIN buck b
              ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
        ),
        nn AS (
            SELECT vec_id, label, bucket, va, nn_id, vb, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ROUND(d2, 9), nn_id) AS rn
            FROM pairs
        ),
        synth AS (
            SELECT vec_id, label, bucket, nn_id, d2,
                   CAST(('0x' || SUBSTR(MD5('smotec:' || vec_id), 1, 13))
                        AS BIGINT) / {_TWO52} AS lam,
                   list_transform(range(1, {_EMB_DIM + 1}),
                       i -> va[i]
                            + (CAST(('0x' || SUBSTR(MD5('smotec:' || vec_id),
                                                    1, 13)) AS BIGINT)
                               / {_TWO52}) * (vb[i] - va[i])) AS s
            FROM nn WHERE rn = 1
        )
        SELECT y.vec_id, y.label,
               CAST(y.bucket AS INT) AS bucket, z.n_bucket, y.nn_id,
               ROUND(y.d2, 9) AS nn_d2,
               ROUND(y.lam, 9) AS lam,
               ROUND(list_reduce(
                         list_prepend(CAST(0 AS DOUBLE),
                             list_transform(y.s, t -> t * t)),
                         (p, q) -> p + q), 9) AS synth_norm2
        FROM synth y JOIN sz z ON z.bucket = y.bucket
        ORDER BY y.vec_id
    """,
    operators=(23, 30, 263, 385),
    doc="Capped SMOTE (#385 + #263): the forced-diversion twin of "
    "q_smote_interpolate, in the q_dedup_minhash_capped pattern — "
    "the minority class is split into sign-random-projection LSH "
    "buckets (4 md5-derived hyperplanes shared as plan literals, "
    "ordered dot-product folds so bucket bits are cross-engine "
    "exact) and each vector interpolates toward its exact 1-NN "
    "WITHIN ITS BUCKET; in-bucket 1-NN is the stated contract, not "
    "an approximation of global 1-NN. Scale: this is the production "
    "shape for a large minority — the whole-minority broadcast of "
    "the uncapped twin never happens; work is bounded per bucket "
    "(quadratic only in bucket size, bits grow with "
    "log2(|minority|/target_bucket)), and the per-bucket 1-NN runs "
    "as grouped Arrow batches with chunked BLAS + epsilon-band "
    "exact-fold rescore. Singleton buckets have no in-class "
    "neighbor and emit nothing (they fall back to the uncapped path "
    "in production).",
    bench=True,
)
def q_smote_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    mlab = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("c", "label")
        .limit(1)
        .select("label")
    )
    mino = emb.join(F.broadcast(mlab), "label")

    bucket = F.lit(0)
    for j in range(_SMOTE_BITS):
        harr = F.array(*[F.lit(x) for x in _SMOTE_H[j]])
        dot = F.aggregate(
            F.zip_with(F.col("v"), harr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    bucketed = mino.select(
        "vec_id", "label", "v", bucket.cast("int").alias("bucket")
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("n_bucket", T.LongType()),
            T.StructField("nn_id", T.LongType()),
            T.StructField("nn_d2", T.DoubleType()),
            T.StructField("lam", T.DoubleType()),
            T.StructField("synth_norm2", T.DoubleType()),
        ]
    )

    def _round9(x: float) -> float:
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        )

    def _fold_d2(x: np.ndarray, cand: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(cand))
        for i in range(cand.shape[1]):
            t = x[i] - cand[:, i]
            acc = acc + t * t
        return acc

    def nn_in_bucket(key, pdf_in: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        n = len(pdf_in)
        if n < 2:
            return pd.DataFrame(
                columns=[
                    "vec_id", "label", "bucket", "n_bucket",
                    "nn_id", "nn_d2", "lam", "synth_norm2",
                ]
            )
        ids = pdf_in["vec_id"].to_numpy()
        labels = pdf_in["label"].to_numpy()
        mat = np.vstack(pdf_in["v"].to_numpy()).astype(np.float64)
        c_sq = (mat * mat).sum(axis=1)
        rows = []
        eps = 1e-6
        chunk = max(1, 32_000_000 // max(1, n))
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            batch = mat[lo:hi]
            d2b = (
                (batch * batch).sum(axis=1)[:, None]
                + c_sq[None, :]
                - 2.0 * (batch @ mat.T)
            )
            d2b[np.arange(lo, hi)[:, None] == np.arange(n)[None, :]] = np.inf
            for r in range(hi - lo):
                g = lo + r
                m = d2b[r].min()
                cand_idx = np.nonzero(d2b[r] <= m + eps * (1.0 + abs(m)))[0]
                exact = _fold_d2(mat[g], mat[cand_idx])
                keys = sorted(
                    (_round9(float(e)), int(ids[j]), float(e), int(j))
                    for e, j in zip(exact, cand_idx)
                )
                _, nn_id, d2, nn_j = keys[0]
                h = hashlib.md5(f"smotec:{int(ids[g])}".encode())
                lam = int(h.hexdigest()[:13], 16) / _TWO52
                nb = mat[nn_j]
                norm2 = 0.0
                for i in range(len(nb)):
                    s_i = mat[g][i] + lam * (nb[i] - mat[g][i])
                    norm2 = norm2 + s_i * s_i
                rows.append(
                    (
                        int(ids[g]), int(labels[g]), int(key[0]), n,
                        nn_id, d2, lam, norm2,
                    )
                )
        return pd.DataFrame(
            rows,
            columns=[
                "vec_id", "label", "bucket", "n_bucket",
                "nn_id", "nn_d2", "lam", "synth_norm2",
            ],
        )

    out = bucketed.groupBy("bucket").applyInPandas(nn_in_bucket, out_schema)
    return out.select(
        "vec_id",
        "label",
        "bucket",
        "n_bucket",
        "nn_id",
        F.round("nn_d2", 9).alias("nn_d2"),
        F.round("lam", 9).alias("lam"),
        F.round("synth_norm2", 9).alias("synth_norm2"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# #386 dtw_distance — Sakoe-Chiba banded DTW between series pairs
# ---------------------------------------------------------------------------

_DTW_W = 5  # Sakoe-Chiba band half-width (days)
_DTW_SENT = 1125899906842624  # 2^50 — unreachable-cell sentinel


@query(
    "q_dtw_distance",
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
                   CAST(COALESCE(cnt.n, 0) AS BIGINT) AS x
            FROM types t CROSS JOIN days
            LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = days.d
        ),
        ser AS (
            SELECT event_type, LIST(x ORDER BY t) AS ys,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM grid GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS ta, b.event_type AS tb,
                   a.ys AS ya, b.ys AS yb, a.n
            FROM ser a JOIN ser b ON a.event_type < b.event_type
        ),
        dp AS (
            SELECT ta, tb, ya, yb, n, CAST(0 AS BIGINT) AS k,
                   [ABS(ya[1] - yb[1])] AS cur,
                   CAST([] AS BIGINT[]) AS prev
            FROM pairs
            UNION ALL
            SELECT ta, tb, ya, yb, n, k + 1,
                   list_transform(
                       generate_series(
                           GREATEST(CAST(0 AS BIGINT), k + 1 - (n - 1)),
                           LEAST(k + 1, n - 1)),
                       i -> CASE
                           WHEN ABS(i - (k + 1 - i)) > {_DTW_W}
                               THEN CAST({_DTW_SENT} AS BIGINT)
                           ELSE CASE WHEN LEAST(
                                    CASE WHEN i - 1
                                              >= GREATEST(CAST(0 AS BIGINT),
                                                          k - (n - 1))
                                              AND i - 1 <= LEAST(k, n - 1)
                                         THEN cur[CAST(i - 1
                                                  - GREATEST(CAST(0 AS BIGINT),
                                                             k - (n - 1))
                                                  + 1 AS INT)]
                                         ELSE CAST({_DTW_SENT} AS BIGINT) END,
                                    CASE WHEN i
                                              >= GREATEST(CAST(0 AS BIGINT),
                                                          k - (n - 1))
                                              AND i <= LEAST(k, n - 1)
                                              AND k + 1 - i - 1 >= 0
                                         THEN cur[CAST(i
                                                  - GREATEST(CAST(0 AS BIGINT),
                                                             k - (n - 1))
                                                  + 1 AS INT)]
                                         ELSE CAST({_DTW_SENT} AS BIGINT) END,
                                    CASE WHEN k >= 1 AND i - 1
                                              >= GREATEST(CAST(0 AS BIGINT),
                                                          k - 1 - (n - 1))
                                              AND i - 1 <= LEAST(k - 1, n - 1)
                                         THEN prev[CAST(i - 1
                                                  - GREATEST(CAST(0 AS BIGINT),
                                                             k - 1 - (n - 1))
                                                  + 1 AS INT)]
                                         ELSE CAST({_DTW_SENT} AS BIGINT) END)
                                >= CAST({_DTW_SENT} AS BIGINT)
                           THEN CAST({_DTW_SENT} AS BIGINT)
                           ELSE ABS(ya[CAST(i + 1 AS INT)]
                                    - yb[CAST(k + 1 - i + 1 AS INT)])
                                + LEAST(
                                    CASE WHEN i - 1
                                              >= GREATEST(CAST(0 AS BIGINT),
                                                          k - (n - 1))
                                              AND i - 1 <= LEAST(k, n - 1)
                                         THEN cur[CAST(i - 1
                                                  - GREATEST(CAST(0 AS BIGINT),
                                                             k - (n - 1))
                                                  + 1 AS INT)]
                                         ELSE CAST({_DTW_SENT} AS BIGINT) END,
                                    CASE WHEN i
                                              >= GREATEST(CAST(0 AS BIGINT),
                                                          k - (n - 1))
                                              AND i <= LEAST(k, n - 1)
                                              AND k + 1 - i - 1 >= 0
                                         THEN cur[CAST(i
                                                  - GREATEST(CAST(0 AS BIGINT),
                                                             k - (n - 1))
                                                  + 1 AS INT)]
                                         ELSE CAST({_DTW_SENT} AS BIGINT) END,
                                    CASE WHEN k >= 1 AND i - 1
                                              >= GREATEST(CAST(0 AS BIGINT),
                                                          k - 1 - (n - 1))
                                              AND i - 1 <= LEAST(k - 1, n - 1)
                                         THEN prev[CAST(i - 1
                                                  - GREATEST(CAST(0 AS BIGINT),
                                                             k - 1 - (n - 1))
                                                  + 1 AS INT)]
                                         ELSE CAST({_DTW_SENT} AS BIGINT) END)
                           END
                       END),
                   cur
            FROM dp WHERE k + 1 <= 2 * (n - 1)
        )
        SELECT ta AS type_a, tb AS type_b, n AS n_days,
               cur[CAST(n - 1 - GREATEST(CAST(0 AS BIGINT),
                                         2 * (n - 1) - (n - 1))
                        + 1 AS INT)] AS dtw,
               ROUND(CAST(cur[CAST(n - 1 - GREATEST(CAST(0 AS BIGINT),
                                                    2 * (n - 1) - (n - 1))
                                   + 1 AS INT)] AS DOUBLE) / n, 9)
                   AS dtw_per_day
        FROM dp WHERE k = 2 * (n - 1)
        ORDER BY ta, tb
    """,
    operators=(18, 62, 76, 386),
    doc=f"Banded DTW (#386): dynamic-time-warping distance between "
    "every pair of daily-count series under a Sakoe-Chiba band of "
    f"±{_DTW_W} days — the elastic-alignment upgrade of the "
    "lock-step z-distance (#76): two series tracing the same shape "
    "a few days out of phase are DTW-near but euclidean-far. The "
    "Spark kernel is an Arrow-batched pandas UDF running the "
    "classic O(n·w) band DP per pair (the #60-#62 custom-kernel "
    "path: per-pair independent, integer costs so the result is "
    "engine-exact); the oracle re-derives it as an anti-diagonal "
    "WAVEFRONT recursion — diagonal k depends only on diagonals "
    "k-1/k-2, so a recursive CTE carrying two lists advances with "
    "NO within-step dependency. Scale: pairs partition "
    "embarrassingly; state per pair is O(band), the fold length is "
    "the day span; for long series the band caps work at n·w cells "
    "— the standard production guard against quadratic DTW.",
    bench=True,
)
def q_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

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
    )
    ser = grid.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "x"))), lambda s: s["x"]
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = ser.select(
        F.col("event_type").alias("type_a"), F.col("ys").alias("ya"), "n"
    )
    b = ser.select(F.col("event_type").alias("type_b"), F.col("ys").alias("yb"))
    pairs = a.crossJoin(b).filter(F.col("type_a") < F.col("type_b"))

    w_band, sent = _DTW_W, _DTW_SENT

    # NB: no type hints — `from __future__ import annotations` turns
    # them into strings pandas_udf cannot resolve; the returnType
    # argument alone drives the (legacy-style) signature.
    @pandas_udf("bigint")
    def dtw_kernel(ya, yb):
        out = []
        for va, vb in zip(ya, yb):
            n = len(va)
            big = sent
            dp = [[big] * n for _ in range(n)]
            for i in range(n):
                for j in range(max(0, i - w_band), min(n, i + w_band + 1)):
                    cost = abs(int(va[i]) - int(vb[j]))
                    if i == 0 and j == 0:
                        dp[i][j] = cost
                        continue
                    m = big
                    if i > 0 and dp[i - 1][j] < m:
                        m = dp[i - 1][j]
                    if j > 0 and dp[i][j - 1] < m:
                        m = dp[i][j - 1]
                    if i > 0 and j > 0 and dp[i - 1][j - 1] < m:
                        m = dp[i - 1][j - 1]
                    dp[i][j] = big if m >= big else cost + m
            out.append(dp[n - 1][n - 1])
        return pd.Series(out)

    return pairs.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_days"),
        dtw_kernel(F.col("ya"), F.col("yb")).alias("dtw"),
    ).withColumn(
        "dtw_per_day", F.round(F.col("dtw").cast("double") / F.col("n_days"), 9)
    ).orderBy("type_a", "type_b")
