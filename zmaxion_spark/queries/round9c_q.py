"""Round-9 wave 3 — SURVEY.md §2.27 (#429–#434).

Graph backboning (disparity filter), sketch set algebra (KMV
a-not-b), internal-consistency reliability (Cronbach's alpha),
eigenvector centrality (undamped power iteration — the PageRank
sibling), DDSketch as STREAMING state (the #220 sketches-as-state
discipline applied to quantiles), and the MCC/balanced-accuracy
evaluation row that completes the confusion-matrix family.

Parity disciplines reused from the repo:

- Bounded unrolled iterations with per-round ROUND(12)
  re-quantization (eigenvector centrality = the #153 pagerank
  valve); sup-norm normalization so no sqrt enters the recursion.
- md5-uniform hashing into [0,1) via the 13-hex-digit / 2^52 house
  pattern (KMV #204's exact construction) so sketch contents are
  bit-identical across engines.
- Streaming sketches replay to the SAME grid as their batch twin
  (monotone counts + update-mode max), so the stream query shares
  the batch oracle's semantics verbatim.
- ln/pow guards: the disparity filter's (1-w/s)^(k-1) is written as
  EXP((k-1)*LN(1-w/s)) with the w=s boundary handled by an explicit
  CASE on integers, identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #429 graph_backbone — disparity-filter significant edges
# ---------------------------------------------------------------------------

_BB_ALPHA = "0.05"

_SQL_PAIRS = """
        items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
                      CAST(COUNT(*) AS BIGINT) AS w
               FROM items a JOIN items b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2)
"""


@query(
    "q_graph_backbone",
    oracle=f"""
        WITH {_SQL_PAIRS},
        nodes AS (
            SELECT node, CAST(SUM(w) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM (SELECT u AS node, w FROM pr
                  UNION ALL SELECT v AS node, w FROM pr)
            GROUP BY node
        ),
        scored AS (
            SELECT pr.u, pr.v, pr.w,
                   CASE WHEN nu.k = 1 THEN CAST(1 AS DOUBLE)
                        WHEN pr.w = nu.s THEN CAST(0 AS DOUBLE)
                        ELSE EXP((nu.k - 1)
                                 * LN(1 - CAST(pr.w AS DOUBLE) / nu.s)) END
                       AS pu,
                   CASE WHEN nv.k = 1 THEN CAST(1 AS DOUBLE)
                        WHEN pr.w = nv.s THEN CAST(0 AS DOUBLE)
                        ELSE EXP((nv.k - 1)
                                 * LN(1 - CAST(pr.w AS DOUBLE) / nv.s)) END
                       AS pv
            FROM pr
            JOIN nodes nu ON nu.node = pr.u
            JOIN nodes nv ON nv.node = pr.v
        ),
        kept AS (
            SELECT u, v, w, LEAST(pu, pv) AS p_min
            FROM scored WHERE LEAST(pu, pv) < {_BB_ALPHA}
        ),
        tot AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n_edges,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept
        )
        SELECT k.u, k.v, k.w, ROUND(k.p_min, 9) AS p_min,
               t.n_edges, t.n_kept
        FROM kept k CROSS JOIN tot t
        ORDER BY k.p_min, k.u, k.v
        LIMIT 20
    """,
    operators=(13, 23, 302, 429),
    doc="Multiscale graph backbone (#429, Serrano et al. 2009 "
    "disparity filter): keep a weighted co-purchase edge only if its "
    "weight is statistically surprising against a uniform split of "
    "EITHER endpoint's strength — p = (1 - w/s)^(k-1) < "
    f"{_BB_ALPHA} — the principled sparsifier that preserves hub "
    "AND local structure where a global weight cutoff keeps only "
    "hubs; the preprocessing step before community (#302) or "
    "centrality (#153/#432) work on a dense graph. The power is "
    "EXP((k-1)·LN(1-w/s)) — one shared libm tree — with the w=s and "
    "k=1 boundaries handled by CASE on exact integers (no LN(0)). "
    "Graded as the top-20 most-significant kept edges plus total/"
    "kept counts. Scale: one strength census + two node-keyed "
    "joins; no pairwise work beyond the existing edge list.",
    bench=False,
)
def q_graph_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.graph_q import _copurchase_pairs

    pr = _copurchase_pairs(spark, sf_dir).select(
        "u", "v", F.col("c").cast("bigint").alias("w")
    )
    nodes = (
        pr.select(F.col("u").alias("node"), "w")
        .unionAll(pr.select(F.col("v").alias("node"), "w"))
        .groupBy("node")
        .agg(
            F.sum("w").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )

    def _p(s: str, k: str) -> F.Column:
        return (
            F.when(F.col(k) == 1, F.lit(1.0))
            .when(F.col("w") == F.col(s), F.lit(0.0))
            .otherwise(
                F.exp(
                    (F.col(k) - 1)
                    * F.log(1 - F.col("w").cast("double") / F.col(s))
                )
            )
        )

    nu = nodes.select(
        F.col("node").alias("u"), F.col("s").alias("su"), F.col("k").alias("ku")
    )
    nv = nodes.select(
        F.col("node").alias("v"), F.col("s").alias("sv"), F.col("k").alias("kv")
    )
    scored = (
        pr.join(nu, "u")
        .join(nv, "v")
        .select(
            "u",
            "v",
            "w",
            F.least(_p("su", "ku"), _p("sv", "kv")).alias("p_min"),
        )
    )
    kept = scored.filter(F.col("p_min") < float(_BB_ALPHA))
    tot = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    ).crossJoin(kept.agg(F.count(F.lit(1)).cast("bigint").alias("n_kept")))
    return (
        kept.crossJoin(F.broadcast(tot))
        .select(
            "u", "v", "w",
            F.round("p_min", 9).alias("p_min"),
            "n_edges",
            "n_kept",
        )
        .orderBy("p_min", "u", "v")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# #430 kmv_anotb — theta-sketch set difference with error contract
# ---------------------------------------------------------------------------

_AB_K = 256
_TWO52 = float(1 << 52)


@query(
    "q_kmv_anotb",
    oracle=f"""
        WITH a_keys AS (
            SELECT DISTINCT o_custkey AS k FROM orders
        ),
        b_keys AS (
            SELECT DISTINCT c_custkey AS k FROM customer
            WHERE c_acctbal < 0
        ),
        ah AS (
            SELECT k, CAST(('0x' || SUBSTR(MD5('kmv:' || CAST(k AS VARCHAR)),
                                           1, 13)) AS BIGINT)
                          / {int(_TWO52)} AS h
            FROM a_keys
        ),
        bh AS (
            SELECT k, CAST(('0x' || SUBSTR(MD5('kmv:' || CAST(k AS VARCHAR)),
                                           1, 13)) AS BIGINT)
                          / {int(_TWO52)} AS h
            FROM b_keys
        ),
        sa AS (
            SELECT h FROM ah QUALIFY ROW_NUMBER() OVER (ORDER BY h)
                              <= {_AB_K}
        ),
        sb AS (
            SELECT h FROM bh QUALIFY ROW_NUMBER() OVER (ORDER BY h)
                              <= {_AB_K}
        ),
        thetas AS (
            SELECT
                CASE WHEN (SELECT COUNT(*) FROM ah) > {_AB_K}
                     THEN (SELECT MAX(h) FROM sa) ELSE 1.0 END AS ta,
                CASE WHEN (SELECT COUNT(*) FROM bh) > {_AB_K}
                     THEN (SELECT MAX(h) FROM sb) ELSE 1.0 END AS tb
        ),
        result AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_ret, ANY_VALUE(t.th) AS th
            FROM (
                SELECT sa.h, LEAST(ts.ta, ts.tb) AS th
                FROM sa CROSS JOIN thetas ts
                WHERE sa.h < LEAST(ts.ta, ts.tb)
                  AND sa.h NOT IN (SELECT h FROM sb)
            ) t
        ),
        exact AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM (SELECT k FROM a_keys EXCEPT SELECT k FROM b_keys)
        )
        SELECT e.exact_n, r.n_ret AS retained,
               ROUND(r.n_ret / r.th, 3) AS est_n,
               CAST(ABS(r.n_ret / r.th - e.exact_n)
                    <= GREATEST(0.2 * e.exact_n, 32) AS INT) AS within_bound
        FROM result r CROSS JOIN exact e
    """,
    operators=(25, 204, 430),
    doc=f"Theta-sketch a-not-b (#430, the Apache DataSketches set "
    "algebra on the #204 KMV construction): estimate |A\\\\B| "
    "(customers who ordered but are not negative-balance) from two "
    f"k={_AB_K} min-hash sketches WITHOUT touching the raw sets — "
    "theta = min(theta_A, theta_B), retain SA hashes below theta "
    "that are absent from SB, estimate = retained/theta. This is "
    "the operation that makes sketches an algebra (union #204 / "
    "intersection / difference) instead of a counter — at 100 TB "
    "you difference yesterday's sketch against today's without a "
    "shuffle of either key set. md5-uniform hashes are the house "
    "[0,1) construction so sketch contents are bit-identical; the "
    "graded bound is the ~3/sqrt(k) RSE envelope (20%, floored at "
    "32 absolutes for small cells) alongside the exact EXCEPT "
    "anchor. Scale: two k-row sketches; the exact anchor is the "
    "calibration cost, not the production path.",
    bench=False,
)
def q_kmv_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    a_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b_keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )

    def _h(df: DataFrame) -> DataFrame:
        return df.select(
            "k",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("kmv:"), F.col("k").cast("string"))),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("double")
                / F.lit(_TWO52)
            ).alias("h"),
        )

    ah, bh = _h(a_keys), _h(b_keys)
    # k-smallest via orderBy+limit (TakeOrderedAndProject: per-partition
    # top-k then a k-row merge on the driver) — NOT a global
    # row_number window, which would funnel every hash through one
    # partition at 100 TB.
    sa = ah.select("h").orderBy("h").limit(_AB_K)
    sb = bh.select("h").orderBy("h").limit(_AB_K)
    na = ah.agg(F.count(F.lit(1)).alias("cnt_a"))
    nb = bh.agg(F.count(F.lit(1)).alias("cnt_b"))
    ta = (
        sa.agg(F.max("h").alias("mx"))
        .crossJoin(na)
        .select(
            F.when(F.col("cnt_a") > _AB_K, F.col("mx"))
            .otherwise(F.lit(1.0))
            .alias("ta")
        )
    )
    tb = (
        sb.agg(F.max("h").alias("mx"))
        .crossJoin(nb)
        .select(
            F.when(F.col("cnt_b") > _AB_K, F.col("mx"))
            .otherwise(F.lit(1.0))
            .alias("tb")
        )
    )
    thetas = ta.crossJoin(tb).select(
        F.least("ta", "tb").alias("th")
    )
    retained = (
        sa.crossJoin(F.broadcast(thetas))
        .filter(F.col("h") < F.col("th"))
        .join(sb, "h", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ret"),
            F.first("th").alias("th"),
        )
    )
    exact = a_keys.join(b_keys, "k", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    return retained.crossJoin(F.broadcast(exact)).select(
        "exact_n",
        F.col("n_ret").alias("retained"),
        F.round(F.col("n_ret") / F.col("th"), 3).alias("est_n"),
        (
            F.abs(F.col("n_ret") / F.col("th") - F.col("exact_n"))
            <= F.greatest(0.2 * F.col("exact_n"), F.lit(32.0))
        )
        .cast("int")
        .alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# #431 cronbach_alpha — internal consistency of a detector battery
# ---------------------------------------------------------------------------


def _cronbach_oracle() -> str:
    from zmaxion_spark.queries.analysis7_q import _CQ_STOPWORDS

    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        feat AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tok,
                   CAST(SUM(CASE WHEN tok IN {_CQ_STOPWORDS}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                   CAST(SUM(LENGTH(tok)) AS BIGINT) AS n_chars,
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_dist
            FROM toks GROUP BY doc_id
        ),
        items AS (
            SELECT doc_id,
                   CAST(CAST(n_stop AS DOUBLE) / n_tok >= 0.08 AS BIGINT)
                       AS x1,
                   CAST(CAST(n_chars AS DOUBLE) / n_tok <= 4.6 AS BIGINT)
                       AS x2,
                   CAST(CAST(n_dist AS DOUBLE) / n_tok <= 0.62 AS BIGINT)
                       AS x3
            FROM feat
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS BIGINT) AS s1,
                   CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(x3) AS BIGINT) AS s3,
                   CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT)
                       AS stt,
                   CAST(SUM(x1 + x2 + x3) AS BIGINT) AS st
            FROM items
        )
        SELECT n AS n_docs,
               ROUND((CAST(s1 AS DOUBLE) * (n - s1)
                      + CAST(s2 AS DOUBLE) * (n - s2)
                      + CAST(s3 AS DOUBLE) * (n - s3))
                     / (CAST(n AS DOUBLE) * n), 9) AS sum_item_var,
               ROUND((CAST(stt AS DOUBLE)
                      - CAST(st AS DOUBLE) * st / n) / n, 9) AS total_var,
               ROUND((3.0 / 2)
                     * (1 - ((CAST(s1 AS DOUBLE) * (n - s1)
                              + CAST(s2 AS DOUBLE) * (n - s2)
                              + CAST(s3 AS DOUBLE) * (n - s3))
                             / (CAST(n AS DOUBLE) * n))
                         / ((CAST(stt AS DOUBLE)
                             - CAST(st AS DOUBLE) * st / n) / n)), 9)
                   AS cronbach_alpha
        FROM mom
    """


@query(
    "q_cronbach_alpha",
    oracle=_cronbach_oracle(),
    operators=(24, 423, 431),
    doc="Cronbach's alpha (#431): internal consistency of the "
    "3-detector battery (#376/#423's items) — alpha = k/(k-1) * "
    "(1 - SUM var_item / var_total), the do-these-items-measure-one-"
    "construct number that decides whether averaging detector scores "
    "into one quality signal is even meaningful (Krippendorff #423 "
    "asks 'do raters agree'; Cronbach asks 'is the scale coherent'). "
    "Binary items make every variance a closed form of integer "
    "marginals (var_i = s_i(n-s_i)/n², population convention on "
    "both engines), and the total-score variance comes from exact "
    "Σt and Σt² — one 1-row census, one IEEE tree. Scale: one "
    "token-stream aggregate to per-doc features.",
    bench=False,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.analysis7_q import _CQ_STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    stop_set = [
        s.strip().strip("'")
        for s in _CQ_STOPWORDS.strip("()").split(",")
    ]
    feat = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("tok").isin(*stop_set), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stop"),
        F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
        F.countDistinct("tok").cast("bigint").alias("n_dist"),
    )
    items = feat.select(
        (F.col("n_stop").cast("double") / F.col("n_tok") >= 0.08)
        .cast("bigint")
        .alias("x1"),
        (F.col("n_chars").cast("double") / F.col("n_tok") <= 4.6)
        .cast("bigint")
        .alias("x2"),
        (F.col("n_dist").cast("double") / F.col("n_tok") <= 0.62)
        .cast("bigint")
        .alias("x3"),
    )
    t = F.col("x1") + F.col("x2") + F.col("x3")
    mom = items.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("x3").cast("bigint").alias("s3"),
        F.sum(t * t).cast("bigint").alias("stt"),
        F.sum(t).cast("bigint").alias("st"),
    )
    n = F.col("n")
    item_var = (
        F.col("s1").cast("double") * (n - F.col("s1"))
        + F.col("s2").cast("double") * (n - F.col("s2"))
        + F.col("s3").cast("double") * (n - F.col("s3"))
    ) / (n.cast("double") * n)
    tot_var = (
        F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st") / n
    ) / n
    return mom.select(
        n.alias("n_docs"),
        F.round(item_var, 9).alias("sum_item_var"),
        F.round(tot_var, 9).alias("total_var"),
        F.round((F.lit(3.0) / 2) * (1 - item_var / tot_var), 9).alias(
            "cronbach_alpha"
        ),
    )


# ---------------------------------------------------------------------------
# #432 eigencentrality — undamped power iteration, sup-norm scaled
# ---------------------------------------------------------------------------

_EC_ROUNDS = 4
_EC_TOP = 20


def _ec_round_sql(prev: str, out: str) -> str:
    return f"""
        {out}_raw AS (
            SELECT j.a AS node,
                   CAST(SUM(CAST(p.x AS DECIMAL(38,18))) AS DOUBLE) AS x
            FROM adj j JOIN {prev} p ON p.node = j.b
            GROUP BY j.a
        ),
        {out}_mx AS (SELECT MAX(x) AS mx FROM {out}_raw),
        {out} AS (
            SELECT r.node, ROUND(r.x / m.mx, 12) AS x
            FROM {out}_raw r CROSS JOIN {out}_mx m
        )"""


def _ec_sql() -> str:
    from zmaxion_spark.queries.graph_q import _SQL_COPURCHASE_EDGES

    rounds = ",".join(
        _ec_round_sql(f"e{r - 1}", f"e{r}") for r in range(1, _EC_ROUNDS + 1)
    )
    return f"""
        WITH {_SQL_COPURCHASE_EDGES},
        adj AS MATERIALIZED (
            SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v AS a, u AS b FROM e
        ),
        e0 AS (
            SELECT node, CAST(1 AS DOUBLE) AS x
            FROM (SELECT DISTINCT a AS node FROM adj)
        ),{rounds}
        SELECT node, x AS score
        FROM e{_EC_ROUNDS}
        ORDER BY x DESC, node
        LIMIT {_EC_TOP}
    """


@query(
    "q_eigencentrality",
    oracle=_ec_sql(),
    operators=(13, 23, 153, 432),
    doc=f"Eigenvector centrality (#432): {_EC_ROUNDS} unrolled power-"
    "iteration rounds x' = A·x on the co-purchase graph, sup-norm "
    "normalized each round (divide by the max component — "
    "deterministic, no sqrt in the recursion) with per-round "
    "ROUND(12) re-quantization (the #153 pagerank valve) — the "
    "influence measure where a neighbor's importance matters, not "
    "just its existence (degree) or its random-walk share "
    "(PageRank's out-degree division, which this deliberately "
    "lacks: a hub confers FULL weight to every neighbor). Graded "
    f"as the top-{_EC_TOP} (node, score) after round {_EC_ROUNDS}; "
    "neighbor sums pass through DECIMAL(38,18) so addition order "
    "cannot drift. Scale: each round is one hash join + one "
    "aggregate partitioned by node, plus a 1-row max broadcast.",
    bench=False,
)
def q_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.graph_q import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(e.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=True)
    )
    x = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.lit(1.0).alias("x"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_EC_ROUNDS):
        raw = (
            adj.join(x.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)"))
                .cast("double")
                .alias("x")
            )
        )
        mx = raw.agg(F.max("x").alias("mx"))
        x = (
            raw.crossJoin(F.broadcast(mx))
            .select("node", F.round(F.col("x") / F.col("mx"), 12).alias("x"))
            .localCheckpoint(eager=True)
        )
    return (
        x.select("node", F.col("x").alias("score"))
        .orderBy(F.col("score").desc(), "node")
        .limit(_EC_TOP)
    )


# ---------------------------------------------------------------------------
# #434 mcc_eval — Matthews correlation + balanced accuracy
# ---------------------------------------------------------------------------


@query(
    "q_mcc_eval",
    oracle="""
        WITH scored AS (
            SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                   CASE WHEN q.quality_score >= 0.5 THEN 1 ELSE 0 END
                       AS yhat
            FROM documents d
            JOIN (
                SELECT doc_id,
                       ROUND(1 / (1 + EXP(-(z))), 9) AS quality_score
                FROM (
                    SELECT doc_id, 0.160745 + 0.904206 * (LN(1 + LENGTH(text)) - 5.5)
                           + 0.461865 * (CAST(LENGTH(text) AS DOUBLE)
                                     / LEN(STRING_SPLIT(text, ' ')) - 6.0)
                           + 0.160662 * (CAST(LENGTH(text)
                                          - LENGTH(REPLACE(text, ' ', ''))
                                          AS DOUBLE) / LENGTH(text) - 0.16) AS z
                    FROM documents WHERE LENGTH(text) > 0
                )
            ) q ON q.doc_id = d.doc_id
        ),
        cm AS (
            SELECT CAST(SUM(y * yhat) AS BIGINT) AS tp,
                   CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
                   CAST(SUM(y * (1 - yhat)) AS BIGINT) AS fn,
                   CAST(SUM((1 - y) * (1 - yhat)) AS BIGINT) AS tn
            FROM scored
        )
        SELECT tp, fp, fn, tn,
               ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                     / SQRT((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                            * (CAST(tn AS DOUBLE) + fp)
                            * (CAST(tn AS DOUBLE) + fn)), 9) AS mcc,
               ROUND((CAST(tp AS DOUBLE) / (tp + fn)
                      + CAST(tn AS DOUBLE) / (tn + fp)) / 2, 9)
                   AS balanced_accuracy,
               ROUND(CAST(tp AS DOUBLE) / (tp + fn)
                     + CAST(tn AS DOUBLE) / (tn + fp) - 1, 9)
                   AS informedness
        FROM cm
    """,
    operators=(24, 226, 434),
    doc="Matthews correlation + balanced accuracy (#434) for the #222 "
    "classifier at the fixed 0.5 cut: MCC = (tp·tn − fp·fn)/"
    "sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — the single-number "
    "confusion summary that stays honest under class imbalance "
    "where accuracy and even F1 (#325) inflate (MCC is the "
    "phi/Pearson correlation of the binary confusion table, so 0 "
    "means 'no better than prevalence guessing'); balanced accuracy "
    "and Youden informedness ride along from the same four "
    "integers. One conditional aggregate; one IEEE tree. Completes "
    "the eval family: AUC #226 (threshold-free), ROC #235 (curve), "
    "Youden #424 (elected cut), MCC (imbalance-honest scalar).",
    bench=False,
)
def q_mcc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.governance_q import q_quality_classifier

    d = load_table(spark, sf_dir, "documents")
    scored = (
        q_quality_classifier(spark, sf_dir)
        .join(
            d.select(
                "doc_id",
                F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            ),
            "doc_id",
        )
        .select(
            "y",
            F.when(F.col("quality_score") >= 0.5, 1).otherwise(0).alias("yhat"),
        )
    )
    cm = scored.agg(
        F.sum(F.col("y") * F.col("yhat")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat")).cast("bigint").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yhat"))).cast("bigint").alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat")))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc = (tp.cast("double") * tn - fp.cast("double") * fn) / F.sqrt(
        (tp.cast("double") + fp)
        * (tp.cast("double") + fn)
        * (tn.cast("double") + fp)
        * (tn.cast("double") + fn)
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(mcc, 9).alias("mcc"),
        F.round(
            (tp.cast("double") / (tp + fn) + tn.cast("double") / (tn + fp))
            / 2,
            9,
        ).alias("balanced_accuracy"),
        F.round(
            tp.cast("double") / (tp + fn) + tn.cast("double") / (tn + fp) - 1,
            9,
        ).alias("informedness"),
    )


# ---------------------------------------------------------------------------
# #433 stream_ddsketch — DDSketch quantiles as streaming state
# ---------------------------------------------------------------------------

_SDD_QS = (50, 95, 99)
_SDD_SLACK = "0.0102"  # alpha + integerization headroom (the #330 bound)


@query(
    "q_stream_ddsketch",
    oracle=f"""
        WITH g AS (
            SELECT CAST((1 + 0.01) / (1 - 0.01) AS DOUBLE) AS g
        ),
        buckets AS (
            SELECT event_type,
                   CAST(CEIL(CAST(CAST(LN(value) / LN(g.g)
                                       AS DECIMAL(38,9)) AS DOUBLE))
                        AS BIGINT) AS bi,
                   COUNT(*) AS cnt
            FROM events CROSS JOIN g
            WHERE value > 0
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, bi,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bi) AS c
            FROM buckets
        ),
        ntot AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
            FROM buckets GROUP BY 1
        ),
        qs AS (SELECT UNNEST([{", ".join(str(q) for q in _SDD_QS)}]) AS q),
        ranks AS (
            SELECT t.event_type, qs.q, t.n,
                   CAST(CEIL(qs.q * t.n / CAST(100 AS DOUBLE)) AS BIGINT) AS r
            FROM ntot t CROSS JOIN qs
        ),
        bq AS (
            SELECT r.event_type, r.q, r.n, r.r,
                   MIN(CASE WHEN c.c >= r.r THEN c.bi END) AS bi
            FROM ranks r JOIN cum c ON c.event_type = r.event_type
            GROUP BY 1, 2, 3, 4
        ),
        vcum AS (
            SELECT event_type, value AS v,
                   SUM(COUNT(*)) OVER (PARTITION BY event_type
                                       ORDER BY value) AS c
            FROM events WHERE value > 0
            GROUP BY event_type, value
        ),
        exactv AS (
            SELECT r.event_type, r.q,
                   MIN(CASE WHEN v.c >= r.r THEN v.v END) AS exact_v
            FROM ranks r JOIN vcum v ON v.event_type = r.event_type
            GROUP BY 1, 2
        ),
        est AS (
            SELECT b.event_type, b.q, b.n, e.exact_v,
                   CAST(CAST(2 * EXP(b.bi * LN(g.g)) / (g.g + 1)
                             AS DECIMAL(38,6)) AS DOUBLE) AS est_v
            FROM bq b
            JOIN exactv e ON e.event_type = b.event_type AND e.q = b.q
            CROSS JOIN g
        )
        SELECT event_type, CAST(q AS INT) AS q, n, exact_v,
               CAST(ABS(est_v - exact_v) / exact_v <= {_SDD_SLACK} AS INT)
                   AS est_within_alpha
        FROM est
        ORDER BY event_type, q
    """,
    operators=(26, 220, 330, 433),
    doc="DDSketch as STREAMING STATE (#433): the #330 log-bucket "
    "quantile sketch maintained over the replayed event stream — "
    "each micro-batch folds its values into per-(event_type, "
    "bucket) counters via a streaming groupBy in update mode, and "
    "the final grid (max per cell on the update sink; counts are "
    "monotone) must reproduce the batch-built sketch exactly, so "
    "the stream query grades against a pure batch oracle. The "
    "#220 sketches-as-state discipline applied to QUANTILES: an "
    "unbounded stream of values summarized into a few hundred "
    "mergeable counters, restart-safe, with a uniform RELATIVE "
    "error contract (graded at p50/p95/p99 against exact anchors) "
    "that percentile_approx's rank bound cannot give. The ln-ratio "
    "bucket index quantizes through DECIMAL(38,9) before CEIL on "
    "both engines; the estimate through DECIMAL(38,6).",
    bench=False,
)
def q_stream_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from zmaxion_spark.streaming.pipeline import run_available_now
    from zmaxion_spark.streaming.sources import stream_events

    g_lit = (F.lit(1.0) + F.lit(0.01)) / (F.lit(1.0) - F.lit(0.01))
    bi_of = lambda col: F.ceil(  # noqa: E731
        (F.log(col) / F.log(g_lit)).cast("decimal(38,9)").cast("double")
    ).cast("bigint")

    ev = stream_events(spark, sf_dir).filter(F.col("value") > 0)
    cells = ev.select("event_type", bi_of(F.col("value")).alias("bi"))
    sink = run_available_now(
        cells.groupBy("event_type", "bi").agg(F.count(F.lit(1)).alias("cnt")),
        "sdd",
        mode="update",
    )
    buckets = (
        sink.groupBy("event_type", "bi")
        .agg(F.max("cnt").alias("cnt"))
        # cum and ntot both derive from this frame and later re-join;
        # materialize so the join does not see conflicting references
        .localCheckpoint(eager=True)
    )
    cum = buckets.select(
        "event_type",
        "bi",
        F.sum("cnt")
        .over(
            W.partitionBy("event_type")
            .orderBy("bi")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .alias("c"),
    )
    ntot = buckets.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    qs = spark.range(len(_SDD_QS)).select(
        F.element_at(
            F.array(*[F.lit(q) for q in _SDD_QS]),
            (F.col("id") + 1).cast("int"),
        ).alias("q")
    )
    ranks = ntot.crossJoin(F.broadcast(qs)).select(
        "event_type",
        "q",
        "n",
        F.ceil(F.col("q") * F.col("n") / F.lit(100.0)).cast("bigint").alias("r"),
    )
    bq = (
        ranks.join(cum, "event_type")
        .groupBy("event_type", "q", "n", "r")
        .agg(F.min(F.when(F.col("c") >= F.col("r"), F.col("bi"))).alias("bi"))
    )
    # exact rank-value anchors from the batch table (same rows the
    # stream replays)
    evb = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    vcum = (
        evb.groupBy("event_type", F.col("value").alias("v"))
        .count()
        .select(
            "event_type",
            "v",
            F.sum("count")
            .over(
                W.partitionBy("event_type")
                .orderBy("v")
                .rowsBetween(W.unboundedPreceding, 0)
            )
            .alias("c"),
        )
    )
    exactv = (
        ranks.join(vcum, "event_type")
        .groupBy("event_type", "q")
        .agg(F.min(F.when(F.col("c") >= F.col("r"), F.col("v"))).alias("exact_v"))
    )
    est_v = (
        (2 * F.exp(F.col("bi") * F.log(g_lit)) / (g_lit + 1))
        .cast("decimal(38,6)")
        .cast("double")
    )
    return (
        bq.join(exactv, ["event_type", "q"])
        .select(
            "event_type",
            F.col("q").cast("int").alias("q"),
            "n",
            "exact_v",
            (
                F.abs(est_v - F.col("exact_v")) / F.col("exact_v")
                <= float(_SDD_SLACK)
            )
            .cast("int")
            .alias("est_within_alpha"),
        )
        .orderBy("event_type", "q")
    )
