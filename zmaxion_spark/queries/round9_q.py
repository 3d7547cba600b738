"""Round-9 wave — SURVEY.md §2.27 (#413–#419).

Graph closure (bounded-round connected components), the production
dedup completion (duplicate CLUSTERS with canonical election over the
MinHash-LSH pair graph), data-selection importance weighting
(DSIR-style hashed-bigram importance ratios), the modern-LM smoothing
upgrade (interpolated Kneser-Ney bigrams scored on a holdout), the
CCNet perplexity-bucket curation recipe, heteroscedastic group
comparison (Welch's ANOVA — what you run when #372 Levene rejects
#307's equal-variance assumption), and rank-based post-hoc pairwise
location tests (Dunn) completing Kruskal-Wallis (#370).

Plus the scale contract the round-8 verdict asked for: q_dbscan_big
re-runs the (now equi-join) grid DBSCAN census on an 8x md5-jittered
point cloud with NO sample cap, benchmarked, proving the 3x3-cell
explode+hash-join shape carries the full fixture the way the
lsh_bucket_cap diversion (#263) carried dedup.

Parity disciplines reused from the repo:

- Bounded-round fixpoints (hash-to-min label propagation) unroll as
  oracle CTEs and localCheckpoint per round on the Spark side (the
  #282 k-core valve), with a converged flag graded alongside.
- Integer-first moments: Welch cells reuse the #307 split-sum trick
  (sum of cents BIGINT; sum of cents^2 as div/mod-1e9 halves) so
  every engine-specific int->double cast is of a value < 2^53.
- ln/exp trees are written identically on both sides and ln inputs
  are structurally > 0 (Laplace smoothing, OOV filters censused out).
- Per-term DECIMAL quantization before every float sum so addition
  order cannot drift; md5-derived determinism for hashes/jitter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.graph_q import _SQL_COPURCHASE_EDGES, _copurchase_edges
from zmaxion_spark.queries.llm import _MINHASH_CTES
from zmaxion_spark.queries.registry import query
from zmaxion_spark.queries.round8_q import _DBS_EPS, _DBS_MINPTS


# ---------------------------------------------------------------------------
# #413 connected_components — bounded-round hash-to-min labels
# ---------------------------------------------------------------------------

_CC_ROUNDS = 8


def _cc_round_sql(prev: str, out: str) -> str:
    """One hash-to-min round: every node takes the MIN over its own
    label and all neighbor labels — pure integer, order-free."""
    return f"""
        {out} AS (
            SELECT node, MIN(lbl) AS lbl FROM (
                SELECT node, lbl FROM {prev}
                UNION ALL
                SELECT j.a AS node, p.lbl
                FROM adj j JOIN {prev} p ON p.node = j.b
            ) GROUP BY node
        )"""


def _cc_sql() -> str:
    rounds = ",".join(
        _cc_round_sql(f"l{r - 1}", f"l{r}") for r in range(1, _CC_ROUNDS + 1)
    )
    return f"""
        WITH {_SQL_COPURCHASE_EDGES},
        adj AS MATERIALIZED (
            SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v AS a, u AS b FROM e
        ),
        l0 AS (
            SELECT node, node AS lbl
            FROM (SELECT DISTINCT a AS node FROM adj)
        ),{rounds},
        census AS (
            SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize
            FROM l{_CC_ROUNDS} GROUP BY lbl
        ),
        chg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM l{_CC_ROUNDS} a
            JOIN l{_CC_ROUNDS - 1} b
              ON b.node = a.node AND b.lbl <> a.lbl
        )
        SELECT csize AS size, CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST((SELECT n FROM chg) = 0 AS INT) AS converged
        FROM census GROUP BY csize
        ORDER BY size
    """


@query(
    "q_connected_components",
    oracle=_cc_sql(),
    operators=(13, 23, 413),
    doc=f"Connected components (#413) of the co-purchase graph by "
    f"{_CC_ROUNDS} unrolled hash-to-min rounds: every node repeatedly "
    "takes the MIN over its own and its neighbors' labels, so labels "
    "flood each component down to its smallest node id in O(diameter) "
    "rounds — the missing closure primitive under the graph family "
    "(#152/#206/#211/#282/#302): communities, dedup groups, and "
    "lineage islands all reduce to it. Graded output is the "
    "component-SIZE census plus a converged flag (round N == round "
    "N-1), the bounded-round house fixpoint discipline (#282) — no "
    "unbounded recursion, integers end-to-end, trivially hash-exact. "
    "Scale: each round is one union + one hash join + one min "
    "aggregate, all partitioned by node id; the label frame "
    "localCheckpoints per round so lineage does not replay the chain. "
    "(Production note: alternating small-star/large-star halves the "
    "round count; plain hash-to-min keeps the oracle unrollable.)",
    bench=False,
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(e.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=True)
    )
    lbl = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    prev = lbl
    for _ in range(_CC_ROUNDS):
        prev = lbl
        lbl = (
            lbl.unionAll(
                adj.join(lbl.withColumnRenamed("node", "b"), "b").select(
                    F.col("a").alias("node"), "lbl"
                )
            )
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    n_changed = (
        lbl.alias("a")
        .join(prev.alias("b"), F.col("a.node") == F.col("b.node"))
        .filter(F.col("a.lbl") != F.col("b.lbl"))
        .count()
    )
    census = lbl.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("csize")
    )
    return (
        census.groupBy(F.col("csize").alias("size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .withColumn("converged", F.lit(1 if n_changed == 0 else 0))
        .orderBy("size")
    )


# ---------------------------------------------------------------------------
# #414 dedup_clusters — components over LSH pairs + canonical election
# ---------------------------------------------------------------------------

_DCL_ROUNDS = 6
_DCL_TOP = 20


def _dcl_sql() -> str:
    rounds = ",".join(
        _cc_round_sql(f"l{r - 1}", f"l{r}") for r in range(1, _DCL_ROUNDS + 1)
    )
    return f"""
        WITH {_MINHASH_CTES},
        pairs AS MATERIALIZED (
            SELECT doc_a, doc_b FROM scored WHERE jacc >= 0.5
        ),
        adj AS MATERIALIZED (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        l0 AS (
            SELECT node, node AS lbl
            FROM (SELECT DISTINCT a AS node FROM adj)
        ),{rounds},
        census AS (
            SELECT CAST(lbl AS BIGINT) AS canonical_doc,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM l{_DCL_ROUNDS} GROUP BY lbl
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(cluster_size - 1) AS BIGINT) AS n_redundant
            FROM census
        ),
        chg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM l{_DCL_ROUNDS} a
            JOIN l{_DCL_ROUNDS - 1} b
              ON b.node = a.node AND b.lbl <> a.lbl
        )
        SELECT c.canonical_doc, c.cluster_size,
               t.n_clusters, t.n_redundant,
               CAST((SELECT n FROM chg) = 0 AS INT) AS converged
        FROM census c CROSS JOIN tot t
        ORDER BY c.cluster_size DESC, c.canonical_doc
        LIMIT {_DCL_TOP}
    """


@query(
    "q_dedup_canonical",
    oracle=_dcl_sql(),
    operators=(40, 70, 413, 414),
    doc=f"Duplicate-cluster CANONICALIZATION (#414): where "
    "q_dedup_clusters (#70) maps each node to its component id, this "
    f"completes the production contract — {_DCL_ROUNDS} bounded "
    "hash-to-min rounds (the #413 kernel, unrollable as oracle CTEs "
    "where #70's recursive-CTE closure is not boundable) over the "
    "MinHash-LSH pair graph, electing the min-doc_id canonical per "
    "cluster (the flooded label IS the smallest member) and grading "
    "the keep-one-per-cluster accounting: top-"
    f"{_DCL_TOP} clusters by size, total cluster count, REDUNDANT-doc "
    "count (what dedup actually deletes; pairs alone over-delete "
    "A~B~C chains or leave transitive copies), and a converged flag. "
    "Scale: pair generation is the capped-bucket LSH path (#263); "
    "the component rounds run on the PAIR graph only (dup pairs, "
    "not corpus rows), each round one join + one min aggregate.",
    bench=False,
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.functions import dedup as D
    from zmaxion_spark.functions import text as T

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sh = d.filter(F.size(toks) >= 3).select(
        "doc_id", T.shingles(toks, 3).alias("s")
    )
    pairs = D.minhash_lsh_pairs(
        sh, "doc_id", "s", n_hashes=12, band_size=3, threshold=0.5
    ).select("doc_a", "doc_b")
    adj = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .localCheckpoint(eager=True)
    )
    lbl = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    prev = lbl
    for _ in range(_DCL_ROUNDS):
        prev = lbl
        lbl = (
            lbl.unionAll(
                adj.join(lbl.withColumnRenamed("node", "b"), "b").select(
                    F.col("a").alias("node"), "lbl"
                )
            )
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    n_changed = (
        lbl.alias("a")
        .join(prev.alias("b"), F.col("a.node") == F.col("b.node"))
        .filter(F.col("a.lbl") != F.col("b.lbl"))
        .count()
    )
    census = lbl.groupBy(
        F.col("lbl").cast("bigint").alias("canonical_doc")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    tot = census.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_redundant"),
    )
    return (
        census.crossJoin(F.broadcast(tot))
        .withColumn("converged", F.lit(1 if n_changed == 0 else 0))
        .orderBy(F.col("cluster_size").desc(), "canonical_doc")
        .limit(_DCL_TOP)
    )


# ---------------------------------------------------------------------------
# #415 dsir_importance — hashed-bigram importance weights (DSIR)
# ---------------------------------------------------------------------------

_DSIR_B = 256
_DSIR_TARGET = "en"


@query(
    "q_dsir_importance",
    oracle=f"""
        WITH bg AS (
            SELECT doc_id, source,
                   CAST(('0x' || SUBSTR(MD5(SUBSTR(text, g.i, 2)), 1, 8))
                        AS BIGINT) % {_DSIR_B} AS bkt,
                   lang
            FROM documents,
                 UNNEST(GENERATE_SERIES(1, LEN(text) - 1)) AS g(i)
        ),
        tgt AS MATERIALIZED (
            SELECT bkt, CAST(COUNT(*) AS BIGINT) AS ct FROM bg
            WHERE lang = '{_DSIR_TARGET}' GROUP BY bkt
        ),
        raw AS MATERIALIZED (
            SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cr FROM bg GROUP BY bkt
        ),
        tots AS (
            SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS tt,
                   (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS tr
        ),
        model AS MATERIALIZED (
            SELECT r.bkt,
                   CAST(LN(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                           / (tots.tt + {_DSIR_B}))
                        - LN(CAST(r.cr + 1 AS DOUBLE)
                             / (tots.tr + {_DSIR_B}))
                        AS DECIMAL(28,12)) AS llr
            FROM raw r LEFT JOIN tgt t ON t.bkt = r.bkt
            CROSS JOIN tots
        ),
        db AS (
            SELECT doc_id, source, bkt, CAST(COUNT(*) AS BIGINT) AS n
            FROM bg GROUP BY doc_id, source, bkt
        ),
        w AS (
            SELECT db.doc_id, db.source,
                   CAST(SUM(CAST(db.n AS DECIMAL(6,0)) * m.llr) AS DOUBLE)
                       AS wt
            FROM db JOIN model m ON m.bkt = db.bkt
            GROUP BY db.doc_id, db.source
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(CAST(wt AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 9) AS mean_weight,
               CAST(SUM(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_target_like
        FROM w GROUP BY source
        ORDER BY source
    """,
    operators=(23, 41, 47, 415),
    doc=f"DSIR-style importance weights (#415, Xie et al. 2023): score "
    "every document by the log importance ratio "
    "ln p_target(x) - ln p_raw(x) under two hashed char-bigram "
    f"unigram models ({_DSIR_B} md5 buckets, Laplace-smoothed) — "
    f"target = lang '{_DSIR_TARGET}' docs, raw = the whole corpus — "
    "the data-SELECTION primitive that tilts a 100 TB crawl toward a "
    "target domain without training a classifier. Per-bucket "
    "log-likelihood ratios are quantized DECIMAL(28,12) once in the "
    f"{_DSIR_B}-row model (one shared ln tree over exact "
    "integer-smoothed probabilities, structurally > 0), so per-doc "
    "weights are exact decimal dot products; the graded census is "
    "per-source mean weight + the target-like count (weight > 0). "
    "Scale: the char stream is touched once into (doc, bucket) "
    f"cells; the model is {_DSIR_B} rows and broadcasts; no sort, "
    "no pairwise work.",
    bench=False,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id",
        "source",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        "source",
        "lang",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("bkt"),
    )
    tgt = (
        bg.filter(F.col("lang") == _DSIR_TARGET)
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    raw = bg.groupBy("bkt").agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
    tots = tgt.agg(F.sum("ct").cast("bigint").alias("tt")).crossJoin(
        raw.agg(F.sum("cr").cast("bigint").alias("tr"))
    )
    model = (
        raw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bkt",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("tt") + _DSIR_B)
                )
                - F.log(
                    (F.col("cr") + 1).cast("double") / (F.col("tr") + _DSIR_B)
                )
            )
            .cast("decimal(28,12)")
            .alias("llr"),
        )
    )
    db = bg.groupBy("doc_id", "source", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = (
        db.join(F.broadcast(model), "bkt")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("n").cast("decimal(6,0)") * F.col("llr"))
            .cast("double")
            .alias("wt")
        )
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("wt").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_weight"),
            F.sum(F.when(F.col("wt") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_target_like"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# #416 kneser_ney — interpolated KN bigram LM scored on a holdout
# ---------------------------------------------------------------------------

_KN_D = "0.75"


@query(
    "q_kneser_ney",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks
            FROM documents
        ),
        bg AS (
            SELECT doc_id, lang, doc_id % 10 = 0 AS hold,
                   toks[i] AS w1, toks[i + 1] AS w2
            FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS g(i)
        ),
        cb AS MATERIALIZED (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
            FROM bg WHERE NOT hold GROUP BY w1, w2
        ),
        cu AS MATERIALIZED (
            SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1,
                   CAST(COUNT(DISTINCT w2) AS BIGINT) AS n1f
            FROM bg WHERE NOT hold GROUP BY w1
        ),
        cw AS MATERIALIZED (
            SELECT w2, CAST(COUNT(DISTINCT w1) AS BIGINT) AS n1b
            FROM bg WHERE NOT hold GROUP BY w2
        ),
        btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM cb),
        sc AS (
            SELECT h.lang,
                   CASE WHEN cu.w1 IS NULL OR cw.w2 IS NULL
                        THEN NULL
                        ELSE CAST(LN(
                            (GREATEST(CAST(COALESCE(cb.c2, 0) AS DOUBLE)
                                      - {_KN_D}, 0)
                             + {_KN_D} * cu.n1f
                               * (CAST(cw.n1b AS DOUBLE) / btot.b))
                            / cu.c1) AS DECIMAL(28,9)) END AS lp
            FROM bg h
            LEFT JOIN cu ON cu.w1 = h.w1
            LEFT JOIN cw ON cw.w2 = h.w2
            LEFT JOIN cb ON cb.w1 = h.w1 AND cb.w2 = h.w2
            CROSS JOIN btot
            WHERE h.hold
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) - COUNT(lp) AS BIGINT) AS n_oov,
               CAST(CAST(EXP(-CAST(SUM(lp) AS DOUBLE) / COUNT(lp))
                         AS DECIMAL(38,9)) AS DOUBLE) AS ppl_kn
        FROM sc GROUP BY lang
        ORDER BY lang
    """,
    operators=(23, 25, 303, 416),
    doc=f"Interpolated Kneser-Ney bigram LM (#416, D = {_KN_D}): "
    "P(w|p) = max(c(pw)-D, 0)/c(p) + D·N1+(p·)/c(p) · N1+(·w)/B — "
    "the continuation-count smoothing that fixes add-one's (#303) "
    "systematic over-weighting of frequent-but-narrow tokens (the "
    "'San Francisco' effect: 'Francisco' is frequent yet follows "
    "almost nothing). Trained on the deterministic 90% split "
    "(doc_id % 10 != 0), scored as per-lang holdout perplexity with "
    "OOV bigrams (context or continuation unseen in training) "
    "censused out identically on both engines — counts and "
    "continuation counts are exact integers, each ln term is one "
    "shared IEEE tree quantized at 1e-9 before the exact decimal "
    "sum. The quality-gate LM CCNet actually ships is KN-smoothed "
    "(KenLM); this is that gate without the external binary. Scale: "
    "three hash aggregates on the train stream + three joins on "
    "bigram/token keys; the model never collects.",
    bench=False,
)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = t.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 10 == 0).alias("hold"),
        F.explode(pairs).alias("p"),
    ).select("doc_id", "lang", "hold", "p.w1", "p.w2")
    train = bg.filter(~F.col("hold"))
    cb = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    cu = train.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1"),
        F.countDistinct("w2").cast("bigint").alias("n1f"),
    )
    cw = train.groupBy("w2").agg(
        F.countDistinct("w1").cast("bigint").alias("n1b")
    )
    btot = cb.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    d = float(_KN_D)
    p_kn = (
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - F.lit(d),
            F.lit(0.0),
        )
        + F.lit(d)
        * F.col("n1f")
        * (F.col("n1b").cast("double") / F.col("b"))
    ) / F.col("c1")
    sc = (
        bg.filter(F.col("hold"))
        .join(cu, "w1", "left")
        .join(cw, "w2", "left")
        .join(cb, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(btot))
        .select(
            "lang",
            F.when(
                F.col("c1").isNull() | F.col("n1b").isNull(), F.lit(None)
            )
            .otherwise(F.log(p_kn).cast("decimal(28,9)"))
            .alias("lp"),
        )
    )
    return (
        sc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (F.count(F.lit(1)) - F.count("lp")).cast("bigint").alias("n_oov"),
            F.exp(-F.sum("lp").cast("double") / F.count("lp"))
            .cast("decimal(38,9)")
            .cast("double")
            .alias("ppl_kn"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# #417 ccnet_buckets — perplexity-tercile curation census (CCNet)
# ---------------------------------------------------------------------------


@query(
    "q_ccnet_buckets",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks
            FROM documents
        ),
        bg AS (
            SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
            FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS g(i)
        ),
        cb AS MATERIALIZED (
            SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
        ),
        cu AS MATERIALIZED (
            SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
        ),
        v AS (
            SELECT COUNT(DISTINCT tok) AS v
            FROM (SELECT UNNEST(toks) AS tok FROM t)
        ),
        term AS (
            SELECT bg.doc_id, bg.lang,
                   CAST(LN(CAST(cb.c2 + 1 AS DOUBLE) / (cu.c1 + v.v))
                        AS DECIMAL(38,9)) AS lp
            FROM bg
            JOIN cb ON cb.w1 = bg.w1 AND cb.w2 = bg.w2
            JOIN cu ON cu.w1 = bg.w1
            CROSS JOIN v
        ),
        docppl AS (
            SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tok,
                   CAST(CAST(EXP(-CAST(SUM(lp) AS DOUBLE) / COUNT(*))
                             AS DECIMAL(38,9)) AS DOUBLE) AS ppl
            FROM term GROUP BY doc_id, lang
        ),
        ranked AS (
            SELECT lang, n_tok, ppl,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY ppl, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS m
            FROM docppl
        ),
        bucketed AS (
            SELECT lang, n_tok, ppl,
                   CASE WHEN rn * 3 <= m THEN 'head'
                        WHEN rn * 3 <= 2 * m THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ranked
        )
        SELECT lang, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(CAST(ppl AS DECIMAL(38,9))) AS DOUBLE)
                     / COUNT(*), 9) AS mean_ppl
        FROM bucketed
        GROUP BY lang, bucket
        ORDER BY lang, bucket
    """,
    operators=(23, 30, 303, 417),
    doc="CCNet perplexity buckets (#417, Wenzek et al. 2020): rank "
    "every document by its n-gram LM perplexity (the #303 model) "
    "WITHIN its language and cut head/middle/tail terciles "
    "(rn*3 <= m / <= 2m — pure integer rank arithmetic, identical "
    "on both engines) — the curation recipe behind CCNet/RedPajama "
    "where 'head' feeds pretraining, 'middle' is kept under budget, "
    "'tail' is dropped or re-filtered. Graded per (lang, bucket): "
    "doc count, token mass, and mean perplexity (decimal-summed). "
    "The per-lang rank is BUCKET-DECOMPOSED (functions/ranks.py, "
    "the #407 shape): floor(ppl) buckets get a map-side census, "
    "offsets broadcast back, and the per-row window partitions by "
    "(lang, bucket) — no language funnels through one task; ranks "
    "are integers so the cut is hash-identical to the oracle's "
    "single window. Ties order by (ppl, doc_id) so the rank is "
    "total and deterministic.",
    bench=False,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = t.select("doc_id", "lang", F.explode(pairs).alias("p")).select(
        "doc_id", "lang", "p.w1", "p.w2"
    )
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cu = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    lp = F.log(
        (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
    ).cast("decimal(38,9)")
    term = (
        bg.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", "lang", lp.alias("lp"))
    )
    docppl = term.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.exp(-F.sum("lp").cast("double") / F.count(F.lit(1)))
        .cast("decimal(38,9)")
        .cast("double")
        .alias("ppl"),
    )
    # Bucket-decomposed per-language rank (functions/ranks.py
    # discipline, the #407 shape): floor(ppl) is monotone in the
    # leading sort key so equal-ppl ties share a bucket; the census
    # offsets ride a bucket-grain frame and the per-row window
    # partitions by (lang, bucket) — no language funnels through one
    # task. Ranks are integers, so this is hash-identical to the
    # oracle's single per-lang window.
    base = docppl.withColumn(
        "pbkt", F.floor(F.col("ppl")).cast("bigint")
    )
    sizes = base.groupBy("lang", "pbkt").agg(
        F.count(F.lit(1)).alias("_bn")
    )
    w_bkt = Window.partitionBy("lang").orderBy("pbkt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    offs = sizes.select(
        "lang",
        "pbkt",
        (F.sum("_bn").over(w_bkt) - F.col("_bn")).alias("_offr"),
    )
    m_tot = base.groupBy("lang").agg(F.count(F.lit(1)).alias("m"))
    w_loc = Window.partitionBy("lang", "pbkt").orderBy("ppl", "doc_id")
    ranked = (
        base.join(F.broadcast(offs), ["lang", "pbkt"])
        .join(F.broadcast(m_tot), "lang")
        .select(
            "lang",
            "n_tok",
            "ppl",
            (F.col("_offr") + F.row_number().over(w_loc)).alias("rn"),
            F.col("m"),
        )
    )
    bucketed = ranked.select(
        "lang",
        "n_tok",
        "ppl",
        F.when(F.col("rn") * 3 <= F.col("m"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("m"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("ppl").cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_ppl"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# #418 welch_anova — heteroscedastic one-way mean comparison
# ---------------------------------------------------------------------------


@query(
    "q_welch_anova",
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
        cells AS (
            SELECT n,
                   CAST(sc AS DOUBLE) / 100000.0 / n AS m,
                   ((CAST(s2h AS DOUBLE) * 1000000000.0
                     + CAST(s2l AS DOUBLE)) / 10000000000.0
                    - (CAST(sc AS DOUBLE) / 100000.0)
                      * (CAST(sc AS DOUBLE) / 100000.0) / n)
                   / (n - 1) AS s2
            FROM per
        ),
        wcell AS (
            SELECT n, m, CAST(n AS DOUBLE) / s2 AS w FROM cells
        ),
        agg1 AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS bw,
                   CAST(SUM(CAST(w * m AS DECIMAL(38,9))) AS DOUBLE) AS bwm
            FROM wcell
        ),
        agg2 AS (
            SELECT a.k, a.n_total,
                   CAST(SUM(CAST(
                       c.w * (c.m - a.bwm / a.bw)
                           * (c.m - a.bwm / a.bw)
                       AS DECIMAL(38,9))) AS DOUBLE) AS ssb_w,
                   CAST(SUM(CAST(
                       (1 - c.w / a.bw) * (1 - c.w / a.bw)
                           / (c.n - 1)
                       AS DECIMAL(38,12))) AS DOUBLE) AS lam_s
            FROM wcell c CROSS JOIN agg1 a
            GROUP BY a.k, a.n_total
        )
        SELECT n_total AS n, k,
               ROUND((ssb_w / (k - 1))
                     / (1 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1)
                            * lam_s), 9) AS f_welch,
               ROUND((CAST(k AS DOUBLE) * k - 1) / (3.0 * lam_s), 9)
                   AS df2
        FROM agg2
    """,
    operators=(23, 24, 307, 418),
    doc="Welch's heteroscedastic one-way ANOVA (#418): the k-group "
    "mean test that stays valid when Levene/Brown-Forsythe (#372) "
    "REJECTS the equal-variance assumption classic ANOVA (#307) "
    "needs — weights w_i = n_i/s_i², F* = [Σw(m-m̃)²/(k-1)] / "
    "[1 + 2(k-2)Λ/(k²-1)], Welch-Satterthwaite df2 = (k²-1)/(3Λ) "
    "with Λ = Σ(1-w/W)²/(n-1). Group moments reuse the #307 "
    "integer-exact discipline verbatim (Σcents BIGINT, Σcents² as "
    "div/mod-1e9 BIGINT halves, every int→double cast < 2^53), so "
    "means and variances are bit-identical doubles; the two k-cell "
    "reductions quantize each term (w, w·m at 1e-9; Λ terms at "
    "1e-12) before exact decimal sums. Scale: one map-side-combined "
    "groupBy to k cells, then k-row algebra — the #307 plan.",
    bench=False,
)
def q_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    sv = F.col("sc").cast("double") / F.lit(100000.0)
    sv2 = (
        F.col("s2h").cast("double") * F.lit(1000000000.0)
        + F.col("s2l").cast("double")
    ) / F.lit(10000000000.0)
    cells = per.select(
        "n",
        (sv / F.col("n")).alias("m"),
        ((sv2 - sv * sv / F.col("n")) / (F.col("n") - 1)).alias("s2"),
    )
    wcell = cells.select(
        "n", "m", (F.col("n").cast("double") / F.col("s2")).alias("w")
    )
    agg1 = wcell.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.col("w").cast("decimal(38,9)")).cast("double").alias("bw"),
        F.sum((F.col("w") * F.col("m")).cast("decimal(38,9)"))
        .cast("double")
        .alias("bwm"),
    )
    mtil = F.col("bwm") / F.col("bw")
    agg2 = (
        wcell.crossJoin(F.broadcast(agg1))
        .groupBy("k", "n_total")
        .agg(
            F.sum(
                (
                    F.col("w") * (F.col("m") - mtil) * (F.col("m") - mtil)
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("ssb_w"),
            F.sum(
                (
                    (1 - F.col("w") / F.col("bw"))
                    * (1 - F.col("w") / F.col("bw"))
                    / (F.col("n") - 1)
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("lam_s"),
        )
    )
    k = F.col("k")
    return agg2.select(
        F.col("n_total").alias("n"),
        "k",
        F.round(
            (F.col("ssb_w") / (k - 1))
            / (
                1
                + F.lit(2.0)
                * (k - 2)
                / (k.cast("double") * k - 1)
                * F.col("lam_s")
            ),
            9,
        ).alias("f_welch"),
        F.round(
            (k.cast("double") * k - 1) / (F.lit(3.0) * F.col("lam_s")), 9
        ).alias("df2"),
    )


# ---------------------------------------------------------------------------
# #419 dunn_posthoc — pairwise rank z-tests after Kruskal-Wallis
# ---------------------------------------------------------------------------


@query(
    "q_dunn_posthoc",
    oracle="""
        WITH o AS (
            SELECT event_type,
                   DATEDIFF('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
            FROM events
        ),
        cnt AS (SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS x
                FROM o GROUP BY 1, 2),
        vals AS (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM cnt GROUP BY x
        ),
        rmap AS (
            SELECT x, t,
                   2 * (SUM(t) OVER (ORDER BY x
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) - t) + t + 1 AS rr
            FROM vals
        ),
        g AS (
            SELECT c.event_type AS grp,
                   CAST(COUNT(*) AS BIGINT) AS n_i,
                   CAST(SUM(r.rr) AS BIGINT) AS s2r
            FROM cnt c JOIN rmap r ON r.x = c.x
            GROUP BY c.event_type
        ),
        mom AS (
            SELECT (SELECT CAST(SUM(n_i) AS BIGINT) FROM g) AS nn,
                   (SELECT CAST(SUM(t * t * t - t) AS BIGINT) FROM vals)
                       AS tie3
        )
        SELECT a.grp AS grp_a, b.grp AS grp_b, a.n_i AS n_a, b.n_i AS n_b,
               ROUND((CAST(a.s2r AS DOUBLE) / 2 / a.n_i
                      - CAST(b.s2r AS DOUBLE) / 2 / b.n_i)
                     / SQRT((CAST(m.nn AS DOUBLE) * (m.nn + 1) / 12
                             - CAST(m.tie3 AS DOUBLE)
                               / (12.0 * (m.nn - 1)))
                            * (1.0 / a.n_i + 1.0 / b.n_i)), 9) AS z
        FROM g a JOIN g b ON a.grp < b.grp
        CROSS JOIN mom m
        ORDER BY grp_a, grp_b
    """,
    operators=(17, 23, 370, 419),
    doc="Dunn's post-hoc test (#419): once Kruskal-Wallis (#370) "
    "rejects, WHICH group pairs differ? z_ij = (R̄_i - R̄_j) / "
    "sqrt([N(N+1)/12 - Στ(τ³-τ)/... /(12(N-1))]·(1/n_i + 1/n_j)) "
    "over the same event-type daily-count samples, with the exact "
    "tie correction. Mean ranks come from the #349/#370 integer "
    "2·rank census (2R̄ = Σ(2r)/n stays a ratio of exact BIGINTs), "
    "so every z is one shared IEEE tree over integers; the "
    "k(k-1)/2 pair table is emitted as z statistics (operating "
    "points, the #235 roc_curve discipline — the α/m Bonferroni or "
    "BH cut is the caller's policy knob, and normal quantiles for "
    "arbitrary α are not portably closed-form). Scale: ranks from "
    "a value census; the pair join is k² cells.",
    bench=False,
)
def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    vals = cnt.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    rmap = vals.select(
        "x",
        "t",
        (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1).alias("rr"),
    )
    g = (
        cnt.join(rmap.select("x", "rr"), "x")
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum("rr").cast("bigint").alias("s2r"),
        )
    )
    mom = g.agg(F.sum("n_i").cast("bigint").alias("nn")).crossJoin(
        vals.agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("bigint")
            .alias("tie3")
        )
    )
    a = g.select(
        F.col("grp").alias("grp_a"),
        F.col("n_i").alias("n_a"),
        F.col("s2r").alias("s2ra"),
    )
    b = g.select(
        F.col("grp").alias("grp_b"),
        F.col("n_i").alias("n_b"),
        F.col("s2r").alias("s2rb"),
    )
    nn = F.col("nn")
    sig2 = nn.cast("double") * (nn + 1) / 12 - F.col("tie3").cast(
        "double"
    ) / (F.lit(12.0) * (nn - 1))
    z = (
        F.col("s2ra").cast("double") / 2 / F.col("n_a")
        - F.col("s2rb").cast("double") / 2 / F.col("n_b")
    ) / F.sqrt(sig2 * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")))
    return (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(mom))
        .select(
            "grp_a",
            "grp_b",
            "n_a",
            "n_b",
            F.round(z, 9).alias("z"),
        )
        .orderBy("grp_a", "grp_b")
    )


# ---------------------------------------------------------------------------
# #409 scale contract — grid DBSCAN at 8x points, no sample cap
# ---------------------------------------------------------------------------

_DBJ_REPL = 8


@query(
    "q_dbscan_big",
    oracle=f"""
        WITH pts AS (
            SELECT e.vec_id * {_DBJ_REPL} + r.i AS pid, e.label,
                   CAST(e.embedding[1] AS DOUBLE)
                   + (CAST(('0x' || SUBSTR(MD5('djx:' ||
                          CAST(e.vec_id AS VARCHAR) || ':' ||
                          CAST(r.i AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 4001 - 2000) / 1000.0 * {_DBS_EPS} AS x,
                   CAST(e.embedding[2] AS DOUBLE)
                   + (CAST(('0x' || SUBSTR(MD5('djy:' ||
                          CAST(e.vec_id AS VARCHAR) || ':' ||
                          CAST(r.i AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 4001 - 2000) / 1000.0 * {_DBS_EPS} AS y
            FROM embeddings e, range({_DBJ_REPL}) r(i)
        ),
        cells AS (
            SELECT pid, label, x, y,
                   CAST(FLOOR(x / {_DBS_EPS}) AS BIGINT) AS cx,
                   CAST(FLOOR(y / {_DBS_EPS}) AS BIGINT) AS cy
            FROM pts
        ),
        nbr AS (
            SELECT a.pid, CAST(COUNT(*) AS BIGINT) AS n_nbr
            FROM cells a JOIN cells b
              ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
             AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
             AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                 <= {_DBS_EPS} * {_DBS_EPS}
            GROUP BY a.pid
        ),
        flags AS (
            SELECT c.pid, c.label, c.x, c.y, c.cx, c.cy,
                   CAST(n.n_nbr >= {_DBS_MINPTS} AS INT) AS is_core
            FROM cells c JOIN nbr n ON n.pid = c.pid
        ),
        border AS (
            SELECT DISTINCT a.pid
            FROM flags a JOIN flags b
              ON a.is_core = 0 AND b.is_core = 1
             AND b.cx BETWEEN a.cx - 1 AND a.cx + 1
             AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
             AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                 <= {_DBS_EPS} * {_DBS_EPS}
             AND a.pid <> b.pid
        )
        SELECT f.label,
               CAST(SUM(f.is_core) AS BIGINT) AS n_core,
               CAST(SUM(CASE WHEN f.is_core = 0 AND b.pid IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_border,
               CAST(SUM(CASE WHEN f.is_core = 0 AND b.pid IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_noise
        FROM flags f LEFT JOIN border b ON b.pid = f.pid
        GROUP BY f.label
        ORDER BY f.label
    """,
    operators=(13, 23, 409),
    doc=f"Grid DBSCAN scale contract (#409, the round-8 VERDICT's "
    f"requested follow-through): the same core/border/noise census "
    f"as q_dbscan_core but on {_DBJ_REPL}x the points (each "
    "embedding md5-jittered into a ±2·eps cloud — deterministic, "
    "identical on both engines) and with NO sample cap — the full "
    "point set flows through the 3x3-cell explode + (cx, cy) "
    "EQUI-join. Benchmarked: this row is the measured proof that "
    "killing the round-8 CartesianProduct bought a plan that carries "
    "8x the data through hash joins (the way the #263 bucket-cap "
    "record proved the dedup diversion), rather than an all-pairs "
    "product that happened to fit under a cap. Distances and FLOOR "
    "are shared IEEE trees over md5-integer jitter.",
    bench=True,
)
def q_dbscan_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_DBJ_REPL - 1))).alias("i")
    base = emb.select(
        "vec_id",
        "label",
        F.element_at(F.col("embedding"), 1).cast("double").alias("x0"),
        F.element_at(F.col("embedding"), 2).cast("double").alias("y0"),
        reps,
    )

    def _jit(tag: str) -> F.Column:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(tag + ":"),
                        F.col("vec_id").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return (h % 4001 - 2000) / F.lit(1000.0) * F.lit(_DBS_EPS)

    pts = base.select(
        (F.col("vec_id") * _DBJ_REPL + F.col("i")).alias("pid"),
        "label",
        (F.col("x0") + _jit("djx")).alias("x"),
        (F.col("y0") + _jit("djy")).alias("y"),
    )
    cells = pts.select(
        "pid", "label", "x", "y",
        F.floor(F.col("x") / _DBS_EPS).cast("bigint").alias("cx"),
        F.floor(F.col("y") / _DBS_EPS).cast("bigint").alias("cy"),
    ).localCheckpoint(eager=True)
    off = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = cells.select(
        "pid", "x", "y", "cx", "cy", F.explode(off).alias("o")
    ).select(
        "pid",
        "x",
        "y",
        (F.col("cx") + F.col("o.dx")).alias("qcx"),
        (F.col("cy") + F.col("o.dy")).alias("qcy"),
    )
    a = probe.alias("a")
    b = cells.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    nbr = (
        a.join(
            b,
            (F.col("a.qcx") == F.col("b.cx"))
            & (F.col("a.qcy") == F.col("b.cy"))
            & (d2 <= _DBS_EPS * _DBS_EPS),
        )
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nbr"))
    )
    flags = cells.join(nbr, "pid").select(
        "pid", "label", "x", "y", "cx", "cy",
        (F.col("n_nbr") >= _DBS_MINPTS).cast("int").alias("is_core"),
    ).localCheckpoint(eager=True)
    fprobe = flags.filter(F.col("is_core") == 0).select(
        "pid", "x", "y", "cx", "cy", F.explode(off).alias("o")
    ).select(
        "pid",
        "x",
        "y",
        (F.col("cx") + F.col("o.dx")).alias("qcx"),
        (F.col("cy") + F.col("o.dy")).alias("qcy"),
    )
    fa = fprobe.alias("a")
    fb = flags.filter(F.col("is_core") == 1).alias("b")
    d2f = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    border = (
        fa.join(
            fb,
            (F.col("a.qcx") == F.col("b.cx"))
            & (F.col("a.qcy") == F.col("b.cy"))
            & (d2f <= _DBS_EPS * _DBS_EPS)
            & (F.col("a.pid") != F.col("b.pid")),
        )
        .select(F.col("a.pid").alias("pid"))
        .distinct()
        .withColumn("is_border", F.lit(1))
    )
    return (
        flags.join(border, "pid", "left")
        .groupBy("label")
        .agg(
            F.sum("is_core").cast("bigint").alias("n_core"),
            F.sum(
                F.when(
                    (F.col("is_core") == 0) & F.col("is_border").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_border"),
            F.sum(
                F.when(
                    (F.col("is_core") == 0) & F.col("is_border").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_noise"),
        )
        .orderBy("label")
    )
