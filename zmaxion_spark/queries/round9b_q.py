"""Round-9 wave 2 — SURVEY.md §2.27 (#420–#428).

Embedding-space curation (SemDeDup cluster-bounded near-dup),
language-model retrieval (Dirichlet query likelihood — the other
classic probabilistic ranker beside BM25), the parametric effect-size
pair (Cohen's d / Hedges' g), chance-corrected inter-rater
reliability (Krippendorff's alpha), the ROC operating-point selector
(Youden's J), forecastability diagnostics (trend/seasonal strength),
the unit-root stationarity gate (Dickey-Fuller), closed-form ridge
shrinkage, and partial correlation.

Parity disciplines reused from the repo:

- k-means reuse: #420 rides the EXACT #273 Lloyd trajectory
  (md5-ranked seeds, decimal-exact centroid updates, unrolled oracle
  CTEs) so cluster assignments are bit-identical before any
  similarity work happens.
- Integer-first moments everywhere a sum can stay integral (counts,
  cents div 100 dollars, rank censuses); one shared IEEE tree at the
  end; per-term DECIMAL quantization before any float sum.
- Argmax selections compare INTEGER numerators (tp*n_neg - fp*n_pos)
  so operating-point election never tie-breaks on floats.
- Engine ROUND is used only on final output columns (the established
  house convention); no per-row engine rounding enters any sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query

_US_PER_DAY = 86_400_000_000


# ---------------------------------------------------------------------------
# #420 semdedup — cluster-bounded embedding near-dup census
# ---------------------------------------------------------------------------

_SD_TAUS = (20, 30, 50)  # integer percent thresholds
_SD_BLOCK = 32  # pair-join block size (cells exercised from ~33 members)


def _semdedup_oracle() -> str:
    from zmaxion_spark.queries.inference_q import (
        _KM_DIM,
        _KM_K,
        _KM_SEED_WORD,
        _km_sql_assign,
        _km_sql_update,
    )
    from zmaxion_spark.queries.llm import _SQL_DOT

    return f"""
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
        c2l AS MATERIALIZED (
            SELECT cluster, LIST(val ORDER BY pos) AS vals
            FROM c2 GROUP BY cluster
        ),
        scored AS (
            SELECT e.vec_id, e.embedding, c.cluster,
                   LIST_REDUCE(
                       LIST_TRANSFORM(range(1, {_KM_DIM + 1}),
                           i -> (CAST(e.embedding[i] AS DOUBLE) - c.vals[i])
                                * (CAST(e.embedding[i] AS DOUBLE)
                                   - c.vals[i])),
                       (acc, x) -> acc + x) AS dist
            FROM embeddings e, c2l c
        ),
        assigned AS MATERIALIZED (
            SELECT vec_id, embedding, cluster
            FROM scored
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cluster) = 1
        ),
        taus AS (SELECT UNNEST([{", ".join(str(t) for t in _SD_TAUS)}])
                     AS tau_pct),
        an AS MATERIALIZED (
            -- per-member norm hoisted (same fold, same bits as the
            -- inline _sql_cosine denominators; Spark precomputes too)
            SELECT vec_id, embedding, cluster,
                   SQRT({_SQL_DOT.format(a='embedding', b='embedding')})
                       AS nrm
            FROM assigned
        ),
        drops AS (
            SELECT DISTINCT t.tau_pct, a.cluster, b.vec_id
            FROM an a
            JOIN an b
              ON b.cluster = a.cluster AND b.vec_id > a.vec_id
            CROSS JOIN taus t
            WHERE {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                  / (a.nrm * b.nrm)
                  >= CAST(t.tau_pct AS DOUBLE) / 100
        ),
        sizes AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM assigned GROUP BY cluster
        )
        SELECT s.cluster, t.tau_pct, s.n_vecs,
               CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped
        FROM sizes s
        CROSS JOIN taus t
        LEFT JOIN drops d ON d.cluster = s.cluster AND d.tau_pct = t.tau_pct
        GROUP BY s.cluster, t.tau_pct, s.n_vecs
        ORDER BY s.cluster, t.tau_pct
    """


@query(
    "q_semdedup",
    oracle=_semdedup_oracle(),
    operators=(44, 71, 273, 420),
    doc="SemDeDup (#420, Abbas et al. 2023): semantic near-duplicate "
    "removal in EMBEDDING space — cluster the corpus with the exact "
    "#273 k-means trajectory (same md5 seeds, same unrolled Lloyd "
    "rounds), then compare pairs ONLY within a cluster and drop the "
    "higher-id member of any pair with cosine >= tau — the curation "
    "step that removes paraphrases and template-rewrites that "
    "MinHash (#70) cannot see because no n-gram survives. Graded as "
    "the per-(cluster, tau) keep/drop census over an integer tau "
    "grid; cosines are the house ordered double folds (bit-exact "
    "list_reduce twins). Scale: candidate pairs are within-cluster "
    "only and the pair join is the BLOCKED triangle (verdict r9 #4: "
    "uniform (cluster, bi, bj) cells, <= _SD_BLOCK rows per key — no "
    "join key ever carries O(n/k) rows); with the graded fixed k the "
    "total candidate volume is still sum(n_c^2)/2, so the true "
    "100-TB path scales k with n per the SemDeDup paper — "
    "q_semdedup_big is the measured contract with k grown 8x and "
    "blocks live.",
    bench=False,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.functions import similarity as S
    from zmaxion_spark.functions.dedup import blocked_cluster_pairs
    from zmaxion_spark.queries.inference_q import _KM_ITERS, _KM_K

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
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
        best = S.lloyd_assign_udf(c)(F.col("v"))
        return emb.select(
            "vec_id", "v", best.getField("cluster").alias("cluster")
        )

    a = assign(cents)
    for _ in range(_KM_ITERS - 1):
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
        new_c = dict(cents)
        by_cluster: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["val"]
        for cid, posmap in by_cluster.items():
            new_c[cid] = [posmap[p] for p in sorted(posmap)]
        cents = new_c
        a = assign(cents)
    assigned = a.localCheckpoint(eager=True)

    # Blocked triangle pair enumeration (round-9 verdict #4): the
    # naive a x b join on ["cluster"] has exactly k join keys, each
    # carrying O(n/k) rows. blocked_cluster_pairs diverts through
    # uniform (cluster, bi, bj) cells — same pair set, no hot key.
    # The drop census is orientation-free (cosine folds commute
    # elementwise; the dropped member is greatest(id) either way).
    # Per-member norm precomputed ONCE (the pair stage otherwise
    # folds 2 norms per pair — 3x the flops for identical bits: same
    # fold over the same data, so the cosine is unchanged bit-for-bit).
    withn = assigned.select(
        "cluster",
        "vec_id",
        F.struct(F.col("v").alias("v"), S.norm(F.col("v")).alias("n")).alias(
            "p"
        ),
    )
    pairs = blocked_cluster_pairs(withn, payload_col="p", block=_SD_BLOCK)
    taus = spark.range(len(_SD_TAUS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _SD_TAUS]),
            (F.col("id") + 1).cast("int"),
        ).alias("tau_pct")
    )
    # Arrow-vectorized pair dot (S.dot_arrow — guide §4.2), the same
    # swap as its scale twin q_semdedup_big: bit-exact with the
    # interpreted zip_with/aggregate fold (same left fold, ascending j,
    # start 0.0; parity pinned in tests/test_opt_r12.py), one numpy
    # accumulation per batch instead of ~500k per-pair interpreted
    # lambdas. Norm division stays JVM-side on identical operands.
    cos = S.dot_arrow(F.col("payload_a.v"), F.col("payload_b.v")) / (
        F.col("payload_a.n") * F.col("payload_b.n")
    )
    drops = (
        pairs.crossJoin(F.broadcast(taus))
        .filter(cos >= F.col("tau_pct").cast("double") / 100)
        .select(
            "tau_pct",
            "cluster",
            F.greatest("id_a", "id_b").alias("vec_id"),
        )
        .distinct()
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    return (
        sizes.crossJoin(F.broadcast(taus))
        .join(drops, ["cluster", "tau_pct"], "left")
        .groupBy("cluster", "tau_pct", "n_vecs")
        .agg(F.count(F.col("vec_id")).cast("bigint").alias("n_dropped"))
        .select("cluster", "tau_pct", "n_vecs", "n_dropped")
        .orderBy("cluster", "tau_pct")
    )


# ---------------------------------------------------------------------------
# #421 ql_dirichlet — Dirichlet-smoothed query-likelihood retrieval
# ---------------------------------------------------------------------------

_QL_MU = 2000


def _ql_oracle() -> str:
    from zmaxion_spark.queries.retrieval_q import _BM25_TERMS

    return f"""
        WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
                     FROM documents),
        dl AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)
                          AS dl
               FROM documents),
        coll AS (SELECT CAST(COUNT(*) AS BIGINT) AS c_len FROM tok),
        qt AS (SELECT UNNEST({list(_BM25_TERMS)!r}) AS term),
        cf AS (
            SELECT qt.term, CAST(COUNT(tok.term) AS BIGINT) AS cf
            FROM qt LEFT JOIN tok ON tok.term = qt.term
            GROUP BY qt.term
        ),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
               FROM tok WHERE term IN {tuple(_BM25_TERMS)!r}
               GROUP BY 1, 2),
        fan AS (
            SELECT dl.doc_id, dl.dl, cf.term, cf.cf,
                   COALESCE(tf.tf, 0) AS tf
            FROM dl CROSS JOIN cf
            LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matched,
               ROUND(CAST(SUM(CAST(
                   LN((tf + {_QL_MU} * (CAST(cf AS DOUBLE) / c_len))
                      / (dl + {_QL_MU}))
                   AS DECIMAL(38,9))) AS DOUBLE), 9) AS ql
        FROM fan CROSS JOIN coll
        GROUP BY doc_id
        ORDER BY doc_id
    """


@query(
    "q_ql_dirichlet",
    oracle=_ql_oracle(),
    operators=(24, 43, 150, 421),
    doc=f"Dirichlet-smoothed query likelihood (#421, Zhai & Lafferty "
    "2001): score every document for the fixed #150 query under the "
    "LM-retrieval model ql = SUM_t ln((tf + mu*P(t|C))/(dl + mu)), "
    f"mu={_QL_MU} — the OTHER classic probabilistic ranker beside "
    "BM25, and the one whose smoothing mass makes zero-tf terms "
    "contribute (a doc missing a query term is penalized by exactly "
    "the collection prior, so every doc gets a finite score — no OOV "
    "cliff). Collection stats ride a 4-row broadcast; the doc x "
    "query-term fan-out is |docs| x 4 with a left tf join; each ln "
    "term is one shared IEEE tree over exact integer counts, "
    "quantized at 1e-9 before the exact decimal sum. Scale: the "
    "token stream filters to query terms before aggregation, "
    "exactly the #150 plan.",
    bench=False,
)
def q_ql_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.retrieval_q import _BM25_TERMS

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    dl = d.select("doc_id", F.size(toks).cast("bigint").alias("dl"))
    coll = tok.agg(F.count(F.lit(1)).cast("bigint").alias("c_len"))
    qt = spark.range(len(_BM25_TERMS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _BM25_TERMS]),
            (F.col("id") + 1).cast("int"),
        ).alias("term")
    )
    qtok = tok.filter(F.col("term").isin(*_BM25_TERMS))
    cf = (
        qt.join(
            qtok.groupBy("term").agg(
                F.count(F.lit(1)).cast("bigint").alias("cf")
            ),
            "term",
            "left",
        )
        .select("term", F.coalesce("cf", F.lit(0)).cast("bigint").alias("cf"))
    )
    tf = qtok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    fan = (
        dl.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "dl",
            "cf",
            F.coalesce("tf", F.lit(0)).alias("tf"),
        )
    )
    term_lp = F.log(
        (F.col("tf") + _QL_MU * (F.col("cf").cast("double") / F.col("c_len")))
        / (F.col("dl") + _QL_MU)
    ).cast("decimal(38,9)")
    return (
        fan.crossJoin(F.broadcast(coll))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("tf") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
            F.round(F.sum(term_lp).cast("double"), 9).alias("ql"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# #422 effect_sizes — Cohen's d / Hedges' g between experiment arms
# ---------------------------------------------------------------------------


@query(
    "q_effect_sizes",
    oracle="""
        WITH v AS (
            SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        m AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sx2
            FROM v GROUP BY arm
        ),
        c AS (
            SELECT
                (SELECT n FROM m WHERE arm = 0) AS n0,
                (SELECT sx FROM m WHERE arm = 0) AS sx0,
                (SELECT sx2 FROM m WHERE arm = 0) AS sxx0,
                (SELECT n FROM m WHERE arm = 1) AS n1,
                (SELECT sx FROM m WHERE arm = 1) AS sx1,
                (SELECT sx2 FROM m WHERE arm = 1) AS sxx1
        ),
        f AS (
            SELECT n0, n1,
                   CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0
                       AS diff,
                   SQRT(((CAST(sxx0 AS DOUBLE)
                          - CAST(sx0 AS DOUBLE) * sx0 / n0)
                         + (CAST(sxx1 AS DOUBLE)
                            - CAST(sx1 AS DOUBLE) * sx1 / n1))
                        / (n0 + n1 - 2)) AS sp
            FROM c
        )
        SELECT n0 AS n_a, n1 AS n_b,
               ROUND(diff, 9) AS mean_diff,
               ROUND(diff / sp, 9) AS cohens_d,
               ROUND((1 - 3.0 / (4 * (n0 + n1 - 2) - 1)) * diff / sp, 9)
                   AS hedges_g,
               ROUND(SQRT(CAST(n0 + n1 AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)
                          + (diff / sp) * (diff / sp)
                            / (2 * (n0 + n1 - 2))), 9) AS se_d
        FROM f
    """,
    operators=(24, 147, 422),
    doc="Parametric effect sizes (#422): Cohen's d (pooled-sd "
    "standardized mean difference), Hedges' g (the small-sample "
    "bias correction J = 1 - 3/(4·df - 1) — the exact-gamma J's "
    "standard closed approximation), and d's large-sample standard "
    "error — the magnitude numbers that belong NEXT TO the "
    "significance tests (#147 Welch, #368 Cliff's delta is the "
    "nonparametric twin on the same arms fixture): a p-value says "
    "'not noise', d says 'big enough to care'. Per-arm moments are "
    "exact BIGINTs (counts and squared counts); everything after is "
    "one shared IEEE tree. Scale: the per-user rollup is the only "
    "row-scale pass; the rest is 2-cell algebra.",
    bench=False,
)
def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select((F.col("user_id") % 2).alias("arm"), "x")
    )
    m = v.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    c = (
        m.filter(F.col("arm") == 0)
        .select(
            F.col("n").alias("n0"),
            F.col("sx").alias("sx0"),
            F.col("sx2").alias("sxx0"),
        )
        .crossJoin(
            m.filter(F.col("arm") == 1).select(
                F.col("n").alias("n1"),
                F.col("sx").alias("sx1"),
                F.col("sx2").alias("sxx1"),
            )
        )
    )
    diff = F.col("sx1").cast("double") / F.col("n1") - F.col("sx0").cast(
        "double"
    ) / F.col("n0")
    sp = F.sqrt(
        (
            (
                F.col("sxx0").cast("double")
                - F.col("sx0").cast("double") * F.col("sx0") / F.col("n0")
            )
            + (
                F.col("sxx1").cast("double")
                - F.col("sx1").cast("double") * F.col("sx1") / F.col("n1")
            )
        )
        / (F.col("n0") + F.col("n1") - 2)
    )
    d = diff / sp
    df = F.col("n0") + F.col("n1") - 2
    return c.select(
        F.col("n0").alias("n_a"),
        F.col("n1").alias("n_b"),
        F.round(diff, 9).alias("mean_diff"),
        F.round(d, 9).alias("cohens_d"),
        F.round((1 - F.lit(3.0) / (4 * df - 1)) * d, 9).alias("hedges_g"),
        F.round(
            F.sqrt(
                (F.col("n0") + F.col("n1")).cast("double")
                / (F.col("n0").cast("double") * F.col("n1"))
                + d * d / (2 * df)
            ),
            9,
        ).alias("se_d"),
    )


# ---------------------------------------------------------------------------
# #423 krippendorff_alpha — chance-corrected inter-rater reliability
# ---------------------------------------------------------------------------


def _kripp_oracle() -> str:
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
        rated AS (
            SELECT doc_id,
                   CAST(CAST(n_stop AS DOUBLE) / n_tok >= 0.08 AS INT)
                   + CAST(CAST(n_chars AS DOUBLE) / n_tok <= 4.6 AS INT)
                   + CAST(CAST(n_dist AS DOUBLE) / n_tok <= 0.62 AS INT)
                       AS n1
            FROM feat
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n1 * (3 - n1)) AS BIGINT) AS do_sum,
                   CAST(SUM(n1) AS BIGINT) AS big_n1,
                   CAST(3 * COUNT(*) AS BIGINT) AS big_n,
                   CAST(SUM(CASE WHEN n1 IN (0, 3) THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_unanimous
            FROM rated
        )
        SELECT n_docs, big_n1 AS n_positive_ratings,
               ROUND(1 - CAST(do_sum AS DOUBLE) * (big_n - 1)
                         / (2.0 * big_n1 * (big_n - big_n1)), 9) AS alpha,
               ROUND(CAST(n_unanimous AS DOUBLE) / n_docs, 9) AS pct_agree
        FROM mom
    """


@query(
    "q_krippendorff_alpha",
    oracle=_kripp_oracle(),
    operators=(24, 290, 423),
    doc="Krippendorff's alpha (#423, nominal/binary, 3 raters): "
    "chance-corrected agreement between the three row-local "
    "is-English detectors of #376 (their RAW verdicts, not their "
    "correctness) — the reliability number behind every labeling "
    "pipeline, generalizing Cohen's kappa (#290) past two raters "
    "and, unlike raw percent agreement (reported alongside), immune "
    "to prevalence inflation: alpha = 1 - Do/De with observed "
    "disagreement from per-unit coincidence pairs n1·n0/(m-1) and "
    "expected from the pooled marginals. Every quantity is an exact "
    "BIGINT census (disagreeing pair counts, marginal totals); one "
    "IEEE tree at the end. Scale: one token-stream aggregate to "
    "per-doc features, then a 1-row census.",
    bench=False,
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.analysis7_q import _CQ_STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    stop_set = [
        s.strip() for s in _CQ_STOPWORDS.strip("()").replace("'", "").split(",")
    ]
    feat = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("tok").isin(*stop_set), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stop"),
        F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
        F.countDistinct("tok").cast("bigint").alias("n_dist"),
    )
    rated = feat.select(
        (
            (F.col("n_stop").cast("double") / F.col("n_tok") >= 0.08).cast(
                "int"
            )
            + (F.col("n_chars").cast("double") / F.col("n_tok") <= 4.6).cast(
                "int"
            )
            + (F.col("n_dist").cast("double") / F.col("n_tok") <= 0.62).cast(
                "int"
            )
        ).alias("n1")
    )
    mom = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n1") * (3 - F.col("n1"))).cast("bigint").alias("do_sum"),
        F.sum("n1").cast("bigint").alias("big_n1"),
        (3 * F.count(F.lit(1))).cast("bigint").alias("big_n"),
        F.sum(F.when(F.col("n1").isin(0, 3), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unanimous"),
    )
    return mom.select(
        "n_docs",
        F.col("big_n1").alias("n_positive_ratings"),
        F.round(
            1
            - F.col("do_sum").cast("double")
            * (F.col("big_n") - 1)
            / (
                F.lit(2.0)
                * F.col("big_n1")
                * (F.col("big_n") - F.col("big_n1"))
            ),
            9,
        ).alias("alpha"),
        F.round(
            F.col("n_unanimous").cast("double") / F.col("n_docs"), 9
        ).alias("pct_agree"),
    )


# ---------------------------------------------------------------------------
# #424 youden_threshold — optimal ROC operating point
# ---------------------------------------------------------------------------

_YJ_STEPS = 10


@query(
    "q_youden_threshold",
    oracle=f"""
        WITH scored AS (
            SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                   q.quality_score AS s
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
        tot AS (
            SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
            FROM scored
        ),
        th AS (SELECT UNNEST(RANGE(0, {_YJ_STEPS} + 1)) AS k),
        pts AS (
            SELECT th.k, tot.n_pos, tot.n_neg,
                   CAST(SUM(CASE WHEN s >= CAST(th.k AS DOUBLE) / {_YJ_STEPS}
                                 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s >= CAST(th.k AS DOUBLE) / {_YJ_STEPS}
                                 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
            FROM th CROSS JOIN scored CROSS JOIN tot
            GROUP BY th.k, tot.n_pos, tot.n_neg
        ),
        best AS (
            SELECT *, tp * n_neg - fp * n_pos AS j_num
            FROM pts
            QUALIFY ROW_NUMBER() OVER (
                ORDER BY tp * n_neg - fp * n_pos DESC, k) = 1
        )
        SELECT k, CAST(k AS DOUBLE) / {_YJ_STEPS} AS threshold,
               tp, fp,
               n_pos - tp AS fn, n_neg - fp AS tn,
               ROUND(CAST(tp AS DOUBLE) / n_pos
                     - CAST(fp AS DOUBLE) / n_neg, 9) AS youden_j,
               ROUND(CAST(tp + n_neg - fp AS DOUBLE) / (n_pos + n_neg), 9)
                   AS accuracy,
               ROUND(CAST(2 * tp AS DOUBLE)
                     / (2 * tp + fp + (n_pos - tp)), 9) AS f1
        FROM best
    """,
    operators=(24, 235, 424),
    doc="Youden's J operating point (#424): the threshold that "
    "maximizes TPR - FPR over the #235 ROC grid for the #222 "
    "classifier — the standard cut-point selector when a single "
    "deployment threshold must be chosen and classes are imbalanced "
    "(accuracy-maximizing cuts collapse to the majority class). The "
    "argmax compares the INTEGER numerator tp·n_neg − fp·n_pos "
    "(same denominator for every threshold), so election never "
    "tie-breaks on floats; ties break toward the lower threshold. "
    "Graded with the full confusion matrix plus J, accuracy, and F1 "
    "at the elected point — all one conditional aggregate over the "
    "11-row grid fan-out. Scale: one scan, integer counts.",
    bench=False,
)
def q_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .select("y", F.col("quality_score").alias("s"))
    )
    tot = scored.agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    th = spark.range(0, _YJ_STEPS + 1).select(F.col("id").alias("k"))
    hit = F.col("s") >= F.col("k").cast("double") / _YJ_STEPS
    pts = (
        scored.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_pos", "n_neg")
        .agg(
            F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    j_num = F.col("tp") * F.col("n_neg") - F.col("fp") * F.col("n_pos")
    w = Window.orderBy(j_num.desc(), F.col("k").asc())
    best = (
        pts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return best.select(
        "k",
        (F.col("k").cast("double") / _YJ_STEPS).alias("threshold"),
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        (F.col("n_neg") - F.col("fp")).alias("tn"),
        F.round(
            F.col("tp").cast("double") / F.col("n_pos")
            - F.col("fp").cast("double") / F.col("n_neg"),
            9,
        ).alias("youden_j"),
        F.round(
            (F.col("tp") + F.col("n_neg") - F.col("fp")).cast("double")
            / (F.col("n_pos") + F.col("n_neg")),
            9,
        ).alias("accuracy"),
        F.round(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + (F.col("n_pos") - F.col("tp"))),
            9,
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# #425 seasonal_strength — trend/seasonal strength diagnostics
# ---------------------------------------------------------------------------


@query(
    "q_seasonal_strength",
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
            SELECT event_type, cents,
                   CAST((day_idx + 4) % 7 AS BIGINT) AS dow,
                   7 * cents - sum7 AS d7
            FROM ma WHERE cnt7 = 7
        ),
        sidx AS (
            SELECT event_type, dow,
                   CAST(SUM(d7) AS BIGINT) AS sdow,
                   CAST(COUNT(*) AS BIGINT) AS ndow
            FROM detr GROUP BY event_type, dow
        ),
        parts AS (
            SELECT d.event_type,
                   CAST(d.d7 AS DOUBLE) / 7
                       - CAST(s.sdow AS DOUBLE) / (7 * s.ndow) AS r,
                   CAST(d.cents AS DOUBLE)
                       - CAST(s.sdow AS DOUBLE) / (7 * s.ndow) AS u,
                   CAST(d.d7 AS DOUBLE) / 7 AS dt
            FROM detr d JOIN sidx s
              ON s.event_type = d.event_type AND s.dow = d.dow
        ),
        mom AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(CAST(r AS DECIMAL(38,9))) AS DOUBLE) AS sr,
                   CAST(SUM(CAST(r * r AS DECIMAL(38,9))) AS DOUBLE) AS sr2,
                   CAST(SUM(CAST(u AS DECIMAL(38,9))) AS DOUBLE) AS su,
                   CAST(SUM(CAST(u * u AS DECIMAL(38,9))) AS DOUBLE) AS su2,
                   CAST(SUM(CAST(dt AS DECIMAL(38,9))) AS DOUBLE) AS sd,
                   CAST(SUM(CAST(dt * dt AS DECIMAL(38,9))) AS DOUBLE) AS sd2
            FROM parts GROUP BY event_type
        )
        SELECT event_type, n_days,
               ROUND(GREATEST(CAST(0 AS DOUBLE),
                   1 - (sr2 / n_days - (sr / n_days) * (sr / n_days))
                       / (su2 / n_days - (su / n_days) * (su / n_days))), 9)
                   AS trend_strength,
               ROUND(GREATEST(CAST(0 AS DOUBLE),
                   1 - (sr2 / n_days - (sr / n_days) * (sr / n_days))
                       / (sd2 / n_days - (sd / n_days) * (sd / n_days))), 9)
                   AS seasonal_strength
        FROM mom
        ORDER BY event_type
    """,
    operators=(31, 275, 425),
    doc="Trend / seasonal strength (#425, Hyndman's forecastability "
    "diagnostics): F_T = max(0, 1 - Var(R)/Var(deseasonalized)) and "
    "F_S = max(0, 1 - Var(R)/Var(detrended)) from the #275 classical "
    "decomposition (7-day centered MA trend, day-of-week seasonal "
    "index, remainder) — the pair of [0,1] numbers that decides "
    "WHICH forecaster each series deserves (#331 Holt needs trend, "
    "#380 Holt-Winters needs seasonality, neither helps white "
    "noise). The decomposition stays integer as long as possible "
    "(d7 = 7·cents − sum7 BIGINT; seasonal index an exact integer "
    "ratio), remainder/deseasonalized/detrended values are shared "
    "IEEE trees over those integers, and each variance moment "
    "quantizes per-term through DECIMAL(38,9) sums. Scale: one "
    "daily rollup, per-series windows, a dow-cell join.",
    bench=False,
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("day_idx"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    daily = e.groupBy("event_type", "day_idx").agg(
        F.sum("c").cast("bigint").alias("cents")
    )
    w = (
        Window.partitionBy("event_type").orderBy("day_idx").rowsBetween(-3, 3)
    )
    detr = (
        daily.select(
            "event_type",
            "day_idx",
            "cents",
            F.sum("cents").over(w).alias("sum7"),
            F.count(F.lit(1)).over(w).alias("cnt7"),
        )
        .filter(F.col("cnt7") == 7)
        .select(
            "event_type",
            "cents",
            ((F.col("day_idx") + 4) % 7).cast("bigint").alias("dow"),
            (7 * F.col("cents") - F.col("sum7")).alias("d7"),
        )
    )
    sidx = detr.groupBy("event_type", "dow").agg(
        F.sum("d7").cast("bigint").alias("sdow"),
        F.count(F.lit(1)).cast("bigint").alias("ndow"),
    )
    s_term = F.col("sdow").cast("double") / (7 * F.col("ndow"))
    parts = detr.join(F.broadcast(sidx), ["event_type", "dow"]).select(
        "event_type",
        (F.col("d7").cast("double") / 7 - s_term).alias("r"),
        (F.col("cents").cast("double") - s_term).alias("u"),
        (F.col("d7").cast("double") / 7).alias("dt"),
    )
    dec = "decimal(38,9)"
    mom = parts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("r").cast(dec)).cast("double").alias("sr"),
        F.sum((F.col("r") * F.col("r")).cast(dec)).cast("double").alias("sr2"),
        F.sum(F.col("u").cast(dec)).cast("double").alias("su"),
        F.sum((F.col("u") * F.col("u")).cast(dec)).cast("double").alias("su2"),
        F.sum(F.col("dt").cast(dec)).cast("double").alias("sd"),
        F.sum((F.col("dt") * F.col("dt")).cast(dec))
        .cast("double")
        .alias("sd2"),
    )
    n = F.col("n_days")

    def _var(s2, s1):
        return F.col(s2) / n - (F.col(s1) / n) * (F.col(s1) / n)

    return mom.select(
        "event_type",
        "n_days",
        F.round(
            F.greatest(F.lit(0.0), 1 - _var("sr2", "sr") / _var("su2", "su")),
            9,
        ).alias("trend_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1 - _var("sr2", "sr") / _var("sd2", "sd")),
            9,
        ).alias("seasonal_strength"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# #426 adf_test — Dickey-Fuller unit-root stationarity gate
# ---------------------------------------------------------------------------

_ADF_CRIT_5 = "-2.86"  # published large-n 5% DF critical value (with const)


@query(
    "q_adf_test",
    oracle=f"""
        WITH o AS (
            SELECT EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
            FROM events
        ),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM o),
        grid AS (
            SELECT lo + g.i AS d
            FROM bounds, UNNEST(GENERATE_SERIES(0, hi - lo)) AS g(i)
        ),
        x AS (
            SELECT grid.d, CAST(COALESCE(c.n, 0) AS BIGINT) AS x
            FROM grid LEFT JOIN (
                SELECT d, COUNT(*) AS n FROM o GROUP BY d
            ) c ON c.d = grid.d
        ),
        pairs AS (
            SELECT a.x AS xl, b.x - a.x AS dx
            FROM x a JOIN x b ON b.d = a.d + 1
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xl) AS BIGINT) AS sx,
                   CAST(SUM(xl * xl) AS BIGINT) AS sxx,
                   CAST(SUM(dx) AS BIGINT) AS sd,
                   CAST(SUM(dx * dx) AS BIGINT) AS sdd,
                   CAST(SUM(xl * dx) AS BIGINT) AS sxd
            FROM pairs
        ),
        fit AS (
            SELECT n,
                   (CAST(n AS DOUBLE) * sxd - CAST(sx AS DOUBLE) * sd)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                       AS beta,
                   CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
                   CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n AS sdd_c,
                   CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * sd / n AS sxd_c
            FROM mom
        )
        SELECT n AS n_pairs,
               ROUND(beta, 9) AS beta,
               ROUND(beta / SQRT(((sdd_c - beta * sxd_c) / (n - 2)) / sxx_c),
                     9) AS tau,
               CAST(beta / SQRT(((sdd_c - beta * sxd_c) / (n - 2)) / sxx_c)
                    < {_ADF_CRIT_5} AS INT) AS stationary_5pct
        FROM fit
    """,
    operators=(24, 158, 426),
    doc="Dickey-Fuller unit-root test (#426): regress the daily "
    "difference on the lagged level over the zero-completed day "
    "grid, tau = beta_hat / se(beta_hat), reject a unit root at 5% "
    "against the PUBLISHED constant-case critical value "
    f"({_ADF_CRIT_5}, Fuller's tables — tau is NOT t-distributed, "
    "which is exactly why this test exists) — the stationarity gate "
    "every AR fit (#378), Granger test (#379), and differencing "
    "decision should pass first. Every moment (Σx, Σx², ΣΔ, ΣΔ², "
    "ΣxΔ) is an exact BIGINT from one lag self-join on the grid; "
    "SSE comes from the closed identity SΔΔ − β·SxΔ so no per-row "
    "residual pass exists; tau is one shared IEEE tree. Scale: one "
    "daily rollup + a day-keyed lag join + a 1-row census.",
    bench=False,
)
def q_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("d")
    )
    cnt = o.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    bounds = o.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    x = grid.join(cnt, "d", "left").select(
        "d", F.coalesce("n", F.lit(0)).cast("bigint").alias("x")
    )
    a = x.select(F.col("d").alias("da"), F.col("x").alias("xl"))
    b = x.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("db") == F.col("da") + 1).select(
        "xl", (F.col("xb") - F.col("xl")).alias("dx")
    )
    mom = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xl").cast("bigint").alias("sx"),
        F.sum(F.col("xl") * F.col("xl")).cast("bigint").alias("sxx"),
        F.sum("dx").cast("bigint").alias("sd"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sdd"),
        F.sum(F.col("xl") * F.col("dx")).cast("bigint").alias("sxd"),
    )
    n = F.col("n")
    beta = (
        n.cast("double") * F.col("sxd") - F.col("sx").cast("double") * F.col("sd")
    ) / (
        n.cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    sxx_c = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / n
    sdd_c = F.col("sdd").cast("double") - F.col("sd").cast("double") * F.col(
        "sd"
    ) / n
    sxd_c = F.col("sxd").cast("double") - F.col("sx").cast("double") * F.col(
        "sd"
    ) / n
    fit = mom.select(
        n.alias("n_pairs"),
        beta.alias("beta"),
        sxx_c.alias("sxx_c"),
        sdd_c.alias("sdd_c"),
        sxd_c.alias("sxd_c"),
    )
    tau = F.col("beta") / F.sqrt(
        ((F.col("sdd_c") - F.col("beta") * F.col("sxd_c")) / (F.col("n_pairs") - 2))
        / F.col("sxx_c")
    )
    return fit.select(
        "n_pairs",
        F.round("beta", 9).alias("beta"),
        F.round(tau, 9).alias("tau"),
        (tau < float(_ADF_CRIT_5)).cast("int").alias("stationary_5pct"),
    )


# ---------------------------------------------------------------------------
# #427 ridge_closed — closed-form 2-regressor ridge shrinkage path
# ---------------------------------------------------------------------------

_RIDGE_LAMS = (0, 1, 10)  # lambda = lam_k * mean(Sxx)/10


@query(
    "q_ridge_closed",
    oracle=f"""
        WITH o AS (
            SELECT EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
            FROM events
        ),
        bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM o),
        grid AS (
            SELECT lo + g.i AS d
            FROM bounds, UNNEST(GENERATE_SERIES(0, hi - lo)) AS g(i)
        ),
        x AS (
            SELECT grid.d, CAST(COALESCE(c.n, 0) AS BIGINT) AS x
            FROM grid LEFT JOIN (
                SELECT d, COUNT(*) AS n FROM o GROUP BY d
            ) c ON c.d = grid.d
        ),
        rows_ AS (
            SELECT y.x AS y, l1.x AS x1, l7.x AS x2
            FROM x y
            JOIN x l1 ON l1.d = y.d - 1
            JOIN x l7 ON l7.d = y.d - 7
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x1) AS BIGINT) AS s1,
                   CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                   CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                   CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                   CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                   CAST(SUM(x2 * y) AS BIGINT) AS s2y
            FROM rows_
        ),
        cmom AS (
            SELECT n,
                   CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS a11,
                   CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS a22,
                   CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS a12,
                   CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS b1,
                   CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS b2,
                   CAST(sy AS DOUBLE) / n AS my,
                   CAST(s1 AS DOUBLE) / n AS m1,
                   CAST(s2 AS DOUBLE) / n AS m2
            FROM mom
        ),
        lams AS (SELECT UNNEST([{", ".join(str(x) for x in _RIDGE_LAMS)}])
                     AS lam_k),
        fit AS (
            SELECT l.lam_k, c.n,
                   l.lam_k * (c.a11 + c.a22) / 20 AS lam,
                   c.a11, c.a22, c.a12, c.b1, c.b2, c.my, c.m1, c.m2
            FROM lams l CROSS JOIN cmom c
        ),
        sol AS (
            SELECT lam_k, n, lam,
                   ((a22 + lam) * b1 - a12 * b2)
                   / ((a11 + lam) * (a22 + lam) - a12 * a12) AS b1h,
                   ((a11 + lam) * b2 - a12 * b1)
                   / ((a11 + lam) * (a22 + lam) - a12 * a12) AS b2h,
                   my, m1, m2
            FROM fit
        )
        SELECT lam_k, n AS n_rows,
               ROUND(lam, 9) AS lam,
               ROUND(b1h, 9) AS beta_lag1,
               ROUND(b2h, 9) AS beta_lag7,
               ROUND(my - b1h * m1 - b2h * m2, 9) AS intercept
        FROM sol
        ORDER BY lam_k
    """,
    operators=(24, 158, 427),
    doc="Closed-form ridge regression (#427): the daily total "
    "forecast y_t ~ (y_t-1, y_t-7) solved exactly from centered "
    "integer moments with the 2x2 determinant inverse of "
    "(X'X + lambda I) — the L2-shrinkage path at lambda = "
    "k·mean(Sxx)/10 for k in "
    f"{_RIDGE_LAMS}, k=0 being plain OLS (#158/#379's machinery). "
    "The graded table IS the shrinkage story: collinear lag "
    "regressors (daily series correlate with both lags) get their "
    "coefficients pulled toward zero as lambda grows, which is why "
    "ridge beats OLS when a CBO-style forecaster must not explode "
    "on near-singular designs. All moments are exact BIGINTs from "
    "one double-lag join on the zero-completed grid; the solve is "
    "one shared IEEE tree per lambda. Scale: a daily rollup + two "
    "day-keyed joins + a 1-row census fanned to a 3-row grid.",
    bench=False,
)
def q_ridge_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("d")
    )
    cnt = o.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    bounds = o.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    x = grid.join(cnt, "d", "left").select(
        "d", F.coalesce("n", F.lit(0)).cast("bigint").alias("x")
    )
    y = x.select(F.col("d").alias("dy"), F.col("x").alias("y"))
    l1 = x.select(F.col("d").alias("d1"), F.col("x").alias("x1"))
    l7 = x.select(F.col("d").alias("d7"), F.col("x").alias("x2"))
    rows = (
        y.join(l1, F.col("d1") == F.col("dy") - 1)
        .join(l7, F.col("d7") == F.col("dy") - 7)
        .select("y", "x1", "x2")
    )
    mom = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
    )
    n = F.col("n")
    cmom = mom.select(
        n,
        (
            F.col("s11").cast("double") - F.col("s1").cast("double") * F.col("s1") / n
        ).alias("a11"),
        (
            F.col("s22").cast("double") - F.col("s2").cast("double") * F.col("s2") / n
        ).alias("a22"),
        (
            F.col("s12").cast("double") - F.col("s1").cast("double") * F.col("s2") / n
        ).alias("a12"),
        (
            F.col("s1y").cast("double") - F.col("s1").cast("double") * F.col("sy") / n
        ).alias("b1"),
        (
            F.col("s2y").cast("double") - F.col("s2").cast("double") * F.col("sy") / n
        ).alias("b2"),
        (F.col("sy").cast("double") / n).alias("my"),
        (F.col("s1").cast("double") / n).alias("m1"),
        (F.col("s2").cast("double") / n).alias("m2"),
    )
    lams = spark.range(len(_RIDGE_LAMS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _RIDGE_LAMS]),
            (F.col("id") + 1).cast("int"),
        ).alias("lam_k")
    )
    fit = lams.crossJoin(F.broadcast(cmom)).select(
        "lam_k",
        "n",
        (F.col("lam_k") * (F.col("a11") + F.col("a22")) / 20).alias("lam"),
        "a11",
        "a22",
        "a12",
        "b1",
        "b2",
        "my",
        "m1",
        "m2",
    )
    den = (F.col("a11") + F.col("lam")) * (
        F.col("a22") + F.col("lam")
    ) - F.col("a12") * F.col("a12")
    b1h = ((F.col("a22") + F.col("lam")) * F.col("b1") - F.col("a12") * F.col("b2")) / den
    b2h = ((F.col("a11") + F.col("lam")) * F.col("b2") - F.col("a12") * F.col("b1")) / den
    sol = fit.select(
        "lam_k", "n", "lam", b1h.alias("b1h"), b2h.alias("b2h"), "my", "m1", "m2"
    )
    return sol.select(
        "lam_k",
        F.col("n").alias("n_rows"),
        F.round("lam", 9).alias("lam"),
        F.round("b1h", 9).alias("beta_lag1"),
        F.round("b2h", 9).alias("beta_lag7"),
        F.round(
            F.col("my") - F.col("b1h") * F.col("m1") - F.col("b2h") * F.col("m2"),
            9,
        ).alias("intercept"),
    ).orderBy("lam_k")


# ---------------------------------------------------------------------------
# #428 partial_corr — partial correlation controlling a third series
# ---------------------------------------------------------------------------


@query(
    "q_partial_corr",
    oracle="""
        WITH daily AS (
            SELECT EPOCH_US(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
                   CAST(COUNT(*) AS BIGINT) AS x,
                   CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                             AS BIGINT) // 100 AS BIGINT) AS y,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS z
            FROM events GROUP BY d
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(z) AS BIGINT) AS sz,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(z * z) AS BIGINT) AS szz,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * z) AS BIGINT) AS sxz,
                   CAST(SUM(y * z) AS BIGINT) AS syz
            FROM daily
        ),
        r AS (
            SELECT n,
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * SQRT(CAST(n AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy)) AS rxy,
                   (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
                   / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * SQRT(CAST(n AS DOUBLE) * szz
                             - CAST(sz AS DOUBLE) * sz)) AS rxz,
                   (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
                   / (SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                      * SQRT(CAST(n AS DOUBLE) * szz
                             - CAST(sz AS DOUBLE) * sz)) AS ryz
            FROM mom
        )
        SELECT n AS n_days,
               ROUND(rxy, 9) AS r_xy,
               ROUND(rxz, 9) AS r_xz,
               ROUND(ryz, 9) AS r_yz,
               ROUND((rxy - rxz * ryz)
                     / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 9)
                   AS r_xy_given_z
        FROM r
    """,
    operators=(24, 158, 428),
    doc="Partial correlation (#428): r_xy.z between daily event "
    "volume (x) and daily revenue in whole dollars (y) CONTROLLING "
    "for daily active users (z) — the first-order answer to 'is the "
    "volume-revenue correlation real or just both riding user "
    "count?', the confounder-removal primitive beneath regression "
    "adjustment (#395) and the correlation family (#158/#348/#349). "
    "Closed form (r_xy − r_xz·r_yz)/sqrt((1−r_xz²)(1−r_yz²)) from "
    "three Pearson correlations whose moments are all exact BIGINTs "
    "(counts; dollars as cents div 100 so per-day values stay "
    "integral; distinct users) — one daily rollup, one 1-row "
    "census, one shared IEEE tree.",
    bench=False,
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
            "user_id",
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.expr("CAST(sum(c) AS BIGINT) div 100").cast("bigint").alias("y"),
            F.countDistinct("user_id").cast("bigint").alias("z"),
        )
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )
    n = F.col("n")

    def _r(sab, sa, sb, saa, sbb):
        return (
            n.cast("double") * F.col(sab)
            - F.col(sa).cast("double") * F.col(sb)
        ) / (
            F.sqrt(
                n.cast("double") * F.col(saa)
                - F.col(sa).cast("double") * F.col(sa)
            )
            * F.sqrt(
                n.cast("double") * F.col(sbb)
                - F.col(sb).cast("double") * F.col(sb)
            )
        )

    r = mom.select(
        n,
        _r("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        _r("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        _r("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return r.select(
        F.col("n").alias("n_days"),
        F.round("rxy", 9).alias("r_xy"),
        F.round("rxz", 9).alias("r_xz"),
        F.round("ryz", 9).alias("r_yz"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            9,
        ).alias("r_xy_given_z"),
    )
