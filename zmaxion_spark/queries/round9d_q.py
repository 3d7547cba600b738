"""Round-9 wave 4 — SURVEY.md §2.27 (#435–#439).

Corpus-linguistic dispersion (Gries' DP), topic-model-free coherence
(UMass), exact largest-remainder quota apportionment (the sampling-
budget allocator behind every stratified data mix), the A/A
calibration gate (the experiment-infrastructure null check), and
capture-recapture dedup-recall estimation (Chapman's estimator over
two independent near-dup catchers — recall without ground truth).

Parity disciplines reused from the repo:

- Apportionment is INTEGER end-to-end: Hamilton remainders compare
  as B·w mod W (exact BIGINTs), so the allocation is bit-exact by
  construction — no float ranks anywhere.
- Dispersion/coherence ln and |·| terms are shared IEEE trees over
  exact count cells, quantized through DECIMAL before sums.
- The A/A z reuses the #307/#418 integer-moment discipline; its
  md5-parity arms are independent of the user_id%2 arms the real
  experiments use, which is the point of the gate.
- Capture-recapture composes the engine's OWN minhash (#70) and
  simhash catchers; the estimator is a closed form of three counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #435 word_dispersion — Gries' deviation of proportions (DP)
# ---------------------------------------------------------------------------

_WD_TOP = 20


@query(
    "q_word_dispersion",
    oracle=f"""
        WITH tok AS (
            SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ),
        cells AS (
            SELECT term, source, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY term, source
        ),
        parts AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS pt FROM cells
            GROUP BY source
        ),
        tot AS (SELECT CAST(SUM(pt) AS BIGINT) AS w FROM parts),
        tf AS (
            SELECT term, CAST(SUM(c) AS BIGINT) AS f FROM cells
            GROUP BY term
        ),
        top AS (
            SELECT term, f FROM tf
            QUALIFY ROW_NUMBER() OVER (ORDER BY f DESC, term)
                    <= {_WD_TOP}
        ),
        grid AS (
            SELECT t.term, t.f, p.source, p.pt, tot.w,
                   COALESCE(c.c, 0) AS c
            FROM top t CROSS JOIN parts p CROSS JOIN tot
            LEFT JOIN cells c ON c.term = t.term AND c.source = p.source
        )
        SELECT term, CAST(f AS BIGINT) AS freq,
               ROUND(CAST(SUM(CAST(
                   ABS(CAST(c AS DOUBLE) / f
                       - CAST(pt AS DOUBLE) / w) / 2
                   AS DECIMAL(38,12))) AS DOUBLE), 9) AS dp
        FROM grid
        GROUP BY term, f
        ORDER BY freq DESC, term
    """,
    operators=(23, 66, 435),
    doc=f"Gries' deviation of proportions (#435): lexical dispersion "
    f"DP = Σ|v_i − s_i|/2 for the top-{_WD_TOP} corpus terms across "
    "the source partition — v_i the term's share of its own "
    "occurrences in part i, s_i the part's share of all tokens. "
    "DP ≈ 0 means the word is spread as the corpus is (function "
    "words); DP → 1 means it clumps in one source (jargon, "
    "boilerplate) — the dispersion axis that raw frequency (#129) "
    "and tf-idf (#67) both miss, and a direct burstiness gate for "
    "training-data mixing. Every proportion is a ratio of exact "
    "BIGINT cells on a zero-completed (term × source) grid; |·| "
    "terms quantize through DECIMAL(38,12) before the exact sum. "
    "Scale: one token-stream census; the grid is top-N × |sources|.",
    bench=False,
)
def q_word_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    cells = tok.groupBy("term", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    parts = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("pt"))
    tot = parts.agg(F.sum("pt").cast("bigint").alias("w"))
    tf = cells.groupBy("term").agg(F.sum("c").cast("bigint").alias("f"))
    top = (
        tf.orderBy(F.col("f").desc(), "term").limit(_WD_TOP)
    )
    grid = (
        top.crossJoin(F.broadcast(parts))
        .join(cells, ["term", "source"], "left")
        .select(
            "term",
            "f",
            "pt",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .crossJoin(F.broadcast(tot))
    )
    term_dp = (
        F.abs(
            F.col("c").cast("double") / F.col("f")
            - F.col("pt").cast("double") / F.col("w")
        )
        / 2
    ).cast("decimal(38,12)")
    return (
        grid.groupBy("term")
        .agg(
            F.first("f").alias("freq"),
            F.round(F.sum(term_dp).cast("double"), 9).alias("dp"),
        )
        .orderBy(F.col("freq").desc(), "term")
    )


# ---------------------------------------------------------------------------
# #436 topic_coherence — UMass coherence of the top-df terms
# ---------------------------------------------------------------------------

_TC_TOP = 10


@query(
    "q_topic_coherence",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM dt GROUP BY term
        ),
        top AS (
            SELECT term, df,
                   ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rk
            FROM df
            QUALIFY rk <= {_TC_TOP}
        ),
        pairs AS (
            SELECT a.term AS wi, b.term AS wj, a.rk AS ri, b.rk AS rj,
                   b.df AS dfj
            FROM top a JOIN top b ON a.rk > b.rk
        ),
        co AS (
            SELECT p.wi, p.wj, p.dfj,
                   CAST(COUNT(*) AS BIGINT) AS dij
            FROM pairs p
            JOIN dt x ON x.term = p.wi
            JOIN dt y ON y.term = p.wj AND y.doc_id = x.doc_id
            GROUP BY p.wi, p.wj, p.dfj
        ),
        terms AS (
            SELECT CAST(LN((dij + 1.0) / dfj) AS DECIMAL(38,12)) AS t
            FROM co
        )
        SELECT CAST({_TC_TOP} AS BIGINT) AS n_terms,
               CAST((SELECT COUNT(*) FROM co) AS BIGINT) AS n_pairs,
               ROUND(CAST(SUM(t) AS DOUBLE)
                     / (SELECT COUNT(*) FROM co), 9) AS coherence_umass
        FROM terms
    """,
    operators=(23, 151, 436),
    doc=f"UMass topic coherence (#436, Mimno et al. 2011): "
    "C = mean ln((D(wi,wj)+1)/D(wj)) over ordered pairs of the "
    f"top-{_TC_TOP} document-frequency terms (wj the more frequent) "
    "— the do-these-words-belong-together number used to grade "
    "topic models and keyword clusters WITHOUT external corpora "
    "(unlike UCI/NPMI variants that need a reference corpus; "
    "PMI #151 is the pairwise ingredient, coherence is its "
    "set-level aggregate). Document co-occurrence counts are exact "
    "integers from a doc-keyed self-join restricted to the top "
    "terms; each ln is a shared IEEE tree quantized through "
    "DECIMAL(38,12). Scale: df census + a top-N-bounded co-doc "
    "join — never the full vocabulary squared.",
    bench=False,
)
def q_topic_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    df = dt.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    w = Window.orderBy(F.col("df").desc(), "term")
    top = (
        df.orderBy(F.col("df").desc(), "term")
        .limit(_TC_TOP)
        .select("term", "df", F.row_number().over(w).alias("rk"))
    )
    a = top.select(F.col("term").alias("wi"), F.col("rk").alias("ri"))
    b = top.select(
        F.col("term").alias("wj"), F.col("rk").alias("rj"), F.col("df").alias("dfj")
    )
    pairs = a.join(b, F.col("ri") > F.col("rj"))
    x = dt.select(F.col("term").alias("wi"), F.col("doc_id").alias("di"))
    y = dt.select(F.col("term").alias("wj2"), F.col("doc_id").alias("dj"))
    co = (
        pairs.join(x, "wi")
        .join(y, (F.col("wj") == F.col("wj2")) & (F.col("di") == F.col("dj")))
        .groupBy("wi", "wj", "dfj")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dij"))
    )
    n_pairs = co.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    terms = co.select(
        F.log((F.col("dij") + F.lit(1.0)) / F.col("dfj"))
        .cast("decimal(38,12)")
        .alias("t")
    )
    return (
        terms.agg(F.sum("t").cast("double").alias("s"))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            F.lit(_TC_TOP).cast("bigint").alias("n_terms"),
            F.col("np").alias("n_pairs"),
            F.round(F.col("s") / F.col("np"), 9).alias("coherence_umass"),
        )
    )


# ---------------------------------------------------------------------------
# #437 quota_apportion — Hamilton largest-remainder budget allocation
# ---------------------------------------------------------------------------

_QA_BUDGET = 1000


@query(
    "q_quota_apportion",
    oracle=f"""
        WITH src AS (
            SELECT source,
                   CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                            w -> LEN(w) > 0))) AS BIGINT)
                       AS tokens
            FROM documents GROUP BY source
            HAVING SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                       w -> LEN(w) > 0))) > 0
        ),
        tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS w FROM src),
        quota AS (
            SELECT s.source, s.tokens,
                   ({_QA_BUDGET} * s.tokens) // t.w AS base,
                   ({_QA_BUDGET} * s.tokens) % t.w AS rem
            FROM src s CROSS JOIN tot t
        ),
        short AS (
            SELECT {_QA_BUDGET} - CAST(SUM(base) AS BIGINT) AS k FROM quota
        ),
        ranked AS (
            SELECT source, tokens, base, rem,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM quota
        )
        SELECT r.source, r.tokens, CAST(r.base AS BIGINT) AS base,
               CAST(CASE WHEN r.rk <= s.k THEN 1 ELSE 0 END AS BIGINT)
                   AS extra,
               CAST(r.base + CASE WHEN r.rk <= s.k THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc
        FROM ranked r CROSS JOIN short s
        ORDER BY r.source
    """,
    operators=(23, 130, 437),
    doc=f"Hamilton largest-remainder apportionment (#437): split a "
    f"sampling budget of {_QA_BUDGET} exactly across sources "
    "proportional to token mass — base = floor(B·w/W), the "
    "shortfall goes to the largest remainders (B·w mod W, an exact "
    "BIGINT — no float quota ever exists, so the allocation is "
    "bit-exact by construction and always sums to B). This is the "
    "integerization step every stratified data mix (#130, #243) "
    "needs and almost every pipeline fudges with round(): "
    "rounding can over- or under-shoot the budget by |strata|/2, "
    "while Hamilton is exact and minimizes total seat deviation. "
    "Ties break by source id. Scale: one census + a |sources|-row "
    "rank.",
    bench=False,
)
def q_quota_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.size(
                    F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
                )
            )
            .cast("bigint")
            .alias("tokens")
        )
        .filter(F.col("tokens") > 0)
    )
    tot = src.agg(F.sum("tokens").cast("bigint").alias("w"))
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"({_QA_BUDGET} * tokens) div w").alias("base"),
        ((_QA_BUDGET * F.col("tokens")) % F.col("w")).alias("rem"),
    )
    short = quota.agg(
        (F.lit(_QA_BUDGET) - F.sum("base")).cast("bigint").alias("k")
    )
    w_rk = Window.orderBy(F.col("rem").desc(), "source")
    ranked = quota.select(
        "source", "tokens", "base", "rem", F.row_number().over(w_rk).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "source",
            "tokens",
            F.col("base").cast("bigint").alias("base"),
            F.when(F.col("rk") <= F.col("k"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("extra"),
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# #438 aa_calibration — the experiment-infrastructure null check
# ---------------------------------------------------------------------------

_Z_95 = "1.959963984540054"


@query(
    "q_aa_calibration",
    oracle=f"""
        WITH v AS (
            SELECT CAST(('0x' || SUBSTR(MD5('aa:' ||
                       CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
                       AS arm,
                   CAST(COUNT(*) AS BIGINT) AS x
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
        )
        SELECT n0 AS n_a, n1 AS n_b,
               ROUND((CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
                     / SQRT(((CAST(sxx0 AS DOUBLE)
                              - CAST(sx0 AS DOUBLE) * sx0 / n0)
                             / (n0 - 1)) / n0
                            + ((CAST(sxx1 AS DOUBLE)
                                - CAST(sx1 AS DOUBLE) * sx1 / n1)
                               / (n1 - 1)) / n1), 9) AS welch_z,
               CAST(ABS((CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
                        / SQRT(((CAST(sxx0 AS DOUBLE)
                                 - CAST(sx0 AS DOUBLE) * sx0 / n0)
                                / (n0 - 1)) / n0
                               + ((CAST(sxx1 AS DOUBLE)
                                   - CAST(sx1 AS DOUBLE) * sx1 / n1)
                                  / (n1 - 1)) / n1)) > {_Z_95} AS INT)
                   AS false_positive
        FROM c
    """,
    operators=(24, 147, 438),
    doc="A/A calibration gate (#438): split users into two arms by an "
    "md5 hash INDEPENDENT of every real assignment hash in the "
    "engine (so it is a genuine null), run the #147 Welch z on the "
    "same per-user metric the real experiments use, and grade the "
    "false_positive flag — the infrastructure check every "
    "experimentation platform runs continuously, because a 'null' "
    "that rejects reveals broken randomization, interference, or "
    "metric pipeline bugs long before any real A/B is trusted. "
    "Integer moments end-to-end (#418's discipline); one shared "
    "IEEE tree. Scale: the per-user rollup is the only row-scale "
    "pass.",
    bench=False,
)
def q_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aa:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    v = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select(arm.alias("arm"), "x")
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
    var0 = (
        F.col("sxx0").cast("double")
        - F.col("sx0").cast("double") * F.col("sx0") / F.col("n0")
    ) / (F.col("n0") - 1)
    var1 = (
        F.col("sxx1").cast("double")
        - F.col("sx1").cast("double") * F.col("sx1") / F.col("n1")
    ) / (F.col("n1") - 1)
    z = (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx0").cast("double") / F.col("n0")
    ) / F.sqrt(var0 / F.col("n0") + var1 / F.col("n1"))
    return c.select(
        F.col("n0").alias("n_a"),
        F.col("n1").alias("n_b"),
        F.round(z, 9).alias("welch_z"),
        (F.abs(z) > float(_Z_95)).cast("int").alias("false_positive"),
    )


# ---------------------------------------------------------------------------
# #439 capture_recapture — dedup recall without ground truth
# ---------------------------------------------------------------------------


def _cr_oracle() -> str:
    from zmaxion_spark.queries.llm import _MINHASH_SQL, _SIMHASH_SQL

    return f"""
        WITH mh AS (
            SELECT doc_a, doc_b FROM ({_MINHASH_SQL})
        ),
        sh2 AS (
            SELECT doc_a, doc_b FROM ({_SIMHASH_SQL})
        ),
        counts AS (
            SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n1,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM sh2) AS n2,
                (SELECT CAST(COUNT(*) AS BIGINT)
                 FROM mh JOIN sh2 USING (doc_a, doc_b)) AS m
        )
        SELECT n1 AS n_minhash, n2 AS n_simhash, m AS n_both,
               ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 3)
                   AS chapman_est,
               ROUND(n1 / (CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1),
                     9) AS recall_minhash,
               ROUND(n2 / (CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1),
                     9) AS recall_simhash
        FROM counts
    """


@query(
    "q_capture_recapture",
    oracle=_cr_oracle(),
    operators=(25, 70, 439),
    doc="Capture-recapture dedup-recall estimation (#439): treat the "
    "MinHash-LSH (#70) and SimHash catchers as two independent "
    "'trapping occasions' over the SAME unknown population of true "
    "near-dup pairs, and estimate that population with Chapman's "
    "bias-corrected Lincoln-Petersen N = (n1+1)(n2+1)/(m+1) - 1 "
    "from just three counts (each catcher's pairs and the overlap) "
    "— the only way to put a RECALL number on a dedup pipeline at "
    "100 TB, where labeled duplicate ground truth does not exist "
    "(the same estimator ecology uses for animal populations and "
    "software QA for residual-defect counts). Each catcher's "
    "implied recall n_i/N ships alongside. Closed form of exact "
    "integer counts; the catchers themselves are the engine's own "
    "graded, bounded pipelines.",
    bench=False,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.llm import q_dedup_minhash_lsh, q_dedup_simhash

    mh = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sh = q_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    counts = (
        mh.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
        .crossJoin(sh.agg(F.count(F.lit(1)).cast("bigint").alias("n2")))
        .crossJoin(
            mh.join(sh, ["doc_a", "doc_b"]).agg(
                F.count(F.lit(1)).cast("bigint").alias("m")
            )
        )
    )
    chapman = (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (
        F.col("m") + 1
    ) - 1
    return counts.select(
        F.col("n1").alias("n_minhash"),
        F.col("n2").alias("n_simhash"),
        F.col("m").alias("n_both"),
        F.round(chapman, 3).alias("chapman_est"),
        F.round(F.col("n1") / chapman, 9).alias("recall_minhash"),
        F.round(F.col("n2") / chapman, 9).alias("recall_simhash"),
    )
