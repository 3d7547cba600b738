"""Round-9 wave 9 — SURVEY.md §2.28 (#463–#468).

Streaming-state, stylometry, and robustness closure: HyperLogLog
registers maintained as STREAMING STATE (the #220/#433 discipline
applied to distinct counting — the streaming twin of #140's batch
sketches), Burrows' Delta stylometric distance (the function-word
z-score metric of authorship attribution), the Woolf odds-ratio CI
(the effect-size companion to Fisher #375 / Cramér #364), source
vocabulary Jaccard overlap (corpus-curation redundancy), generalized
ESD multi-outlier election (the k-outlier extension of Grubbs #458),
and feature-selection stability across md5 half-splits (is the top-k
chi² list reproducible, the prerequisite #280 leaves unasked).

Parity disciplines reused from the repo:

- The HLL harmonic denominator is kept INTEGER: Σ2^(53−Mⱼ) as exact
  BIGINT shifts (≤ 256·2^53 < 2^63), so the raw estimate is one IEEE
  tree over exact integers — no power-of-two double sums to drift;
  the small-range LN correction is k-cell libm quantized at 1e-9.
- Bounded-cell z-scores/deltas (Burrows) quantize per-term through
  the 1e-12 grid + DECIMAL sums (the #445 discipline).
- Iterative elections (GESD) recompute moments by SUBTRACTING the
  removed integers from the global sums — exact at every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #463 stream_hll — HyperLogLog registers as streaming state
# ---------------------------------------------------------------------------

_HLL_M = 256  # registers (first 2 md5 hex chars)
_HLL_ALPHA = "CAST(0.7120912956726128 AS DOUBLE)"  # 0.7213 / (1 + 1.079/256)

# Register index: first 2 hex chars of md5('hll:' || user_id).
# Rank: 52-bit value w from the next 13 hex chars (13 hex = 52 bits);
# rank = leading zeros in the 52-bit field + 1 = 53 − bitlen(w)
# (bit length via the base-2 string — pure string ops, no log2 libm),
# CASEd to 53 at w = 0 (all 52 bits zero).
_SQL_HLL_REGS = f"""
        hashed AS (
            SELECT event_type,
                   CAST(('0x' || SUBSTR(MD5('hll:' || CAST(user_id AS VARCHAR)),
                                        1, 2)) AS BIGINT) AS j,
                   CAST(('0x' || SUBSTR(MD5('hll:' || CAST(user_id AS VARCHAR)),
                                        3, 13)) AS BIGINT) AS w
            FROM events
        ),
        regs AS (
            SELECT event_type, j,
                   CAST(MAX(CASE WHEN w = 0 THEN 53
                            ELSE 53 - LENGTH(BIN(w)) END) AS BIGINT) AS mj
            FROM hashed GROUP BY event_type, j
        )
"""


def _hll_oracle() -> str:
    return f"""
        WITH {_SQL_HLL_REGS},
        zsum AS (
            SELECT event_type,
                   CAST(SUM(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS zu,
                   CAST(COUNT(*) AS BIGINT) AS used
            FROM regs GROUP BY event_type
        ),
        est AS (
            SELECT event_type, used,
                   CAST({_HLL_M} - used AS BIGINT) AS v0,
                   {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                       * CAST(CAST(1 AS BIGINT) << 53 AS DOUBLE)
                       / (CAST(zu AS DOUBLE)
                          + CAST({_HLL_M} - used AS BIGINT)
                            * CAST(CAST(1 AS BIGINT) << 53 AS DOUBLE)) AS e_raw
            FROM zsum
        ),
        corrected AS (
            SELECT event_type, used, v0,
                   CASE WHEN e_raw <= 2.5 * {_HLL_M} AND v0 > 0
                        THEN CAST(CAST({_HLL_M}
                                  * LN(CAST({_HLL_M} AS DOUBLE) / v0)
                                  AS DECIMAL(38,9)) AS DOUBLE)
                        ELSE e_raw END AS e
            FROM est
        ),
        exact AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY event_type
        )
        SELECT c.event_type, x.exact_distinct,
               c.used AS registers_used,
               ROUND(c.e, 6) AS hll_estimate,
               CAST(ABS(c.e - x.exact_distinct) / x.exact_distinct <= 0.25
                    AS INT) AS est_within_bound
        FROM corrected c JOIN exact x ON x.event_type = c.event_type
        ORDER BY c.event_type
    """


@query(
    "q_stream_hll",
    oracle=_hll_oracle(),
    operators=(26, 140, 220, 463),
    doc="HyperLogLog as STREAMING STATE (#463): per-(event_type, "
    "register) max-rank counters fold per micro-batch via a "
    "streaming groupBy in update mode — max is monotone, so the "
    "final register file reproduces the batch-built sketch exactly "
    "and the stream grades against a pure batch oracle (the "
    "#220/#433 sketches-as-state discipline applied to DISTINCT "
    "counting; #140's hll_sketch_agg is the batch-only twin). "
    "Engine-parity HLL: register = first md5 byte, rank = 53 − "
    "bit_length(52-bit tail) computed via base-2 STRING length (no "
    "log2 libm), and the harmonic denominator stays INTEGER — "
    "Σ2^(53−Mⱼ) as exact BIGINT shifts — so the raw estimate is one "
    "IEEE tree over exact integers; the linear-counting small-range "
    "correction is k-cell LN quantized at 1e-9, CASEd identically. "
    "Accuracy contract graded per type (m=256 → RSE ≈ 6.5%; bound "
    "0.25). Scale: state is 256 counters per key — restart-safe, "
    "mergeable, executor-shardable.",
    bench=False,
)
def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.pipeline import run_available_now
    from zmaxion_spark.streaming.sources import stream_events

    uid = F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
    h = F.md5(uid.cast("binary"))
    j = F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint")
    w = F.conv(F.substring(h, 3, 13), 16, 10).cast("bigint")
    rank = F.when(w == 0, F.lit(53)).otherwise(
        53 - F.length(F.conv(w.cast("string"), 10, 2))
    ).cast("bigint")

    ev = stream_events(spark, sf_dir)
    cells = ev.select("event_type", j.alias("j"), rank.alias("rk"))
    sink = run_available_now(
        cells.groupBy("event_type", "j").agg(F.max("rk").alias("mj")),
        "shll",
        mode="update",
    )
    regs = (
        sink.groupBy("event_type", "j")
        .agg(F.max("mj").cast("bigint").alias("mj"))
        .localCheckpoint(eager=True)
    )
    zsum = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mj AS INT))"))
        .cast("bigint")
        .alias("zu"),
        F.count(F.lit(1)).cast("bigint").alias("used"),
    )
    two53 = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)")
    v0 = (F.lit(_HLL_M) - F.col("used")).cast("bigint")
    e_raw = (
        F.expr(_HLL_ALPHA)
        * _HLL_M
        * _HLL_M
        * two53
        / (F.col("zu").cast("double") + v0 * two53)
    )
    est = zsum.select("event_type", "used", v0.alias("v0"), e_raw.alias("e_raw"))
    e = F.when(
        (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("v0") > 0),
        (
            F.lit(float(_HLL_M))
            * F.log(F.lit(float(_HLL_M)) / F.col("v0"))
        )
        .cast("decimal(38,9)")
        .cast("double"),
    ).otherwise(F.col("e_raw"))
    corrected = est.select("event_type", "used", "v0", e.alias("e"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return (
        corrected.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.col("used").alias("registers_used"),
            F.round(F.col("e"), 6).alias("hll_estimate"),
            (
                F.abs(F.col("e") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.25
            )
            .cast("int")
            .alias("est_within_bound"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# #464 burrows_delta — stylometric distance between sources
# ---------------------------------------------------------------------------

_BD_TOP = 30


@query(
    "q_burrows_delta",
    oracle=f"""
        WITH tok AS (
            SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
            FROM (
                SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w
                FROM documents
            ) WHERE LENGTH(w) > 0
            GROUP BY source, w
        ),
        stot AS (
            SELECT source, CAST(SUM(f) AS BIGINT) AS n FROM tok GROUP BY source
        ),
        top AS (
            SELECT w FROM (
                SELECT w, CAST(SUM(f) AS BIGINT) AS tf FROM tok GROUP BY w
            ) ORDER BY tf DESC, w LIMIT {_BD_TOP}
        ),
        grid AS (
            SELECT t.w, s.source, s.n,
                   COALESCE(k.f, 0) AS f,
                   CAST(COALESCE(k.f, 0) AS DOUBLE) / s.n AS rf
            FROM top t
            CROSS JOIN stot s
            LEFT JOIN tok k ON k.w = t.w AND k.source = s.source
        ),
        wstats AS (
            SELECT w,
                   CAST(SUM(CAST(FLOOR(rf * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*) AS mu,
                   SQRT(CAST(SUM(CAST(FLOOR(rf * rf * 1e12 + 0.5) / 1e12
                                      AS DECIMAL(38,12))) AS DOUBLE)
                        / COUNT(*)
                        - (CAST(SUM(CAST(FLOOR(rf * 1e12 + 0.5) / 1e12
                                         AS DECIMAL(38,12))) AS DOUBLE)
                           / COUNT(*))
                          * (CAST(SUM(CAST(FLOOR(rf * 1e12 + 0.5) / 1e12
                                           AS DECIMAL(38,12))) AS DOUBLE)
                             / COUNT(*))) AS sd
            FROM grid GROUP BY w
        ),
        z AS (
            SELECT g.source, g.w, (g.rf - s.mu) / s.sd AS z
            FROM grid g JOIN wstats s ON s.w = g.w
            WHERE s.sd > 0
        ),
        deltas AS (
            SELECT a.source AS s1, b.source AS s2,
                   CAST(SUM(CAST(FLOOR(ABS(a.z - b.z) * 1e12 + 0.5) / 1e12
                                 AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*) AS delta
            FROM z a JOIN z b ON b.w = a.w AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT s1, s2, ROUND(delta, 9) AS delta
        FROM deltas
        ORDER BY ROUND(delta, 9), s1, s2
        LIMIT 10
    """,
    operators=(23, 41, 464),
    doc=f"Burrows' Delta (#464): stylometric distance between sources "
    f"over the top-{_BD_TOP} corpus words — per-source relative "
    "frequencies z-scored ACROSS sources per word, delta = mean "
    "|z₁−z₂| — the function-word metric of authorship attribution "
    "(style lives in the most common words, not the rare ones tf-idf "
    "#67 promotes), graded as the 10 most stylistically-similar "
    "source pairs. Parity: frequencies are exact-integer ratios; "
    "per-word means/sds and per-pair deltas all quantize through the "
    "1e-12 grid + DECIMAL sums on the BOUNDED (word × source) grid; "
    "zero-variance words drop identically on both engines; the "
    "(rounded delta, pair) order is total. Scale: one token census, "
    "then a top-k-bounded grid (30 × sources) — the pair join fans "
    "out ≤ 30·sources² cells.",
    bench=False,
)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .localCheckpoint()
    )
    stot = tok.groupBy("source").agg(F.sum("f").cast("bigint").alias("n"))
    top = (
        tok.groupBy("w")
        .agg(F.sum("f").cast("bigint").alias("tf"))
        .orderBy(F.desc("tf"), "w")
        .limit(_BD_TOP)
        .select("w")
    )
    grid = (
        top.crossJoin(stot)
        .join(tok, ["w", "source"], "left")
        .select(
            "w",
            "source",
            (F.coalesce(F.col("f"), F.lit(0)).cast("double") / F.col("n")).alias(
                "rf"
            ),
        )
        .localCheckpoint()
    )

    def _q12(col):
        return (F.floor(col * 1e12 + 0.5) / 1e12).cast("decimal(38,12)")

    wstats = grid.groupBy("w").agg(
        (F.sum(_q12(F.col("rf"))).cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum(_q12(F.col("rf") * F.col("rf"))).cast("double")
            / F.count(F.lit(1))
            - (F.sum(_q12(F.col("rf"))).cast("double") / F.count(F.lit(1)))
            * (F.sum(_q12(F.col("rf"))).cast("double") / F.count(F.lit(1)))
        ).alias("sd"),
    )
    z = (
        grid.join(F.broadcast(wstats), "w")
        .filter(F.col("sd") > 0)
        .select(
            "source", "w", ((F.col("rf") - F.col("mu")) / F.col("sd")).alias("z")
        )
    )
    a, b = z.alias("a"), z.alias("b")
    deltas = (
        a.join(
            b,
            (F.col("b.w") == F.col("a.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(
            (
                F.sum(_q12(F.abs(F.col("a.z") - F.col("b.z")))).cast("double")
                / F.count(F.lit(1))
            ).alias("delta")
        )
    )
    return (
        deltas.select("s1", "s2", F.round(F.col("delta"), 9).alias("delta"))
        .orderBy(F.round(F.col("delta"), 9), "s1", "s2")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# #465 odds_ratio_ci — 2x2 odds ratio with the Woolf interval
# ---------------------------------------------------------------------------


@query(
    "q_odds_ratio",
    oracle="""
        WITH cells AS (
            SELECT
                CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                              AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                     AS BIGINT) AS a,
                CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                              AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                     AS BIGINT) AS b,
                CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                              AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
                     AS BIGINT) AS c,
                CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                              AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                     AS BIGINT) AS d
            FROM orders
        ),
        orr AS (
            SELECT a, b, c, d,
                   CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) AS o_r,
                   SQRT(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
            FROM cells
        )
        SELECT a, b, c, d,
               ROUND(o_r, 9) AS odds_ratio,
               ROUND(CAST(CAST(EXP(LN(o_r) - 1.959964 * se)
                               AS DECIMAL(38,9)) AS DOUBLE), 9) AS ci_lo,
               ROUND(CAST(CAST(EXP(LN(o_r) + 1.959964 * se)
                               AS DECIMAL(38,9)) AS DOUBLE), 9) AS ci_hi,
               CAST(EXP(LN(o_r) - 1.959964 * se) > 1
                    OR EXP(LN(o_r) + 1.959964 * se) < 1
                    AS BOOLEAN) AS significant
        FROM orr
    """,
    operators=(24, 43, 465),
    doc="Woolf odds-ratio interval (#465): OR = ad/bc for urgent-"
    "priority vs filled-status orders with the log-scale CI "
    "exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) — the EFFECT-SIZE reading "
    "of a 2×2 table that the significance family (#375 Fisher, "
    "#364 Cramér's V, #290 kappa) doesn't give: how MANY times the "
    "odds, with uncertainty. Parity: the four cells are one exact "
    "conditional aggregate; OR and the SE are a shared IEEE tree "
    "with correctly-rounded SQRT; the two EXP/LN cells are the "
    "accepted single-cell libm exposure, quantized DECIMAL(38,9). "
    "Scale: one map-side-combined scan.",
    bench=False,
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    exp_ = F.col("o_orderpriority") == "1-URGENT"
    out = F.col("o_orderstatus") == "F"
    cells = load_table(spark, sf_dir, "orders").agg(
        F.sum(F.when(exp_ & out, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(exp_ & ~out, 1).otherwise(0)).cast("bigint").alias("b"),
        F.sum(F.when(~exp_ & out, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(~exp_ & ~out, 1).otherwise(0)).cast("bigint").alias("d"),
    )
    o_r = F.col("a").cast("double") * F.col("d") / (
        F.col("b").cast("double") * F.col("c")
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    lo = F.exp(F.log(o_r) - 1.959964 * se)
    hi = F.exp(F.log(o_r) + 1.959964 * se)
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.round(o_r, 9).alias("odds_ratio"),
        F.round(lo.cast("decimal(38,9)").cast("double"), 9).alias("ci_lo"),
        F.round(hi.cast("decimal(38,9)").cast("double"), 9).alias("ci_hi"),
        ((lo > 1) | (hi < 1)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# #466 vocab_jaccard — source vocabulary overlap census
# ---------------------------------------------------------------------------


@query(
    "q_vocab_jaccard",
    oracle="""
        WITH vocab AS (
            SELECT DISTINCT source, w
            FROM (
                SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w
                FROM documents
            ) WHERE LENGTH(w) > 0
        ),
        vs AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS v
            FROM vocab GROUP BY source
        ),
        inter AS (
            SELECT a.source AS s1, b.source AS s2,
                   CAST(COUNT(*) AS BIGINT) AS i
            FROM vocab a JOIN vocab b
              ON b.w = a.w AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT i.s1, i.s2, i.i AS n_common,
               va.v AS v1, vb.v AS v2,
               ROUND(CAST(i.i AS DOUBLE) / (va.v + vb.v - i.i), 12)
                   AS jaccard
        FROM inter i
        JOIN vs va ON va.source = i.s1
        JOIN vs vb ON vb.source = i.s2
        ORDER BY ROUND(CAST(i.i AS DOUBLE) / (va.v + vb.v - i.i), 12) DESC,
                 i.s1, i.s2
        LIMIT 15
    """,
    operators=(23, 25, 466),
    doc="Source vocabulary Jaccard (#466): |V₁∩V₂|/|V₁∪V₂| between "
    "source vocabularies, graded as the 15 most-overlapping pairs — "
    "the corpus-curation redundancy lens at the SOURCE grain "
    "(near-dup dedup #70 works doc-by-doc; mirror/scrape-of-a-"
    "scrape sources show up HERE first, before any pair of docs "
    "matches). Parity: vocabularies and intersections are exact "
    "integer counts (the word join fans out by per-word source "
    "count, bounded by |sources|); Jaccard is one IEEE division "
    "ROUND(12)-pinned; the (score desc, pair) order is total. "
    "Scale: distinct (source, word) census, then a self-join on "
    "word whose fan-out is ≤|sources| per word; top-15 is "
    "TakeOrderedAndProject.",
    bench=False,
)
def q_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
        .localCheckpoint()
    )
    vs = vocab.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.w") == F.col("a.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    va = vs.select(F.col("source").alias("s1"), F.col("v").alias("v1"))
    vb = vs.select(F.col("source").alias("s2"), F.col("v").alias("v2"))
    jac = F.round(
        F.col("i").cast("double") / (F.col("v1") + F.col("v2") - F.col("i")), 12
    )
    return (
        inter.join(F.broadcast(va), "s1")
        .join(F.broadcast(vb), "s2")
        .select(
            "s1",
            "s2",
            F.col("i").alias("n_common"),
            "v1",
            "v2",
            jac.alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# #467 gesd_outliers — generalized ESD multi-outlier election
# ---------------------------------------------------------------------------

_GESD_K = 3


def _gesd_oracle() -> str:
    # Unrolled rounds; each round recomputes moments by SUBTRACTING the
    # already-elected integers from the global sums (exact), then elects
    # the next argmax |y − mean| excluding elected days. Elections live
    # in their own el{i} CTEs (ORDER BY + LIMIT cannot sit beside a
    # UNION); each el{i} is referenced a bounded number of times, so
    # DuckDB's CTE inlining stays polynomial over 3 rounds.
    #
    # Moment updates stay in INTEGER LIMB space end-to-end (round-9
    # advice): the y² sum is carried as (syyh, syyl) BIGINT limbs and
    # the elected y² limbs are subtracted as integers, so the batch
    # subtraction here and Spark's sequential per-election subtraction
    # produce the SAME integers; only the final 2-op double conversion
    # syyh*1e9 + syyl (one shared IEEE tree per round) touches floats —
    # no association-order ulp drift at any scale.
    parts = [
        """
        daily AS (
            SELECT CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS d,
                   CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM((y * y) // 1000000000) AS BIGINT) AS syyh,
                   CAST(SUM((y * y) % 1000000000) AS BIGINT) AS syyl
            FROM daily
        )"""
    ]
    for i in range(1, _GESD_K + 1):
        if i == 1:
            mo_cte = """
        mo1 AS (SELECT n, sy, syyh, syyl FROM mo),"""
            excl = ""
        else:
            prior = " UNION ALL ".join(
                f"SELECT d, y FROM el{k}" for k in range(1, i)
            )
            mo_cte = f"""
        rm{i} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(y) AS BIGINT) AS sy_ex,
                   CAST(SUM((y * y) // 1000000000) AS BIGINT) AS syyh_ex,
                   CAST(SUM((y * y) % 1000000000) AS BIGINT) AS syyl_ex
            FROM ({prior})
        ),
        mo{i} AS (
            SELECT mo.n - rm{i}.c AS n,
                   mo.sy - rm{i}.sy_ex AS sy,
                   mo.syyh - rm{i}.syyh_ex AS syyh,
                   mo.syyl - rm{i}.syyl_ex AS syyl
            FROM mo, rm{i}
        ),"""
            excl = (
                "WHERE d.d NOT IN ("
                + " UNION ALL ".join(
                    f"SELECT d FROM el{k}" for k in range(1, i)
                )
                + ")"
            )
        parts.append(
            f"""{mo_cte}
        par{i} AS (
            SELECT n, CAST(sy AS DOUBLE) / n AS m,
                   SQRT(((CAST(syyh AS DOUBLE) * 1e9 + syyl)
                         - CAST(sy AS DOUBLE) * sy / n) / (n - 1)) AS s
            FROM mo{i}
        ),
        el{i} AS (
            SELECT {i} AS round, d.d, d.y,
                   ROUND(ABS(CAST(d.y AS DOUBLE) - p.m) / p.s, 9) AS r_stat
            FROM daily d, par{i} p
            {excl}
            ORDER BY ABS(CAST(d.y AS DOUBLE) - p.m) DESC, d.d
            LIMIT 1
        )"""
        )
    steps = ",".join(parts)
    union = " UNION ALL ".join(
        f"SELECT * FROM el{i}" for i in range(1, _GESD_K + 1)
    )
    return f"""
        WITH {steps}
        SELECT round, d AS outlier_day, y AS outlier_value, r_stat
        FROM ({union}) ORDER BY round
    """


@query(
    "q_gesd_outliers",
    oracle=_gesd_oracle(),
    operators=(24, 43, 467),
    doc=f"Generalized ESD (#467), {_GESD_K} unrolled rounds: elect up "
    "to k outliers by repeatedly removing the most extreme day and "
    "RECOMPUTING mean/sd without it — the masking-proof extension "
    "of Grubbs (#458), whose single test a second outlier can hide "
    "(two extreme days inflate s enough to shield each other; "
    "re-estimation unmasks them). Graded as the per-round election "
    "table (day, value, R-statistic). Parity: each round's moments "
    "come from SUBTRACTING the elected integers from the global "
    "BIGINT sums (y² limbs) — exact at every round, no re-scan "
    "drift; elections order by a deterministic double with day "
    "tiebreak. The oracle unrolls single-reference CTE chains. "
    "Scale: one day census; each round is a 1-row moment update + "
    "a TakeOrdered election over the census.",
    bench=False,
)
def q_gesd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .localCheckpoint()
    )
    mo = daily.select("y", (F.col("y") * F.col("y")).alias("y2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("y2 div 1000000000")).cast("bigint").alias("syyh"),
        F.sum(F.expr("y2 % 1000000000")).cast("bigint").alias("syyl"),
    )
    # Moments carried as exact BIGINT limbs (n, sy, syyh, syyl); only
    # par's 2-op conversion syyh*1e9 + syyl touches doubles (matches
    # the oracle's par{i} tree bit-for-bit at any scale).
    base = mo.select("n", "sy", "syyh", "syyl")
    elected = []  # list of single-row DataFrames (round, d, y, r_stat)
    pool = daily
    cur = base
    for i in range(1, _GESD_K + 1):
        par = cur.select(
            "n",
            (F.col("sy").cast("double") / F.col("n")).alias("m"),
            F.sqrt(
                (
                    (F.col("syyh").cast("double") * 1e9 + F.col("syyl"))
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("s"),
        )
        ex = (
            pool.crossJoin(F.broadcast(par))
            .select(
                F.lit(i).alias("round"),
                "d",
                "y",
                F.round(
                    F.abs(F.col("y").cast("double") - F.col("m")) / F.col("s"), 9
                ).alias("r_stat"),
                F.abs(F.col("y").cast("double") - F.col("m")).alias("adev"),
            )
            .orderBy(F.desc("adev"), "d")
            .limit(1)
            .drop("adev")
            .localCheckpoint(eager=True)
        )
        elected.append(ex)
        pool = pool.join(ex.select("d"), "d", "left_anti")
        cur = (
            cur.crossJoin(F.broadcast(ex.select(F.col("y").alias("ey"))))
            .select(
                (F.col("n") - 1).alias("n"),
                (F.col("sy") - F.col("ey")).alias("sy"),
                (
                    F.col("syyh") - F.expr("(ey * ey) div 1000000000")
                ).alias("syyh"),
                (
                    F.col("syyl") - F.expr("(ey * ey) % 1000000000")
                ).alias("syyl"),
            )
        )
    out = elected[0]
    for ex in elected[1:]:
        out = out.unionAll(ex)
    return out.select(
        "round",
        F.col("d").alias("outlier_day"),
        F.col("y").alias("outlier_value"),
        "r_stat",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# #468 selection_stability — chi2 top-k reproducibility across half-splits
# ---------------------------------------------------------------------------

_SS_K = 20


@query(
    "q_selection_stability",
    oracle=f"""
        WITH halves AS (
            SELECT doc_id, text,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   CAST(('0x' || SUBSTR(MD5('split:'
                        || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 2
                       AS h
            FROM documents
        ),
        docs AS (
            SELECT h, CAST(SUM(y) AS BIGINT) AS n_pos,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
            FROM halves GROUP BY h
        ),
        feat AS (
            SELECT h, w,
                   CAST(SUM(y) AS BIGINT) AS df_pos,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS df_neg
            FROM (
                SELECT DISTINCT hv.h, hv.doc_id, hv.y, t.w
                FROM halves hv,
                     UNNEST(STRING_SPLIT(hv.text, ' ')) AS t(w)
                WHERE LENGTH(t.w) > 0
            )
            GROUP BY h, w
        ),
        chi AS (
            SELECT f.h, f.w,
                   ROUND(
                     CAST(d.n_pos + d.n_neg AS DOUBLE)
                     * (CAST(f.df_pos AS DOUBLE) * (d.n_neg - f.df_neg)
                        - CAST(f.df_neg AS DOUBLE) * (d.n_pos - f.df_pos))
                     * (CAST(f.df_pos AS DOUBLE) * (d.n_neg - f.df_neg)
                        - CAST(f.df_neg AS DOUBLE) * (d.n_pos - f.df_pos))
                     / (CAST(f.df_pos + f.df_neg AS DOUBLE)
                        * (d.n_pos + d.n_neg - f.df_pos - f.df_neg)
                        * d.n_pos * d.n_neg), 9) AS x2
            FROM feat f JOIN docs d ON d.h = f.h
        ),
        topk AS (
            SELECT h, w FROM (
                SELECT h, w,
                       ROW_NUMBER() OVER (PARTITION BY h
                                          ORDER BY x2 DESC, w) AS rk
                FROM chi
            ) WHERE rk <= {_SS_K}
        ),
        ov AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM topk a JOIN topk b
              ON b.w = a.w AND a.h = 0 AND b.h = 1
        )
        SELECT {_SS_K} AS k,
               (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM chi)
                   AS n_features,
               n_overlap,
               ROUND(CAST(n_overlap AS DOUBLE) / (2 * {_SS_K} - n_overlap), 9)
                   AS jaccard_stability
        FROM ov
    """,
    operators=(23, 43, 280, 468),
    doc=f"Feature-selection stability (#468): run the #280 chi² "
    f"document-frequency screen independently on two md5 half-splits "
    f"and grade the top-{_SS_K} overlap as Jaccard — IS the selected "
    "feature list reproducible, the stability-selection question "
    "(Meinshausen-Bühlmann) that a single chi² ranking (#280) "
    "cannot answer about itself; an unstable list means the "
    "downstream model is fitting split noise. Parity: the split is "
    "the md5 idiom, per-half 2×2 document-frequency cells are exact "
    "integers, chi² is one ROUND(9)-pinned IEEE tree, and the "
    "per-half top-k election orders by (rounded χ², word) — total. "
    "Scale: one distinct (doc, word) incidence census, two "
    "broadcast-size top-k elections; the overlap join is k×k.",
    bench=False,
)
def q_selection_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_df = load_table(spark, sf_dir, "documents")
    halves = docs_df.select(
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("split:"), F.col("doc_id").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("h"),
    )
    docs = halves.groupBy("h").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    feat = (
        halves.select(
            "h", "doc_id", "y", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.length("w") > 0)
        .distinct()
        .groupBy("h", "w")
        .agg(
            F.sum("y").cast("bigint").alias("df_pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("df_neg"),
        )
    )
    d = F.col("n_pos") + F.col("n_neg")
    num = F.col("df_pos").cast("double") * (
        F.col("n_neg") - F.col("df_neg")
    ) - F.col("df_neg").cast("double") * (F.col("n_pos") - F.col("df_pos"))
    chi = feat.join(F.broadcast(docs), "h").select(
        "h",
        "w",
        F.round(
            d.cast("double")
            * num
            * num
            / (
                (F.col("df_pos") + F.col("df_neg")).cast("double")
                * (d - F.col("df_pos") - F.col("df_neg"))
                * F.col("n_pos")
                * F.col("n_neg")
            ),
            9,
        ).alias("x2"),
    ).localCheckpoint()
    w_rk = Window.partitionBy("h").orderBy(F.desc("x2"), "w")
    topk = (
        chi.select("h", "w", F.row_number().over(w_rk).alias("rk"))
        .filter(F.col("rk") <= _SS_K)
        .select("h", "w")
    )
    t0 = topk.filter(F.col("h") == 0).select("w")
    t1 = topk.filter(F.col("h") == 1).select("w")
    ov = t0.join(t1, "w").agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    nf = chi.agg(F.countDistinct("w").cast("bigint").alias("n_features"))
    return (
        ov.crossJoin(F.broadcast(nf))
        .select(
            F.lit(_SS_K).alias("k"),
            "n_features",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double")
                / (2 * _SS_K - F.col("n_overlap")),
                9,
            ).alias("jaccard_stability"),
        )
    )
