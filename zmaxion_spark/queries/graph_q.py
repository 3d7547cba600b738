"""Graph-analytics operators (SURVEY §2.15, #152–#153).

Graphs derived from the warehouse itself: the co-purchase part graph
(parts bought together in ≥2 orders — the "frequently bought
together" graph) for triangle counting, and the nation-level trade
graph (customer nation → supplier nation, lineitem-weighted) for a
fixed-iteration PageRank, and the sparsified supplier co-supply graph
(suppliers sharing a part) for bounded-hop BFS and label propagation.

All are oracle-paired EXACTLY — including PageRank, an iterative
algorithm: every per-edge contribution is an identical IEEE
expression over identical operands on both engines, and every
per-node reduction sums through DECIMAL(38,18), so the ranks stay
bit-identical through all iterations (the same order-independence
discipline as helpers.dsum, at rank precision).

Scale themes at 100 TB:
- graph DERIVATION is the heavy stage (per-order pair fan-out,
  4-table star join) and partial-aggregates before its shuffles; the
  iterative stages then run on the aggregated edge list;
- triangle counting orients edges (u < v) so each triangle is
  counted once, and the wedge join shuffles only (u, v, w) id
  triples — degree-ordered orientation is the standard upgrade when
  hub nodes appear;
- PageRank's per-iteration shuffle is one groupBy(dst); at web
  scale, pre-partition edges by dst so every iteration reuses the
  same partitioning, and localCheckpoint every few iterations to
  truncate lineage;
- bounded-hop BFS (#206) is min-plus relaxation: each round keeps
  MIN(d) per node, and min is associative, so the rounds need no
  shuffle or checkpoint between them. All hops compile into one
  whole-stage-codegen stage over one broadcast of the edge list,
  which bounds the shape: ~57 B per edge in the broadcast hash
  relation, so Spark's 8 GB broadcast cap is reached at ~150M edges;
- label propagation (#211) is a majority vote per round, which is
  not associative, so its rounds cannot be folded the same way and
  keep one checkpoint each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered co-purchase part pairs (u < v) with support counts.

    One groupBy(l_orderkey) + sorted-basket pair expansion replaces
    the previous DISTINCT + per-order self-join: collect_set subsumes
    the distinct (one shuffle instead of three), and pair generation
    is whole-stage-codegen fan-out bounded by basket size — the
    self-join's build-side hash table over the full (order, part)
    incidence was the sf100 memory-pressure site (SCALE.md round-5
    smoke: GC-locker retries at 600M lineitem). Output is identical:
    each order contributes each unordered part pair once, oriented
    u < v by the sorted basket array.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.posexplode("ps").alias("i", "u"), F.col("ps"))
        .select("u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges: part pairs co-ordered >= 2 times."""
    return (
        _copurchase_pairs(spark, sf_dir)
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )


# ---------------------------------------------------------------------------
# #152 triangle_count — co-purchase graph cohesion
# ---------------------------------------------------------------------------

_SQL_COPURCHASE_EDGES = """
        items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
               FROM items a JOIN items b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2),
        e AS (SELECT u, v FROM pr WHERE c >= 2)
"""


@query(
    "q_triangle_count",
    oracle=f"""
        WITH {_SQL_COPURCHASE_EDGES},
        deg AS (SELECT node, COUNT(*) AS d
                FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                GROUP BY node),
        wdg AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
                FROM deg),
        tri AS (SELECT COUNT(*) AS n_triangles
                FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        ne AS (SELECT COUNT(*) AS n_edges FROM e)
        SELECT n_edges, n_wedges, n_triangles,
               CAST(3 * n_triangles AS DOUBLE) / n_wedges AS global_cc
        FROM ne, wdg, tri
    """,
    operators=(23, 13, 152),
    doc="Triangle counting (#152) on the co-purchase part graph "
    "(parts co-ordered ≥2 times): edges, wedges Σ C(deg,2), closed "
    "triangles via the oriented wedge join, and the global clustering "
    "coefficient 3·T/W. Orientation u<v counts each triangle exactly "
    "once and caps wedge fan-out at out-degree; every stage shuffles "
    "only id pairs/triples, with the edge derivation's per-order "
    "fan-out bounded by basket size. At web scale, re-orient by "
    "(degree, id) instead of raw id so hub vertices land on the "
    "low-fan-out side of the wedge join.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Five consumer subtrees (deg x2 via the union, e1/e2 of the wedge
    # join, e3 semi, ne) launch as concurrent stages of one job; with a
    # lazy edge plan each re-runs the post-exchange aggregate+filter of
    # the pair derivation. Materialize the (support-pruned, id-pair)
    # edge list once up front (guide §2.4: share one exchange).
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wdg = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        ne.crossJoin(wdg)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            ((3 * F.col("n_triangles")).cast("double") / F.col("n_wedges")).alias(
                "global_cc"
            ),
        )
    )


# ---------------------------------------------------------------------------
# #153 pagerank_fixed — nation trade graph, 3 exact iterations
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_DEC = "decimal(38,18)"

# One PageRank step as SQL, parameterized on the previous rank CTE.
_SQL_PR_STEP = """
        {next} AS (
            SELECT nd.node,
                   ROUND(CAST(0.15 AS DOUBLE) / n.n
                         + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)),
                         12) AS rank
            FROM nodes nd
            CROSS JOIN n
            LEFT JOIN (
                SELECT e.dst,
                       CAST(SUM(CAST(r.rank * (e.w / o.w_out)
                                     AS DECIMAL(38,18))) AS DOUBLE) AS s
                FROM e
                JOIN {prev} r ON r.node = e.src
                JOIN outw o ON o.src = e.src
                GROUP BY e.dst
            ) c ON c.dst = nd.node
        )
"""


def _pr_oracle() -> str:
    steps = ",".join(
        _SQL_PR_STEP.format(prev=f"r{i}", next=f"r{i + 1}")
        for i in range(_PR_ITERS)
    )
    return f"""
        WITH e AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ),
        nodes AS (SELECT DISTINCT node
                  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        n AS (SELECT COUNT(*) AS n FROM nodes),
        outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS w_out FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.n AS rank
               FROM nodes CROSS JOIN n),
        {steps}
        SELECT node, rank FROM r{_PR_ITERS}
    """


@query(
    "q_pagerank_nations",
    oracle=_pr_oracle(),
    operators=(13, 23, 153),
    doc=f"PageRank (#153), {_PR_ITERS} exact iterations over the "
    "nation-level trade graph (customer nation → supplier nation, "
    "lineitem-weighted). The graph derivation is the 100 TB stage — a "
    "4-table star join partial-aggregated down to O(nations²) edges — "
    "while each iteration is one contribution join + one groupBy(dst). "
    "The oracle UNROLLS the iterations as chained CTEs and matches "
    "hash-exactly: per-edge contributions rank·(w/w_out) are identical "
    "IEEE trees, per-node sums go through DECIMAL(38,18) for order "
    "independence, and each iteration's rank is quantized to a 1e-12 "
    "grid (ROUND 12) — the quantization re-synchronizes the one-ulp "
    "divergence the engines' double→decimal conversions can introduce "
    "at scale 18, so the rank vector is bit-identical after EVERY "
    "iteration, not just approximately at the end. Dangling-mass "
    "redistribution is omitted identically on both sides (every "
    "nation has out-edges here).",
)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    # Loop invariants are materialized ONCE via eager localCheckpoint
    # (the _sparse_cosupply_edges discipline): without it, every
    # unrolled iteration replays the 4-table star join that derives the
    # edge list — measured as 88 scans / 43 exchanges in the r03 plan
    # audit. Rank quantization (ROUND 12 each step) makes the result
    # checkpoint-invariant.
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("w_out")).localCheckpoint()
    r = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(outw, "src")
            .select(
                "dst",
                (F.col("rank") * (F.col("w") / F.col("w_out"))).alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("contrib").cast(_PR_DEC)).cast("double").alias("s"))
        )
        r = (
            nodes.crossJoin(F.broadcast(n))
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(0.15).cast("double") / F.col("n")
                    + F.lit(0.85).cast("double")
                    * F.coalesce(F.col("s"), F.lit(0.0).cast("double")),
                    12,
                ).alias("rank"),
            )
        )
    return r


# ---------------------------------------------------------------------------
# #206 bounded-hop BFS shortest path over a data-derived sparse graph
# ---------------------------------------------------------------------------

_BFS_HOPS = 5
_BFS_SRC = 0


def _sparse_cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric sparsified supplier co-supply edge list (suppliers
    sharing a part, near-neighbor ids only so the graph has real
    diameter), materialized ONCE via eager localCheckpoint: iterative
    consumers (#206 BFS, #211 label propagation) would otherwise
    recompute the lineitem self-join that derives it every round."""
    # Pin the self-join parallelism: AQE coalesces the p-exchange by its
    # INPUT bytes (~5 MB) while the band-join's fan-out OUTPUT is much
    # larger — measured 2.1 s execRun on 5 post-coalesce tasks with the
    # rest of the cores idle. A user repartition (AQE-coalescing-exempt,
    # target derived from defaultParallelism) feeds both aliases via one
    # reused exchange (guide §2.5).
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "p")
    )
    a, b = ps.alias("a"), ps.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("b.s") - F.col("a.s")).between(1, 3),
        )
        .select(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
        .distinct()
    )
    # half is oriented src < dst, so it and its mirror are disjoint.
    return half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()



@query(
    "q_shortest_path",
    oracle=f"""
        WITH RECURSIVE ps AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        half AS (
            SELECT DISTINCT a.s AS src, b.s AS dst
            FROM ps a JOIN ps b ON a.p = b.p AND b.s - a.s BETWEEN 1 AND 3
        ),
        e AS (
            SELECT src, dst FROM half
            UNION SELECT dst AS src, src AS dst FROM half
        ),
        walk(node, d) AS (
            SELECT {_BFS_SRC}, 0
            UNION
            SELECT e.dst, w.d + 1
            FROM walk w JOIN e ON e.src = w.node
            WHERE w.d < {_BFS_HOPS}
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(MIN(d) AS BIGINT) AS dist
        FROM walk GROUP BY node
    """,
    operators=(104, 206),
    doc=f"Bounded-hop BFS shortest path (#206): the supplier co-supply "
    "graph (suppliers sharing a part, sparsified to near-neighbor ids "
    "so the graph has real diameter) is searched from supplier "
    f"{_BFS_SRC} for {_BFS_HOPS} hops as bounded min-plus relaxation: "
    "each round left-joins the distance table to the broadcast edge "
    "list, emits every node's own distance plus d+1 for each neighbor, "
    "and keeps MIN(d) per node. min is associative, so the rounds fold "
    "into ONE whole-stage-codegen stage over one broadcast of the "
    "edge list that every hop reuses: no per-hop shuffle, checkpoint "
    "or job, and nodes unreachable in k hops are simply absent "
    "(identical in both engines). Scale bound: the edge list (at most "
    "6 edges per supplier) is broadcast once, at ~57 B per edge in the "
    "hash relation, so it stops fitting Spark's 8 GB broadcast cap at "
    "~150M edges (~25M suppliers, about SF 2,500), and every executor "
    "holds a copy; past that the rounds need a shuffle join per hop. "
    "Oracle: DuckDB recursive CTE with UNION dedup, MIN(d) per node.",
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _min_plus_hops(
        _sparse_cosupply_edges(spark, sf_dir), _BFS_SRC, _BFS_HOPS
    )


def _min_plus_hops(e: DataFrame, src: int, hops: int) -> DataFrame:
    """``(node, dist)`` for every node within ``hops`` edges of ``src``
    over the edge list ``e(src, dst)``, dist = fewest edges.

    Each round reads the previous one once, so the plan grows linearly.
    The seed row sits on one partition, which every later operator
    keeps (the broadcast join and explode, and an aggregate that needs
    no exchange on one partition), so all rounds compile into one
    stage; the broadcast exchange is built once and reused by the
    other rounds. The reached set is processed by one task, which
    suits a hop bound that reaches a small part of the graph."""
    edges = F.broadcast(
        e.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    )
    # The seed node is the range's id column, not a literal: a literal
    # key lets the optimizer fold the first join into a nested-loop
    # join over its own, filtered broadcast of the edges.
    dist = e.sparkSession.range(src, src + 1, numPartitions=1).select(
        F.col("id").alias("node"), F.lit(0).cast("long").alias("d")
    )
    for _ in range(hops):
        # A node without out-edges keeps its own row through the left
        # join; its (NULL, d + 1) candidate is dropped below.
        dist = (
            dist.join(edges, dist.node == edges.src, "left")
            .select(
                F.explode(
                    F.array(
                        F.struct("node", "d"),
                        F.struct(
                            F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
                        ),
                    )
                ).alias("c")
            )
            .select("c.node", "c.d")
            .filter(F.col("node").isNotNull())
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return dist.select("node", F.col("d").alias("dist"))


# ---------------------------------------------------------------------------
# #211 semi-supervised label propagation (community / category spreading)
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3

_LP_EDGE_SQL = """
        ps AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        half AS (
            SELECT DISTINCT a.s AS src, b.s AS dst
            FROM ps a JOIN ps b ON a.p = b.p AND b.s - a.s BETWEEN 1 AND 3
        ),
        e AS (
            SELECT src, dst FROM half
            UNION SELECT dst AS src, src AS dst FROM half
        )"""


def _lp_oracle() -> str:
    rounds = []
    for t in range(1, _LP_ROUNDS + 1):
        rounds.append(f"""
        n{t} AS (
            SELECT e.dst AS node, l.label, COUNT(*) AS c
            FROM l{t - 1} l JOIN e ON e.src = l.node
            WHERE NOT EXISTS (SELECT 1 FROM l{t - 1} x WHERE x.node = e.dst)
            GROUP BY 1, 2
        ),
        p{t} AS (
            SELECT node, label, {t} AS r FROM n{t}
            QUALIFY ROW_NUMBER() OVER (PARTITION BY node
                                       ORDER BY c DESC, label) = 1
        ),
        l{t} AS (SELECT * FROM l{t - 1} UNION ALL SELECT * FROM p{t})""")
    return f"""
        WITH {_LP_EDGE_SQL},
        l0 AS (
            SELECT s_suppkey AS node, s_nationkey AS label, 0 AS r
            FROM supplier WHERE s_suppkey % 10 = 0
        ),{",".join(rounds)}
        SELECT node, label, CAST(r AS INT) AS labeled_round
        FROM l{_LP_ROUNDS}
    """


@query(
    "q_label_propagation",
    oracle=_lp_oracle(),
    operators=(206, 211),
    doc=f"Semi-supervised label propagation (#211): every 10th supplier "
    f"is seeded with its nation as a label; for {_LP_ROUNDS} synchronous "
    "rounds each unlabeled node adopts the majority label among its "
    "already-labeled co-supply neighbors (ties -> smallest label — the "
    "deterministic tiebreak that makes the run engine-reproducible). "
    "The category-spreading / community-bootstrap primitive. Scale "
    "shape: per round ONE equi-join of the labeled frontier against "
    "the edge list + one (node,label) count aggregate + one window "
    "argmax — all shuffles keyed on node ids, state is one row per "
    "labeled node, and the edge list is materialized once. Oracle: "
    "the rounds unrolled as chained CTEs.",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _sparse_cosupply_edges(spark, sf_dir)
    lab = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(
            F.col("s_suppkey").alias("node"),
            F.col("s_nationkey").alias("label"),
            F.lit(0).cast("int").alias("labeled_round"),
        )
    )
    wpick = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
    # Unlike #206's min, a majority vote is not associative: a round
    # needs the complete label counts of the round before, so the rounds
    # cannot fold into one stage. Measured and rejected on sf0.01
    # (tools/ab.py, min of 5-8, 4 cores): dropping the per-round
    # checkpoint (25 -> 19 jobs, but 1.39 -> 1.99 s as the plan
    # re-derives every earlier round); edges repartitioned by dst
    # (1.56 s, no gain); deriving the edges with one collect_set
    # shuffle per part (1.51 vs 1.43 s over 8 cycles, no gain).
    for t in range(1, _LP_ROUNDS + 1):
        counts = (
            e.join(lab.select(F.col("node").alias("src"), "label"), "src")
            .select(F.col("dst").alias("node"), "label")
            .join(lab.select("node"), "node", "left_anti")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = (
            counts.withColumn("pk", F.row_number().over(wpick))
            .filter(F.col("pk") == 1)
            .select("node", "label", F.lit(t).cast("int").alias("labeled_round"))
        )
        lab = lab.unionByName(pick).localCheckpoint()
    return lab


# ---------------------------------------------------------------------------
# #270 graph_2hop_agg — two-hop neighborhood feature aggregation
# ---------------------------------------------------------------------------


@query(
    "q_graph_2hop",
    oracle="""
        WITH edge AS (
            SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        anchors AS (SELECT cust, supp FROM edge WHERE cust % 50 = 0),
        hop1 AS (
            SELECT cust, COUNT(*) AS n_suppliers FROM anchors GROUP BY cust
        ),
        hop2 AS (
            SELECT a.cust,
                   COUNT(DISTINCT e.cust) - 1 AS n_cocustomers
            FROM anchors a JOIN edge e ON e.supp = a.supp
            GROUP BY a.cust
        )
        SELECT h1.cust AS custkey,
               CAST(h1.n_suppliers AS BIGINT) AS n_suppliers,
               CAST(h2.n_cocustomers AS BIGINT) AS n_cocustomers
        FROM hop1 h1 JOIN hop2 h2 ON h1.cust = h2.cust
    """,
    operators=(13, 25, 270),
    doc="Two-hop neighborhood aggregation (#270), the fraud/risk "
    "feature-engineering staple: over the customer–supplier bipartite "
    "graph derived from orders x lineitem, each anchor customer gets "
    "its 1-hop degree (distinct suppliers) and its 2-hop reach "
    "(distinct OTHER customers sharing any supplier — the 'how "
    "connected is this entity's neighborhood' signal). Distinct-"
    "collapsing the edge list FIRST bounds every later join by the "
    "graph's true edge count, not the lineitem multiplicity; the "
    "2-hop expansion joins anchors (a pruned subset) against the "
    "supplier-keyed edge list, so the shuffle carries (supp, cust) "
    "pairs — the classic neighborhood-explosion guard is anchoring, "
    "not global n^2. At 100 TB: edges bucket by supp; skewed "
    "super-node suppliers would salt (#84's machinery).",
)
def q_graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), "o_orderkey"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_suppkey").alias("supp")
    )
    edge = o.join(l, "o_orderkey").select("cust", "supp").distinct().localCheckpoint(
        eager=True
    )
    anchors = edge.filter(F.col("cust") % 50 == 0)
    hop1 = anchors.groupBy("cust").agg(F.count(F.lit(1)).alias("n_suppliers"))
    # The 2-hop join's OUTPUT is ~10x its input (anchor x co-customer
    # fan-out), but AQE coalesces the supp exchanges by their INPUT
    # bytes — measured: the join + countDistinct partial agg ran on 4
    # post-coalesce partitions while 28 cores idled. Pin the join
    # parallelism explicitly (user repartition is exempt from AQE
    # coalescing); derived from defaultParallelism, not a constant.
    par = spark.sparkContext.defaultParallelism
    hop2 = (
        anchors.repartition(par, "supp")
        .join(
            edge.select(F.col("cust").alias("ocust"), "supp").repartition(
                par, "supp"
            ),
            "supp",
        )
        .groupBy("cust")
        .agg((F.countDistinct("ocust") - 1).alias("n_cocustomers"))
    )
    return hop1.join(hop2, "cust").select(
        F.col("cust").alias("custkey"),
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        F.col("n_cocustomers").cast("bigint").alias("n_cocustomers"),
    )


# ---------------------------------------------------------------------------
# #282 k-core decomposition (bounded peel rounds + convergence flag)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 5


def _kcore_sql() -> str:
    """Unrolled peel: per round, degrees over surviving edges, drop
    nodes with degree < K, drop incident edges; census per round."""
    parts = [f"WITH {_SQL_COPURCHASE_EDGES}, e0 AS MATERIALIZED (SELECT u, v FROM e)"]
    sel = []
    for r in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(f"""
        d{r} AS MATERIALIZED (
            SELECT node, CAST(SUM(c) AS BIGINT) AS deg FROM (
                SELECT u AS node, COUNT(*) AS c FROM {prev} GROUP BY u
                UNION ALL
                SELECT v AS node, COUNT(*) AS c FROM {prev} GROUP BY v
            ) GROUP BY node
        ),
        k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
        e{r} AS MATERIALIZED (
            SELECT p.u, p.v FROM {prev} p
            JOIN k{r} a ON a.node = p.u
            JOIN k{r} b ON b.node = p.v
        )""")
        sel.append(
            f"SELECT {r} AS round,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM k{r}) AS n_nodes,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"
        )
    last, prev = f"e{_KCORE_ROUNDS}", f"e{_KCORE_ROUNDS - 1}"
    return (
        ",".join(parts)
        + ", census AS (" + " UNION ALL ".join(sel) + ")"
        + f""",
        conv AS (
            SELECT CAST(CASE WHEN (SELECT COUNT(*) FROM {last})
                              = (SELECT COUNT(*) FROM {prev})
                        THEN 1 ELSE 0 END AS BIGINT) AS converged
        )
        SELECT census.round, census.n_nodes, census.n_edges, conv.converged
        FROM census, conv"""
    )


@query(
    "q_kcore",
    oracle=_kcore_sql(),
    operators=(13, 23, 282),
    doc=f"k-core decomposition (#282) of the co-purchase graph: "
    f"{_KCORE_ROUNDS} unrolled peel rounds at k={_KCORE_K} — each round "
    "recomputes degrees over surviving edges and drops nodes below k "
    "with their incident edges — emitting the per-round (nodes, edges) "
    "census plus a converged flag (last two edge sets equal). The "
    "dense-subgraph extractor behind community seeds and spam-ring "
    "detection; the census exposes HOW FAST the graph sheds its "
    "periphery, which a single fixpoint answer hides. Bounded rounds "
    "are the house fixpoint discipline (recursion valves, sf10 "
    "lesson); integers end-to-end, trivially hash-exact. Scale: each "
    "round is one degree aggregate + two semi-joins, all partitioned "
    "by node id; the edge frame localCheckpoints per round so lineage "
    "does not replay the peel chain.",
    bench=False,
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)

    censuses = []
    prev_edge_count = edges.count()
    converged = 0
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_nodes, n_edges = keep.count(), edges.count()
        censuses.append((r, n_nodes, n_edges))
        if r == _KCORE_ROUNDS:
            converged = int(n_edges == prev_edge_count)
        prev_edge_count = n_edges
    return spark.createDataFrame(
        [(r, n, m, converged) for r, n, m in censuses],
        "round INT, n_nodes BIGINT, n_edges BIGINT, converged BIGINT",
    )


# ---------------------------------------------------------------------------
# #295 link prediction (common-neighbors / Adamic-Adar / Jaccard)
# ---------------------------------------------------------------------------

_LP_TOPK = 20


@query(
    "q_link_prediction",
    oracle=f"""
        WITH {_SQL_COPURCHASE_EDGES},
        adj AS MATERIALIZED (
            SELECT u AS node, v AS nb FROM e
            UNION ALL SELECT v, u FROM e
        ),
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
        ),
        wedge AS (
            SELECT a1.nb AS u, a2.nb AS v, a1.node AS x
            FROM adj a1 JOIN adj a2
              ON a1.node = a2.node AND a1.nb < a2.nb
        ),
        cand AS (
            SELECT w.u, w.v, w.x FROM wedge w
            WHERE NOT EXISTS (SELECT 1 FROM e
                              WHERE e.u = w.u AND e.v = w.v)
        ),
        sc AS (
            SELECT c.u, c.v,
                   CAST(COUNT(*) AS BIGINT) AS cn,
                   CAST(SUM(CAST(CAST(1 / LN(CAST(dx.d AS DOUBLE))
                                       AS DECIMAL(38,9)) AS DECIMAL(38,9)))
                        AS DOUBLE) AS aa
            FROM cand c JOIN deg dx ON dx.node = c.x
            GROUP BY c.u, c.v
        ),
        j AS (
            SELECT sc.u, sc.v, sc.cn,
                   CAST(CAST(sc.aa AS DECIMAL(38,9)) AS DOUBLE) AS aa,
                   CAST(CAST(CAST(sc.cn AS DOUBLE)
                             / (du.d + dv.d - sc.cn)
                             AS DECIMAL(38,9)) AS DOUBLE) AS jacc
            FROM sc JOIN deg du ON du.node = sc.u
                    JOIN deg dv ON dv.node = sc.v
        )
        SELECT u, v, cn, aa, jacc, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY cn DESC, aa DESC, u, v) AS rnk
            FROM j
        ) WHERE rnk <= {_LP_TOPK}
    """,
    operators=(10, 13, 23, 295),
    doc="Link prediction (#295) on the co-purchase graph, the "
    "recommender/fraud primitive beside the 2-hop features (#270): "
    "for every NON-adjacent pair sharing at least one neighbor, the "
    "three classic scores — common-neighbor count, Adamic-Adar "
    "Σ 1/ln(deg(x)) (rare shared neighbors are more informative than "
    "hubs — the reason CN alone over-ranks popular nodes), and "
    "Jaccard cn/(du+dv−cn) — ranked (cn DESC, aa DESC, pair). "
    "Candidates come from the oriented wedge join (nb < nb caps "
    "fan-out; wedge centers always have deg ≥ 2 so ln is never 0), "
    "non-edges via anti-join. AA terms are 1/ln doubles quantized at "
    "1e-9 before the exact decimal sum (order-independent); Jaccard "
    "is one quantized division of exact integers. Scale: adjacency "
    "and wedges shuffle only id pairs; hub wedge fan-out is the "
    "triangle-count story — re-orient by (degree, id) so hubs sit on "
    "the low-fan-out side.",
    bench=False,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=True
    )  # adjacency, wedges, and anti-join reuse it
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedge = a1.join(
        a2,
        (F.col("a1.node") == F.col("a2.node"))
        & (F.col("a1.nb") < F.col("a2.nb")),
    ).select(
        F.col("a1.nb").alias("u"), F.col("a2.nb").alias("v"),
        F.col("a1.node").alias("x"),
    )
    cand = wedge.join(e, ["u", "v"], "left_anti")
    term = (1 / F.log(F.col("d").cast("double"))).cast("decimal(38,9)")
    sc = (
        cand.join(deg.withColumnRenamed("node", "x"), "x")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(term).cast("double").alias("aa_raw"),
        )
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = (
        sc.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.col("aa_raw").cast("decimal(38,9)").cast("double").alias("aa"),
            (
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn"))
            )
            .cast("decimal(38,9)")
            .cast("double")
            .alias("jacc"),
        )
    )
    # TakeOrdered top-k first; the rank window then runs on k rows
    # (a global row_number over ALL candidate pairs would funnel the
    # whole wedge-join output through one partition).
    top = j.orderBy(F.desc("cn"), F.desc("aa"), "u", "v").limit(_LP_TOPK)
    w = Window.orderBy(F.desc("cn"), F.desc("aa"), "u", "v")
    return top.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).select("u", "v", "cn", "aa", "jacc", "rnk")


# ---------------------------------------------------------------------------
# #302 modularity of an attribute partition (how assortative are brands)
# ---------------------------------------------------------------------------


@query(
    "q_modularity_score",
    oracle=f"""
        WITH {_SQL_COPURCHASE_EDGES},
        lbl AS MATERIALIZED (
            SELECT p_partkey AS node, p_brand AS com FROM part
        ),
        le AS MATERIALIZED (
            SELECT lu.com AS cu, lv.com AS cv
            FROM e JOIN lbl lu ON lu.node = e.u
                   JOIN lbl lv ON lv.node = e.v
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM le),
        inside AS (
            SELECT cu AS com, CAST(COUNT(*) AS BIGINT) AS e_in
            FROM le WHERE cu = cv GROUP BY cu
        ),
        degc AS (
            SELECT com, CAST(SUM(c) AS BIGINT) AS d_c FROM (
                SELECT cu AS com, COUNT(*) AS c FROM le GROUP BY cu
                UNION ALL
                SELECT cv AS com, COUNT(*) AS c FROM le GROUP BY cv
            ) GROUP BY com
        )
        SELECT degc.com, COALESCE(inside.e_in, 0) AS e_in, degc.d_c,
               CAST(CAST(
                   CAST(COALESCE(inside.e_in, 0) AS DOUBLE) / m.m
                   - (CAST(degc.d_c AS DOUBLE) / (2 * m.m))
                     * (CAST(degc.d_c AS DOUBLE) / (2 * m.m))
                   AS DECIMAL(38,9)) AS DOUBLE) AS q_term
        FROM degc LEFT JOIN inside ON inside.com = degc.com
        CROSS JOIN m
    """,
    operators=(14, 23, 302),
    doc="Modularity terms (#302) of the brand partition over the "
    "co-purchase graph: per community c, Q_c = e_c/m − (d_c/2m)² — "
    "the fraction of edges inside c minus what a degree-preserving "
    "random graph would put there; Σ Q_c is Newman modularity, THE "
    "objective community detection (Louvain/Leiden) maximizes and "
    "the natural grader for label-propagation output (#211). Here it "
    "scores an ATTRIBUTE partition — 'are same-brand parts "
    "co-purchased more than chance?' — the assortativity question. "
    "All counts are exact BIGINTs; each term is one identical IEEE "
    "tree quantized at 1e-9. Scale: two label joins shuffle edge ids, "
    "then everything is |communities|-sized cells.",
    bench=False,
)
def q_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    lbl = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("com")
    )
    le = (
        e.join(lbl.withColumnRenamed("node", "u").withColumnRenamed("com", "cu"), "u")
        .join(lbl.withColumnRenamed("node", "v").withColumnRenamed("com", "cv"), "v")
        .select("cu", "cv")
        .localCheckpoint(eager=True)  # three consumers: m, e_in, degrees
    )
    m = le.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    e_in = (
        le.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("com"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    degc = (
        le.select(F.col("cu").alias("com"))
        .unionAll(le.select(F.col("cv").alias("com")))
        .groupBy("com")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    half = F.col("d_c").cast("double") / (2 * F.col("m"))
    return (
        degc.join(e_in, "com", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "com",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("bigint").alias("e_in"),
            "d_c",
            (
                F.coalesce(F.col("e_in"), F.lit(0)).cast("double") / F.col("m")
                - half * half
            )
            .cast("decimal(38,9)")
            .cast("double")
            .alias("q_term"),
        )
    )


# ---------------------------------------------------------------------------
# #313 degree assortativity (do hubs co-purchase with hubs?)
# ---------------------------------------------------------------------------


@query(
    "q_degree_assortativity",
    oracle=f"""
        WITH {_SQL_COPURCHASE_EDGES},
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node
        ),
        de AS (
            SELECT du.d AS x, dv.d AS y
            FROM e JOIN deg du ON du.node = e.u
                   JOIN deg dv ON dv.node = e.v
        ),
        sym AS (
            SELECT x, y FROM de UNION ALL SELECT y, x FROM de
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sx2,
                   CAST(SUM(y * y) AS BIGINT) AS sy2
            FROM sym
        )
        SELECT n // 2 AS n_edges,
               CAST(CAST(
                   (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   / SQRT((n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                          * (n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
                   AS DECIMAL(38,9)) AS DOUBLE) AS assortativity
        FROM s
    """,
    operators=(13, 23, 158, 313),
    doc="Degree assortativity (#313) of the co-purchase graph: the "
    "Pearson correlation of endpoint degrees over the SYMMETRIZED "
    "edge list (each undirected edge contributes both orientations — "
    "the Newman definition; skipping the mirror biases r whenever "
    "the u<v orientation correlates with degree) — positive means "
    "hubs attach to hubs (social networks), negative means "
    "hub-and-spoke (the web, most retail graphs); the one-number "
    "structure summary beside modularity (#302) and clustering "
    "(#152). Degrees and all five moments stay exact BIGINTs (degree "
    "products are tiny); r is one identical IEEE tree quantized at "
    "1e-9. Scale: two degree joins shuffle edge ids; the moment "
    "aggregate is map-side combined.",
    bench=False,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=True
    )  # three consumers: degree census + both endpoint joins
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    de = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "x"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "y"), "v")
        .select("x", "y")
    )
    sym = de.unionAll(de.select(F.col("y").alias("x"), F.col("x").alias("y")))
    s = sym.agg(
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
        F.expr("n div 2").alias("n_edges"),
        (num / den).cast("decimal(38,9)").cast("double").alias("assortativity"),
    )
