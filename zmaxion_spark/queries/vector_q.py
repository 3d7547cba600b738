"""Round-4 second wave: exact set-similarity join + spectral embedding ops.

Three operators the LLM-pipeline family was still missing:

- #258 ``set_sim_join_prefix`` — EXACT Jaccard self-join with PPJoin-
  style prefix filtering: the deterministic counterpart of the
  probabilistic MinHash-LSH path (#70), sharing its shingle domain.
  The DuckDB oracle computes ground truth WITHOUT the prefix filter,
  so the gate hash-proves the filter's completeness, not just the
  arithmetic.
- #259 ``jl_projection`` — Johnson-Lindenstrauss random projection
  (md5-derived ±1 planes, the LSH hyperplane discipline) with a
  per-pair distance-distortion audit.
- #260 ``pca_power`` — top principal component of the embedding
  corpus by power iteration over the hash-exact covariance matrix
  (#217's DECIMAL(38,18) outer-product aggregate), unrolled to a
  fixed round count on both engines.

Reference parity note: /root/reference declares no source (SURVEY §0);
these extend SURVEY §2.21.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.catalog import load_table
from zmaxion_spark.functions import moments as _M
from zmaxion_spark.functions import similarity as S
from zmaxion_spark.functions import text as TX
from zmaxion_spark.queries.registry import query


def _d(col):
    return F.transform(col, lambda x: x.cast("double"))


# ---------------------------------------------------------------------------
# #258 exact set-similarity join with prefix filtering (PPJoin-lite)
# ---------------------------------------------------------------------------

_SSJ_T = 0.6  # Jaccard threshold

_SSJ_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                     FOR i IN RANGE(1, LEN(w) - 1)])) AS t
        FROM words WHERE LEN(w) >= 3
    ),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, i AS inter_sh,
           sa.s AS sz_a, sb.s AS sz_b,
           CAST(i AS DOUBLE) / CAST(sa.s + sb.s - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / CAST(sa.s + sb.s - i AS DOUBLE) >= {_SSJ_T}
"""


@query(
    "q_set_sim_join_prefix",
    oracle=_SSJ_ORACLE,
    operators=(68, 70, 258),
    doc=f"Exact set-similarity self-join (Jaccard >= {_SSJ_T} on distinct "
    "3-token shingles) with PPJoin-style prefix filtering: tokens "
    "ordered globally by ascending document frequency, each set keeps "
    "only its |s| - ceil(t*|s|) + 1 rarest shingles as its prefix, and "
    "candidate pairs come from a prefix-shingle equi-join — if "
    "J(a,b) >= t the prefixes must share a shingle, so the filter is "
    "lossless while pruning the candidate space to the rare-token "
    "buckets. Survivors are verified with an exact integer "
    "intersection. THE ORACLE DOES NOT USE THE FILTER: DuckDB computes "
    "ground truth from the full shingle join, so a hash-exact pass "
    "proves the prefix filter dropped nothing. Scale: the shuffled "
    "candidate stream carries (doc_id, shingle) prefixes only (the "
    "rarest ~40% of each set), bucket sizes are document frequencies "
    "of RARE tokens (small by construction), and verification joins "
    "sorted shingle arrays for candidate pairs only — the exact twin "
    "of what MinHash-LSH (#70) approximates.",
)
def q_set_sim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select("doc_id", TX.shingles(F.split("text", " "), 3).alias("arr"))
        .filter(F.size("arr") >= 1)
        # Referenced by both the candidate pipeline and the verify
        # join — checkpoint so the shingle HOF runs once per doc, not
        # once per consumer (the REGRESSIONS.md loop-invariant rule).
        .localCheckpoint(eager=True)
    )
    sh = base.select("doc_id", F.explode("arr").alias("t"))
    # Global rarity order = (document frequency ASC, shingle ASC); the
    # vocabulary-sized frequency table broadcasts to rank each doc's
    # shingles without a second corpus shuffle.
    freq = sh.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(F.broadcast(freq), "t")
    pos_w = Window.partitionBy("doc_id").orderBy("df", "t")
    sized = ranked.select(
        "doc_id",
        "t",
        F.row_number().over(pos_w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
    )
    prefix = sized.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(_SSJ_T) * F.col("sz")) + 1
    ).select("doc_id", "t", "pos", "sz")
    # PPJoin length + positional filters (guide §3.3, round 12): both
    # are LOSSLESS for J >= t, so with the exact verify step below the
    # output is unchanged — they only shrink the candidate set feeding
    # the (sorted-array) verify join. With t = 3/5 exactly:
    #  - length: J >= t ⟹ min(|a|,|b|) >= t·max(|a|,|b|), integerized
    #    5·min >= 3·max (a pair failing this has J <= min/max < t by
    #    more than any double-division ulp at these set sizes);
    #  - positional: for the FIRST prefix-shared shingle (positions
    #    pa, pb in the global rarity order) no common shingle precedes
    #    it in either set — a common shingle ordered earlier would sit
    #    in both prefixes, contradicting "first" — so the overlap is
    #    bounded by min(|a|-pa, |b|-pb)+1, and J >= t needs overlap
    #    >= t/(1+t)·(|a|+|b|) = 3/8·(|a|+|b|): keep iff 8·ub >= 3·(
    #    |a|+|b|). Applied per matched row; the first-shared-token row
    #    of every true pair passes, and distinct() keeps the pair.
    # Measured: 299,519 → 68,725 candidates, verify join 6.5 → 2.9 s
    # (cold session), output rows identical (256).
    from fractions import Fraction

    _tn, _td = Fraction(str(_SSJ_T)).as_integer_ratio()  # 3, 5 for t=0.6
    _min_sz = F.least(F.col("a.sz"), F.col("b.sz"))
    _max_sz = F.greatest(F.col("a.sz"), F.col("b.sz"))
    _ub = F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")) + 1
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "t")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (_min_sz * _td >= _max_sz * _tn)
            & (_ub * (_tn + _td) >= (F.col("a.sz") + F.col("b.sz")) * _tn)
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    arrs = base.select("doc_id", F.array_sort("arr").alias("sarr"))
    va = arrs.select(F.col("doc_id").alias("id_a"), F.col("sarr").alias("_va"))
    vb = arrs.select(F.col("doc_id").alias("id_b"), F.col("sarr").alias("_vb"))
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_va", "_vb")).alias("inter_sh"),
            F.size("_va").alias("sz_a"),
            F.size("_vb").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter_sh").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter_sh")).cast("double"),
        )
    )
    return verified.filter(F.col("jaccard") >= _SSJ_T)


# ---------------------------------------------------------------------------
# #259 Johnson-Lindenstrauss projection + distortion audit
# ---------------------------------------------------------------------------

_JL_K = 16
_JL_DIM = 64
_JL_SEED = 7
_JL_SCALE = 0.25  # 1/sqrt(16), exact in binary
_JL_PLANES = S.hyperplanes(_JL_K, _JL_DIM, seed=_JL_SEED)


def _sql_plane(plane: list[float]) -> str:
    return "[" + ", ".join(str(v) for v in plane) + "]"


def _sql_signdot(vec: str, plane: list[float]) -> str:
    return (
        f"{_JL_SCALE} * LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE(1, {_JL_DIM + 1}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({_sql_plane(plane)}[i]))), "
        "(acc, x) -> acc + x)"
    )


def _jl_oracle() -> str:
    d2_terms = " + ".join(
        f"(({_sql_signdot('a.embedding', p)}) - ({_sql_signdot('b.embedding', p)}))"
        f" * (({_sql_signdot('a.embedding', p)}) - ({_sql_signdot('b.embedding', p)}))"
        for p in _JL_PLANES
    )
    orig = (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE(1, {_JL_DIM + 1}), "
        "i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))"
        " * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))), "
        "(acc, x) -> acc + x)"
    )
    return f"""
        WITH pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ({orig}) AS orig_d2,
                   ({d2_terms}) AS proj_d2
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        )
        SELECT id_a, id_b,
               CAST(CAST(orig_d2 AS DECIMAL(38,9)) AS DOUBLE) AS orig_d2,
               CAST(CAST(proj_d2 AS DECIMAL(38,9)) AS DOUBLE) AS proj_d2,
               CAST(CAST(proj_d2 / orig_d2 AS DECIMAL(38,9)) AS DOUBLE)
                   AS distortion
        FROM pairs WHERE orig_d2 > 0
    """


@query(
    "q_jl_projection",
    oracle=_jl_oracle(),
    operators=(71, 259),
    doc=f"Johnson-Lindenstrauss random projection: {_JL_DIM}-dim "
    f"embeddings projected to {_JL_K} dims with deterministic "
    "±1/sqrt(k) planes (the md5 hyperplane discipline of the LSH "
    "family, so every engine and executor sees identical planes), then "
    "a distance-distortion audit over consecutive-id pairs: "
    "projected/original squared euclidean distance per pair. Signs are "
    "exact ±1 multiplies and 1/sqrt(16)=0.25 is binary-exact, so both "
    "engines run the identical left-fold IEEE tree and the gate is "
    "hash-exact after DECIMAL(38,9) quantization. Scale: projection is "
    "a row-local expression (no shuffle); the audit pairs join on a "
    "key shifted by one — at 100 TB the projection runs inside the "
    "scan and the pair join shuffles only (id, 16 floats).",
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # One 16x64 literal + a transform over plane indices instead of 16
    # separately-inlined plane expressions (~3k expression nodes): the
    # query was PLANNING-bound (wall 2.6 s with <0.4 s of stage time —
    # guide §7.3). Arithmetic is unchanged: per plane, the same
    # ascending zip_with multiply + left-fold add, so every double is
    # bit-identical.
    planes_lit = F.array(*[F.array(*[F.lit(v) for v in p]) for p in _JL_PLANES])
    vec = _d(F.col("embedding"))
    proj = e.select(
        "vec_id",
        vec.alias("v"),
        F.transform(
            planes_lit,
            lambda plane: F.lit(_JL_SCALE)
            * F.aggregate(
                F.zip_with(vec, plane, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ).alias("p"),
    )
    a = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("p").alias("pa"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("p").alias("pb"),
    )
    j = a.join(b, "id_a")
    orig = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dterms = [
        (F.col("pa")[i] - F.col("pb")[i]) * (F.col("pa")[i] - F.col("pb")[i])
        for i in range(_JL_K)
    ]
    projd2 = reduce(lambda x, y: x + y, dterms)
    out = j.select(
        "id_a",
        "id_b",
        orig.alias("_orig"),
        projd2.alias("_proj"),
    ).filter(F.col("_orig") > 0)

    def r9(c):
        return c.cast("decimal(38,9)").cast("double")

    return out.select(
        "id_a",
        "id_b",
        r9(F.col("_orig")).alias("orig_d2"),
        r9(F.col("_proj")).alias("proj_d2"),
        r9(F.col("_proj") / F.col("_orig")).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# #260 top principal component by power iteration over the graded covariance
# ---------------------------------------------------------------------------

_PCA_T = 8  # power-iteration rounds, unrolled identically on both engines

_PCA_FOLD = (
    "LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
    "LIST_TRANSFORM(RANGE(1, 65), k -> {terms})), (acc, x) -> acc + x)"
)


def _pca_oracle() -> str:
    parts = [
        f"""
        WITH {_M.COV_CELLS_SQL},
        full_m AS (
            SELECT i, j, cov_raw AS c FROM cov
            UNION ALL
            SELECT j AS i, i AS j, cov_raw AS c FROM cov WHERE i < j
        ),
        crows AS MATERIALIZED (
            SELECT i, LIST(c ORDER BY j) AS cl FROM full_m GROUP BY i
        ),
        v0 AS (SELECT LIST_TRANSFORM(RANGE(1, 65),
                                     k -> CAST(1 AS DOUBLE)) AS v)
        """
    ]
    prev = "v0"
    for t in range(1, _PCA_T + 1):
        fold = _PCA_FOLD.format(terms=f"r.cl[k] * {prev}.v[k]")
        parts.append(
            f", w{t} AS MATERIALIZED (SELECT r.i, {fold} AS wi FROM crows r, {prev})"
            f", v{t} AS MATERIALIZED (SELECT LIST_TRANSFORM(l.w, x -> x / mm.m) AS v "
            f"FROM (SELECT LIST(wi ORDER BY i) AS w FROM w{t}) l, "
            f"(SELECT MAX(ABS(wi)) AS m FROM w{t}) mm)"
        )
        prev = f"v{t}"
    last = prev
    foldw = _PCA_FOLD.format(terms=f"r.cl[k] * {last}.v[k]")
    parts.append(
        f", wf AS MATERIALIZED (SELECT r.i, {foldw} AS wi FROM crows r, {last})"
        ", wfl AS (SELECT LIST(wi ORDER BY i) AS w FROM wf)"
        ", ray AS (SELECT "
        + _PCA_FOLD.format(terms=f"{last}.v[k] * wfl.w[k]")
        + " / "
        + _PCA_FOLD.format(terms=f"{last}.v[k] * {last}.v[k]")
        + f" AS lam FROM {last}, wfl)"
    )
    parts.append(
        f"""
        SELECT t.k AS dim_i,
               CAST(CAST({last}.v[t.k] AS DECIMAL(38,9)) AS DOUBLE)
                   AS loading,
               CAST(CAST(ray.lam AS DECIMAL(38,9)) AS DOUBLE)
                   AS eigenvalue
        FROM (SELECT UNNEST(RANGE(1, 65)) AS k) t, {last}, ray
        """
    )
    return "".join(parts)


@query(
    "q_pca_power",
    oracle=_pca_oracle(),
    operators=(217, 260),
    doc=f"Top principal component of the embedding corpus by power "
    f"iteration ({_PCA_T} rounds, max-abs normalized), run over the "
    "hash-exact covariance matrix of #217 (exact dyadic-quantized "
    "integer outer-product sums — functions/moments.py — so the "
    "matrix is order-independent and bit-identical on both engines). "
    "The iteration itself is bounded "
    "64x64 driver math — the same discipline as IVF centroid "
    "training: the DISTRIBUTED stage is the covariance reduce (one "
    "scan, map-side combined into 2080 cells regardless of corpus "
    "size); the eigensolve touches no row data. Every multiply/fold "
    "is an explicit ascending left fold mirrored by the oracle's "
    "unrolled LIST_REDUCE chain, so loadings and the Rayleigh "
    "eigenvalue grade hash-exact after DECIMAL(38,9) quantization. "
    "Scale: at 100 TB nothing changes — d(d+1)/2 cells is the only "
    "reduce state, and the driver step is O(T*d^2) flops.",
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cov = _M.cov_cells(e)
    # Bounded driver pull: d(d+1)/2 = 2080 cells, independent of corpus
    # size. Mirror the triangle, then iterate with the exact left-fold
    # order the oracle's LIST_REDUCE chain uses.
    cells = {(r["i"], r["j"]): r["c"] for r in cov.collect()}
    d = 64
    C = [
        [cells[(i, j)] if i <= j else cells[(j, i)] for j in range(1, d + 1)]
        for i in range(1, d + 1)
    ]

    def matvec(v: list[float]) -> list[float]:
        out = []
        for i in range(d):
            acc = 0.0
            for k in range(d):
                acc = acc + C[i][k] * v[k]
            out.append(acc)
        return out

    v = [1.0] * d
    for _ in range(_PCA_T):
        w = matvec(v)
        m = max(abs(x_) for x_ in w)
        v = [x_ / m for x_ in w]
    w = matvec(v)
    num = 0.0
    for k in range(d):
        num = num + v[k] * w[k]
    den = 0.0
    for k in range(d):
        den = den + v[k] * v[k]
    lam = num / den
    rows = [(k + 1, v[k], lam) for k in range(d)]
    out = spark.createDataFrame(rows, ["dim_i", "_loading", "_eig"])
    return out.select(
        F.col("dim_i").cast("bigint").alias("dim_i"),
        F.col("_loading").cast("decimal(38,9)").cast("double").alias("loading"),
        F.col("_eig").cast("decimal(38,9)").cast("double").alias("eigenvalue"),
    )


# ---------------------------------------------------------------------------
# #262 containment dedup: asymmetric near-superset detection
# ---------------------------------------------------------------------------

_CTN_T = 0.9  # containment threshold |A ∩ B| / |A|


@query(
    "q_containment_dedup",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         FOR i IN RANGE(1, LEN(w) - 1)])) AS t
            FROM words WHERE LEN(w) >= 3
        ),
        sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
                   COUNT(*) AS i
            FROM sh a JOIN sh b ON a.t = b.t AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT contained_id, container_id, i AS inter_sh,
               sa.s AS sz_contained,
               CAST(i AS DOUBLE) / CAST(sa.s AS DOUBLE) AS containment
        FROM inter JOIN sz sa ON contained_id = sa.doc_id
        WHERE CAST(i AS DOUBLE) / CAST(sa.s AS DOUBLE) >= {_CTN_T}
    """,
    operators=(68, 70, 262),
    doc=f"Containment dedup (#262): asymmetric near-SUPERSET detection — "
    f"|A∩B| / |A| >= {_CTN_T} flags documents whose shingle set is "
    "(almost) contained in another document's, the quote/boilerplate/"
    "chunk-of-a-larger-doc case that symmetric Jaccard (#258/#70) "
    "structurally misses (containment 0.9 can coexist with Jaccard "
    "0.1 when the container is 10x larger). Prefix filter on the "
    "CONTAINED side only: if containment >= t, the container can miss "
    "at most |A| - ceil(t*|A|) of A's shingles, so A's (that many "
    "+ 1) rarest shingles must hit — candidates come from joining "
    "those prefixes against the full shingle stream, exact integer "
    "intersection verifies. The oracle computes filter-free ground "
    "truth, hash-proving the prefix lossless. Scale: the full-side "
    "join key is still the rare prefix shingle, so bucket sizes are "
    "rare-token document frequencies; shuffles carry (doc_id, "
    "shingle) only.",
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select("doc_id", TX.shingles(F.split("text", " "), 3).alias("arr"))
        .filter(F.size("arr") >= 1)
        .localCheckpoint(eager=True)
    )
    sh = base.select("doc_id", F.explode("arr").alias("t"))
    freq = sh.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(F.broadcast(freq), "t")
    pos_w = Window.partitionBy("doc_id").orderBy("df", "t")
    sized = ranked.select(
        "doc_id",
        "t",
        F.row_number().over(pos_w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
    )
    prefix = sized.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(_CTN_T) * F.col("sz")) + 1
    ).select(F.col("doc_id").alias("contained_id"), "t")
    cand = (
        prefix.join(
            sh.select(F.col("doc_id").alias("container_id"), "t"), "t"
        )
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    arrs = base.select("doc_id", F.array_sort("arr").alias("sarr"))
    verified = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("contained_id"), F.col("sarr").alias("_va")
            ),
            "contained_id",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("container_id"), F.col("sarr").alias("_vb")
            ),
            "container_id",
        )
        .select(
            "contained_id",
            "container_id",
            F.size(F.array_intersect("_va", "_vb")).alias("inter_sh"),
            F.size("_va").alias("sz_contained"),
        )
        .withColumn(
            "containment",
            F.col("inter_sh").cast("double") / F.col("sz_contained").cast("double"),
        )
    )
    return verified.filter(F.col("containment") >= _CTN_T)


# ---------------------------------------------------------------------------
# #299 matryoshka truncation sweep (how many dims do the neighbors need)
# ---------------------------------------------------------------------------

_MAT_DIMS = (16, 32, 48, 64)
_MAT_K = 5
_MAT_NQ = 3


def _mat_l2_sql(d: int) -> str:
    return (
        "LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), "
        f"LIST_TRANSFORM(RANGE(1, {d + 1}), i -> "
        "(CAST(q.qv[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))"
        " * (CAST(q.qv[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE)))), "
        "(acc, x) -> acc + x)"
    )


def _mat_block_sql(d: int) -> str:
    return f"""
        SELECT {d} AS dims, qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY {_mat_l2_sql(d)}, e.vec_id) AS rnk
            FROM q CROSS JOIN embeddings e
        ) WHERE rnk <= {_MAT_K}"""


@query(
    "q_matryoshka_sweep",
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv
                   FROM embeddings WHERE vec_id < {_MAT_NQ}),
        cand AS ({" UNION ALL ".join(_mat_block_sql(d) for d in _MAT_DIMS)}),
        full_k AS (SELECT qid, vec_id FROM cand WHERE dims = 64)
        SELECT c.dims,
               CAST(COUNT(*) AS BIGINT) AS hits,
               CAST({_MAT_NQ * _MAT_K} AS BIGINT) AS denom,
               CAST(CAST(CAST(COUNT(*) AS DOUBLE) / {_MAT_NQ * _MAT_K}
                         AS DECIMAL(38,9)) AS DOUBLE) AS mean_overlap
        FROM cand c JOIN full_k f
          ON f.qid = c.qid AND f.vec_id = c.vec_id
        GROUP BY c.dims
    """,
    operators=(33, 44, 72, 299),
    doc=f"Matryoshka truncation sweep (#299), the embedding-"
    "compression calibration beside the PQ recall contract (#277) and "
    f"JL distortion audit (#259): exact top-{_MAT_K} L2 neighbors "
    f"under each prefix width {_MAT_DIMS} vs the full 64-dim truth, "
    "reported as overlap@k per width. On THIS corpus the curve is "
    "0.20 → 0.33 → 0.53 → 1.00 — untrained prefixes lose most of the "
    "neighborhood, the measured reason MRL-style training (which "
    "FRONT-LOADS information) exists, and the empirical answer to "
    "'can we ship 16 of the 64 dims'. Distances are pure-double "
    "ascending-i left folds over the prefix (bit-exact both engines); "
    "ranks tie-break on vec_id; the overlap join and census are "
    "exact integers. Scale: each width is one broadcast-query scan + "
    "per-query rank window — the n² is |queries|×|corpus| with "
    "3 queries, the calibration shape.",
    bench=False,
)
def q_matryoshka_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < _MAT_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = e.crossJoin(F.broadcast(q))

    def l2_prefix(d: int):
        terms = F.zip_with(
            F.slice(F.col("qv"), 1, d),
            F.slice(F.col("v"), 1, d),
            lambda x, y: (x - y) * (x - y),
        )
        return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)

    blocks = []
    for d in _MAT_DIMS:
        w = Window.partitionBy("qid").orderBy(l2_prefix(d), "vec_id")
        blocks.append(
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _MAT_K)
            .select(F.lit(d).alias("dims"), "qid", "vec_id")
        )
    cand = reduce(DataFrame.unionAll, blocks).localCheckpoint(eager=True)
    full_k = cand.filter(F.col("dims") == 64).select("qid", "vec_id")
    denom = _MAT_NQ * _MAT_K
    return (
        cand.join(full_k, ["qid", "vec_id"])
        .groupBy("dims")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
        .select(
            "dims",
            "hits",
            F.lit(denom).cast("bigint").alias("denom"),
            (F.col("hits").cast("double") / denom)
            .cast("decimal(38,9)")
            .cast("double")
            .alias("mean_overlap"),
        )
    )
