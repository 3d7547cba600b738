"""Vector-similarity column functions — SURVEY.md §2.11 #71–#73.

Cosine/dot products are pure SQL higher-order lambdas (left-fold over
the zipped arrays) so they stay JVM-side AND match a DuckDB
``list_reduce`` oracle bit-for-bit (same fold order → same IEEE
result). The LSH scale path uses deterministic random hyperplanes
derived from md5 at plan-build time — no runtime randomness, so runs
are reproducible and testable.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window


def _d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product (bit-exact parity with list_reduce)."""
    prods = F.zip_with(_d(a), _d(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe on zero vectors."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def _stack(vecs: pd.Series) -> np.ndarray:
    """A batch of vectors as one (n, dim) float64 matrix.

    Precondition of every Arrow vector kernel (ADVICE r11/r12): vectors
    must be NON-NULL and of one fixed dimensionality. The HOF trees
    these kernels replace yielded NULL for null vectors, but every
    caller feeds dense fixed-dim embeddings, so a violation is a caller
    bug and raises rather than silently degrading."""
    try:
        if vecs.isna().any():  # an all-null batch would stack as NaNs
            raise ValueError("null vector")
        return np.vstack(vecs.to_numpy()).astype(np.float64, copy=False)
    except ValueError as e:  # null or ragged vectors
        raise ValueError(
            "vector kernels require non-null, fixed-dimension vectors "
            f"(got a null/ragged batch: {e})"
        ) from e


def _sq_dists_exact(vecs: pd.Series, cents: list[tuple[int, list[float]]]):
    """k squared-distance columns over a batch, each folded in ascending
    index order — the same IEEE op sequence per element as the
    ``zip_with``/``aggregate`` expression ``((0+t0)+t1)+...`` with
    ``t_i=(x_i-c_i)^2``, so results are bit-identical to the HOF tree.
    (numpy's own ``sum`` is pairwise and would NOT match.)"""
    A = _stack(vecs)
    out = []
    for _cid, cv in cents:
        acc = np.zeros(A.shape[0])
        for i, ci in enumerate(cv):
            d = A[:, i] - ci
            acc += d * d
        out.append(acc)
    return out


def lloyd_assign_udf(cents_map: dict[int, list[float]]):
    """Vectorized exact Lloyd assignment (guide §4.2): per vector, the
    lexicographic (dist, cluster) argmin over literal centroids.

    Bit-identical to ``array_min(array(struct(dist_c, c) for c))`` over
    the k ``zip_with``/``aggregate`` HOF trees it replaces — same fold
    order per distance (see ``_sq_dists_exact``), same tie-break
    (ascending-cid iteration updates only on strict ``<``, so equal
    distances keep the smaller cluster id; inputs are finite so no NaN
    can enter the comparison) — but one Arrow-vectorized kernel instead
    of k interpreted HOF trees per row (measured ~10x on the Lloyd
    rounds). Returns a UDF producing struct<dist:double, cluster:int>.
    """
    cents = [(int(c), [float(x) for x in v]) for c, v in sorted(cents_map.items())]

    @pandas_udf("struct<dist: double, cluster: int>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"dist": pd.Series(dtype="float64"),
                                 "cluster": pd.Series(dtype="int32")})
        dists = _sq_dists_exact(vecs, cents)
        best_d = dists[0]
        best_c = np.full(len(best_d), cents[0][0], dtype=np.int32)
        for (cid, _), acc in zip(cents[1:], dists[1:]):
            upd = acc < best_d
            best_d = np.where(upd, acc, best_d)
            best_c = np.where(upd, np.int32(cid), best_c)
        return pd.DataFrame({"dist": best_d, "cluster": best_c})

    return assign


def lloyd_top2_udf(cents_map: dict[int, list[float]]):
    """Rank-1/rank-2 exact Lloyd distances (q_silhouette's a/b pair):
    bit-identical to ``array_sort(array(struct(dist_c, c)))[1..2]`` —
    same per-distance fold as ``_sq_dists_exact``, lexicographic
    (dist, cluster) order maintained by ascending-cid iteration with
    strict-``<`` updates. Returns struct<cluster:int, da:double,
    db:double>."""
    cents = [(int(c), [float(x) for x in v]) for c, v in sorted(cents_map.items())]
    if len(cents) < 2:
        raise ValueError(
            f"lloyd_top2_udf needs at least 2 centroids, got {len(cents)}"
        )

    @pandas_udf("struct<cluster: int, da: double, db: double>")
    def top2(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cluster": pd.Series(dtype="int32"),
                                 "da": pd.Series(dtype="float64"),
                                 "db": pd.Series(dtype="float64")})
        dists = _sq_dists_exact(vecs, cents)
        n = len(dists[0])
        best_d = dists[0]
        best_c = np.full(n, cents[0][0], dtype=np.int32)
        sec_d = dists[1]
        sec_c = np.full(n, cents[1][0], dtype=np.int32)
        # order the first two candidates (ascending cid ⇒ tie keeps cid0)
        swap = sec_d < best_d
        best_d, sec_d = np.where(swap, sec_d, best_d), np.where(swap, best_d, sec_d)
        best_c, sec_c = (
            np.where(swap, sec_c, best_c),
            np.where(swap, best_c, sec_c),
        )
        for (cid, _), acc in zip(cents[2:], dists[2:]):
            lt_best = acc < best_d
            lt_sec = acc < sec_d
            # new best: old best demotes to second
            sec_d = np.where(lt_best, best_d, np.where(lt_sec, acc, sec_d))
            sec_c = np.where(lt_best, best_c, np.where(lt_sec, np.int32(cid), sec_c))
            best_d = np.where(lt_best, acc, best_d)
            best_c = np.where(lt_best, np.int32(cid), best_c)
        return pd.DataFrame({"cluster": best_c, "da": best_d, "db": sec_d})

    return top2


def blocked_pair_max_cosine(
    df: DataFrame,
    *,
    cluster_col: str = "cluster",
    id_col: str = "vec_id",
    vec_col: str = "v",
    norm_col: str = "n",
    block: int = 64,
    salt: str = "sdblk",
) -> DataFrame:
    """Per-(cluster, id) PARTIAL max cosine over every unordered
    within-cluster pair, where id is the GREATER member of the pair —
    the SemDeDup drop census, computed without ever materializing pair
    rows. Callers finish with ``groupBy(cluster, pid).max(max_cos)``.

    Shape: the same blocked triangle discipline as
    ``dedup.blocked_cluster_pairs`` (identical md5 block ids, identical
    (cluster, bi, bj) cells carrying ``block`` rows per side IN
    EXPECTATION — md5 is a hash split, not a balanced rank, so a
    hash-skewed block can exceed the bound; the binomial tail makes a
    2x overload vanishingly rare for block=64), but each cell is
    reduced INSIDE one Arrow kernel: members replicate to their
    cells (n_c·B/2 narrow rows per cluster — id, vector, norm), and the
    kernel computes the cell's cosine matrix as 64 rank-1 fold updates,
    emitting <= |cell members| partial rows. The join-based pair stage
    streamed BOTH 64-double payloads per pair through the cosine
    projection — ~100 GB of pair traffic for the 10^8 pairs of the sf1
    decade fixture vs ~2 GB of member replicas here; candidate volume
    itself is unchanged (the kernel folds the same n_c²/2 cosines).

    Bit-parity with the pair-join census (pinned in
    tests/test_opt_r12.py against blocked_cluster_pairs itself):
    - num accumulates ``acc = acc + a_k*b_k`` ascending k from zeros —
      per element the exact fold order of ``dot``/``dot_arrow``;
    - cos = num / (n_a * n_b): same multiply-then-divide on the same
      precomputed norms;
    - the pair SET is the blocked triangle's (diagonal cells keep
      id_a < id_b, off-diagonal cells meet exactly once).

    Vectors must be non-null, of one fixed dimension and of non-zero
    norm; the kernel raises ``ValueError`` otherwise. A 0-norm vector
    has no cosine: the pair-join formulation errors on it under the
    default ANSI mode (DIVIDE_BY_ZERO), and the kernel fails as loudly
    instead of turning it into a NULL.

    Precondition: the plan upstream of ``df`` must be deterministic or
    checkpointed. Each member is read twice, once per union side
    (a-side row cells, b-side column cells), so a non-deterministic
    upstream (rand(), a non-deterministic UDF, an unpinned sample or
    limit) could give the two sides different block ids or vectors and
    silently drop or double-count pairs.
    """
    c, i = cluster_col, id_col
    bsz = df.groupBy(c).agg(F.count(F.lit(1)).alias("_nc")).select(
        c, F.ceil(F.col("_nc") / F.lit(block)).cast("int").alias("_nb")
    )
    blk = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt + ":"), F.col(i).cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.col("_nb"),
    ).cast("int")
    mem = df.join(F.broadcast(bsz), c).select(
        c,
        F.col(i).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col(norm_col).alias("_n"),
        blk.alias("_blk"),
        "_nb",
    )
    # Replicate members over the triangle cells they participate in.
    # a-side: own block row, all cells (bi=_blk, bj >= _blk).
    # b-side: column cells (bi < _blk, bj=_blk) — strictly off-diagonal
    # (the _blk > 0 filter also keeps sequence() ascending; a bare
    # sequence(0, -1) would DESCEND, Spark defaults step to -1).
    a_side = mem.select(
        c,
        F.col("_blk").alias("_bi"),
        F.explode(F.sequence(F.col("_blk"), F.col("_nb") - 1)).alias("_bj"),
        F.lit(0).alias("_sd"),
        "_id",
        "_v",
        "_n",
    )
    b_side = mem.filter(F.col("_blk") > 0).select(
        c,
        F.explode(F.sequence(F.lit(0), F.col("_blk") - 1)).alias("_bi"),
        F.col("_blk").alias("_bj"),
        F.lit(1).alias("_sd"),
        "_id",
        "_v",
        "_n",
    )
    both = a_side.unionByName(b_side)

    out_schema = T.StructType(
        [
            df.schema[c],
            T.StructField("pid", T.LongType()),
            T.StructField("max_cos", T.DoubleType()),
        ]
    )

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        diag = bool(pdf["_bi"].iat[0] == pdf["_bj"].iat[0])
        a = pdf[pdf["_sd"] == 0]
        if diag:
            b = a
        else:
            b = pdf[pdf["_sd"] == 1]
        if len(a) == 0 or len(b) == 0 or (diag and len(a) < 2):
            return pd.DataFrame(
                {
                    c: pd.Series(dtype=pdf[c].dtype),
                    "pid": pd.Series(dtype="int64"),
                    "max_cos": pd.Series(dtype="float64"),
                }
            )
        ida = a["_id"].to_numpy(dtype=np.int64)
        idb = b["_id"].to_numpy(dtype=np.int64)
        Va = _stack(a["_v"])
        Vb = Va if diag else _stack(b["_v"])
        na = a["_n"].to_numpy(dtype=np.float64)
        nb = na if diag else b["_n"].to_numpy(dtype=np.float64)
        if not (na.all() and nb.all()):
            raise ValueError(
                "blocked_pair_max_cosine requires non-zero norms "
                "(a 0-norm vector has no cosine)"
            )
        num = np.zeros((len(ida), len(idb)))
        for k in range(Va.shape[1]):  # ascending-k fold, exact dot order
            num = num + Va[:, k : k + 1] * Vb[:, k]
        cos = num / (na[:, None] * nb[None, :])
        if diag:
            keep = ida[:, None] < idb[None, :]
        else:
            keep = np.ones_like(cos, dtype=bool)
        pidm = np.maximum(ida[:, None], idb[None, :])
        pidf = pidm[keep]
        cosf = cos[keep]
        order = np.argsort(pidf, kind="stable")
        spid = pidf[order]
        starts = np.flatnonzero(np.r_[True, spid[1:] != spid[:-1]])
        maxes = np.fmax.reduceat(cosf[order], starts)
        return pd.DataFrame(
            {c: pdf[c].iat[0], "pid": spid[starts], "max_cos": maxes}
        )

    return both.groupBy(c, "_bi", "_bj").applyInPandas(cell_kernel, out_schema)


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5(seed:plane:dim).

    Plan-time constants — every run, every engine, every executor sees
    identical planes (required for LSH bucket joins to be stable)."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()
            row.append(1.0 if h[0] < 128 else -1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, n_planes: int = 16, dim: int = 64, seed: int = 42) -> Column:
    """Sign-random-projection bit signature as a BIGINT bucket id.

    At 100 TB this is the candidate-pruning key: a self-join on the
    signature touches only same-bucket pairs instead of n² pairs."""
    bits = []
    for j, plane in enumerate(hyperplanes(n_planes, dim, seed)):
        p = F.array(*[F.lit(v) for v in plane])
        proj = dot(vec, p)
        bits.append(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out.cast("bigint")


def lsh_signatures_arrow(
    n_tables: int, bits_per_table: int, dim: int, seed: int = 42
):
    """All L table signatures in one Arrow-vectorized matmul.

    The per-plane SQL-lambda dot (``lsh_signature``) is interpreted
    per element — fine for one signature, quadratic pain for L×b of
    them. Here the whole batch projects against all L·b hyperplanes as
    a single (batch × dim) @ (dim × L·b) numpy matmul, then sign-bits
    pack into one BIGINT bucket per table. Same planes, same seeds,
    same buckets as ``lsh_signature`` — just the vectorized twin."""
    planes = np.array(
        [hyperplanes(bits_per_table, dim, seed + 1000 * t) for t in range(n_tables)]
    )  # (L, b, dim)
    proj_mat = planes.reshape(n_tables * bits_per_table, dim).T  # (dim, L*b)
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (mat @ proj_mat) >= 0  # (n, L*b)
        bucketed = (bits.reshape(len(vecs), n_tables, bits_per_table) * weights).sum(
            axis=2
        )
        return pd.Series(list(bucketed))

    return sig


@pandas_udf(T.DoubleType())
def dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product, bit-exact with :func:`dot`.

    Same left fold as the zip_with/aggregate tree (acc + a_j*b_j,
    starting at 0.0, ascending j) applied column-by-column across the
    batch — every IEEE intermediate per row is identical, so any
    downstream arithmetic or threshold sees the same bits. Same
    non-null fixed-dim precondition as every vector kernel
    (``_stack``). Used where per-pair interpreted lambdas dominate (the
    SemDeDup pair censuses fold ~1M pairs)."""
    if len(a) == 0:
        return pd.Series(dtype="float64")
    av = _stack(a)
    bv = _stack(b)
    acc = np.zeros(av.shape[0])
    for j in range(av.shape[1]):
        acc = acc + av[:, j] * bv[:, j]
    return pd.Series(acc)


@pandas_udf(T.DoubleType())
def cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine, bit-exact with :func:`cosine`.

    The SQL-lambda cosine is a left fold (acc + x, starting at 0.0) in
    float64; summing column-by-column across the batch is the same
    fold order per row, so every IEEE intermediate — and therefore the
    result at any threshold boundary — is identical. Used on the hot
    re-score path where per-pair interpreted lambdas would dominate."""

    def fold(mat: np.ndarray) -> np.ndarray:
        acc = np.zeros(mat.shape[0])
        for j in range(mat.shape[1]):
            acc = acc + mat[:, j]
        return acc

    av = _stack(a)
    bv = _stack(b)
    num = fold(av * bv)
    denom = np.sqrt(fold(av * av)) * np.sqrt(fold(bv * bv))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = num / denom
    return pd.Series(out).where(denom > 0)


def sim_join_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int = 8,
    bits_per_table: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Similarity self-join with multi-table LSH (OR-amplification).

    L independent sign-random-projection tables of b bits each; a pair
    is a candidate if it collides in ANY table, then exact cosine
    re-scores it (precision 1.0; recall = 1-(1-p^b)^L with
    p = 1-θ/π).

    Shape chosen for 100 TB: all L signatures are computed in ONE
    row-local projection, posexploded to (table, bucket) rows, and the
    candidate set comes from a SINGLE self-equi-join on (table, bucket)
    that shuffles only (id, t, bk) — never the vectors. Vectors rejoin
    only for the exact re-score of the (much smaller) candidate set.
    Candidates ∝ Σ bucket², never n²; bucket skew is AQE's skew-join
    problem, not a collect_list hotspot."""
    sig_udf = lsh_signatures_arrow(n_tables, bits_per_table, dim, seed)
    sigs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(sig_udf(_d(F.col(vec_col)))).alias("t", "bk"),
    )
    a = sigs.select(F.col("_id").alias("id_a"), "t", "bk")
    b = sigs.select(F.col("_id").alias("id_b"), "t", "bk")
    cand = (
        a.join(b, ["t", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_arrow(F.col("_va"), F.col("_vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_sample_plan(
    df: DataFrame, id_col: str, vec_col: str, sample: int = 4096
) -> DataFrame:
    """The bounded, deterministic training-sample plan for IVF.

    Hash filter first (xxhash64(id) % m == 0, m sized from a count so
    ~4×sample rows survive), THEN an id-ordered top-`sample` of the
    survivors. The ordered-limit compiles to TakeOrderedAndProject over
    the pruned subset — no corpus-wide Sort/Exchange stage appears in
    the plan (pinned in tests/test_plans.py).

    Sizing m needs the corpus size, but small corpora shouldn't pay a
    full count: a limit-capped count decides cheaply whether the
    corpus is big enough to need the hash filter at all."""
    n = df.limit(8 * sample + 1).count()
    if n > 8 * sample:
        n = df.count()
    m = max(1, n // (4 * sample))
    cand = df
    if m > 1:
        cand = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0)
    return cand.orderBy(id_col).limit(sample).select(_d(F.col(vec_col)).alias("_v"))


def ivf_train_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    iters: int = 5,
    sample: int = 4096,
) -> np.ndarray:
    """Train IVF cell centroids: deterministic Lloyd iterations on a
    bounded, order-defined sample (lowest ids), spherical (cosine)
    geometry.

    Training on a driver-side sample is the standard IVF recipe — the
    index quality needs a sketch of the distribution, not the corpus;
    ASSIGNMENT is what must scale, and that stays distributed. No
    runtime randomness: same data ⇒ same centroids, every engine,
    every run.

    Sampling is a deterministic hash filter (xxhash64(id) % m == 0,
    m sized so ~4×sample rows survive), then an id-ordered top-`sample`
    of the SURVIVORS — the rank stage only ever sees the pruned subset,
    so there is no corpus-wide ordering stage (round-1 advice: the old
    orderBy(id).limit ranked the full corpus)."""
    pdf = ivf_sample_plan(df, id_col, vec_col, sample).toPandas()
    x = np.vstack(pdf["_v"].to_numpy())
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[:n_cells].copy()
    for _ in range(iters):
        owner = np.argmax(x @ cents.T, axis=1)
        for c in range(n_cells):
            members = x[owner == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _cell_assign_udf(centroids: np.ndarray, n_probe: int):
    """Arrow UDF: n_probe nearest cells per vector (descending cosine)."""

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ centroids.T
        order = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    return assign


def ivf_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    corpus_id: str,
    query_id: str,
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid cell; a query probes only its n_probe nearest cells and
    exact-rescoring runs inside those cells.

    This is the scale path the brute-force `topk_neighbors` can't
    walk: candidate volume per query drops from |corpus| to
    ~|corpus|·(n_probe/n_cells), and the cell equi-join partitions
    cleanly. Recall is tunable via n_probe (n_probe = n_cells ⇒
    exact)."""
    cents = ivf_train_centroids(corpus_df, corpus_id, vec_col, n_cells)
    one = _cell_assign_udf(cents, 1)
    probe = _cell_assign_udf(cents, n_probe)
    corpus_cells = corpus_df.select(
        F.col(corpus_id).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        F.element_at(one(_d(F.col(vec_col))), 1).alias("cell"),
    )
    query_cells = queries_df.select(
        F.col(query_id).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        F.explode(probe(_d(F.col(vec_col)))).alias("cell"),
    )
    scored = (
        corpus_cells.join(F.broadcast(query_cells), "cell")
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            cosine_arrow(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _fold_cosine_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-aligned exact cosines in the SQL left-fold order (three
    independent ascending-j folds, like :func:`cosine`) — the rescore
    half of the BLAS-prefilter/exact-verify contract below."""
    n, dim = A.shape
    acc = np.zeros(n)
    asq = np.zeros(n)
    bsq = np.zeros(n)
    for j in range(dim):
        acc = acc + A[:, j] * B[:, j]
        asq = asq + A[:, j] * A[:, j]
        bsq = bsq + B[:, j] * B[:, j]
    denom = np.sqrt(asq) * np.sqrt(bsq)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, acc / denom, np.nan)


# The BLAS prefilter band: a 64-term float64 dot differs from the fold
# order by <~1e-13 relative, so any pair whose fold cosine could reach
# the threshold sits inside threshold - 1e-6 under BLAS with eight
# orders of magnitude to spare. Pairs below the band are provably below
# threshold in BOTH orders; pairs inside it get the exact fold rescore.
_BLAS_BAND = 1e-6




def _dedup_by_cosine_pairjoin(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Distributed exact fallback for :func:`dedup_by_cosine`: a
    triangular self-join (id_a < id_b) scored with the Arrow cosine,
    min-id aggregate per duplicate, left-join back for the kept rows.

    No driver state at all — the cross join partitions across the
    cluster (n_a × n_b task grid) and only (id, vector) rows move.
    Exact all-pairs is inherently quadratic; past THIS shape's budget
    the answer is the LSH candidate join (sim_join_lsh) with the same
    keep/drop rule, which trades exactness for linear buckets."""
    a = df.select(F.col(id_col).alias("_ida"), _d(F.col(vec_col)).alias("_va"))
    b = df.select(F.col(id_col).alias("_idb"), _d(F.col(vec_col)).alias("_vb"))
    dup = (
        b.join(a, F.col("_ida") < F.col("_idb"))
        .select(
            "_idb", "_ida", cosine_arrow(F.col("_va"), F.col("_vb")).alias("_cos")
        )
        .filter(F.col("_cos") >= threshold)
        .groupBy("_idb")
        .agg(F.min("_ida").alias("dup_of"))
    )
    return (
        df.select(F.col(id_col))
        .join(dup, F.col(id_col) == F.col("_idb"), "left")
        .select(id_col, "dup_of")
    )


def dedup_by_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Embedding near-dup dedup, exact variant: for every row, the
    lowest-id vector with cosine ≥ threshold (NULL ⇒ the row is kept).

    Shape: SIZE-GUARDED. If the corpus fits a broadcast (counted first,
    explicit ``broadcast_max_rows`` ceiling — 2M × 64 float64 ≈ 1 GiB),
    the matrix is broadcast once and each partition scores its batch
    against it with a column-at-a-time rank-1 accumulation, which
    reproduces the SQL left-fold cosine IEEE-exactly (acc = acc +
    prod_j, ascending j) while each vector crosses Arrow exactly once
    instead of once per pair. Past the ceiling it falls back to the
    fully distributed triangular pair join (no driver collect of any
    size) — same answers, quadratic but partitioned; see
    :func:`_dedup_by_cosine_pairjoin` for why LSH is the next rung.

    The guard and the collect share ONE scan: pulling limit(max+1)
    rows both bounds the driver pull (never more than the ceiling
    lands in driver memory) and reveals whether the corpus exceeded
    it — no separate count job."""
    spark = df.sparkSession
    probe = (
        df.select(F.col(id_col), _d(F.col(vec_col)).alias("_v"))
        .limit(broadcast_max_rows + 1)
        .toPandas()
    )
    if len(probe) > broadcast_max_rows:
        return _dedup_by_cosine_pairjoin(df, id_col, vec_col, threshold)
    pdf = probe
    ids_np = pdf[id_col].to_numpy()
    mat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((ids_np, mat))

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("dup_of", T.LongType()),
        ]
    )

    def score(batches):
        corpus_ids, corpus = bc.value
        # BLAS-prefilter / exact-verify: the bulk n x |corpus| scoring
        # runs as a real matmul (compute-bound, cache-blocked — the
        # fold-order elementwise accumulation it replaces was memory-
        # bandwidth-bound and 20x slower at the 200k-vector fixture),
        # then ONLY pairs inside the epsilon band of the threshold get
        # the exact left-fold rescore, so emitted values and threshold
        # decisions are bit-identical to the SQL-lambda cosine.
        c_norm = np.sqrt((corpus * corpus).sum(axis=1))
        chunk = max(1, 32_000_000 // max(1, len(corpus)))
        imax = np.iinfo(np.int64).max
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), chunk):
                sub = pdf_in.iloc[lo : lo + chunk]
                batch = np.vstack(sub["_v"].to_numpy()).astype(np.float64)
                bids = sub[id_col].to_numpy()
                dots = batch @ corpus.T
                b_norm = np.sqrt((batch * batch).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / np.outer(b_norm, c_norm)
                with np.errstate(invalid="ignore"):
                    cand = (cos >= threshold - _BLAS_BAND) & (
                        corpus_ids[None, :] < bids[:, None]
                    )
                bi, cj = np.nonzero(cand)
                dup = np.full(len(batch), imax)
                if len(bi):
                    exact = _fold_cosine_rows(batch[bi], corpus[cj])
                    with np.errstate(invalid="ignore"):
                        keep = exact >= threshold
                    np.minimum.at(dup, bi[keep], corpus_ids[cj[keep]])
                dup_ser = pd.Series(dup, dtype="Int64")
                dup_ser[dup == imax] = pd.NA
                yield pd.DataFrame({id_col: bids, "dup_of": dup_ser})

    # Spread the quadratic scoring work across every core: the source
    # is often a handful of parquet splits, which would leave all but a
    # few workers idle while each survivor grinds |corpus|-wide scores.
    # The shuffled payload is only O(n) (id, vector) rows.
    n_parts = 2 * spark.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col), _d(F.col(vec_col)).alias("_v"))
        .repartition(n_parts)
        .mapInPandas(score, out_schema)
    )


def _sim_join_exact_pairjoin(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Distributed exact fallback for :func:`sim_join_exact`: the
    triangular theta self-join scored with the Arrow cosine. Quadratic
    by semantics but fully partitioned (n_a × n_b task grid), no driver
    state. Past this shape's budget the answer is sim_join_lsh."""
    a = df.select(F.col(id_col).alias("id_a"), _d(F.col(vec_col)).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), _d(F.col(vec_col)).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine_arrow(F.col("_va"), F.col("_vb")).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def sim_join_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Exact all-pairs similarity self-join: every (id_a < id_b) pair
    with cosine ≥ threshold, plus the similarity itself.

    Shape: SIZE-GUARDED, same discipline as :func:`dedup_by_cosine`.
    Under the ceiling the corpus matrix is broadcast once and each
    partition scores its rows against it with column-at-a-time rank-1
    accumulation — the SQL left-fold cosine reproduced IEEE-exactly —
    so each vector crosses Arrow once instead of once per pair, and no
    pair row ever carries a vector. The naive theta join materializes
    n² rows × two 64-float arrays through a nested-loop join (~200 GB
    at 20k vectors) before a single interpreted lambda runs; this
    shape moves O(n) vectors and emits only the surviving pairs. Past
    the ceiling it falls back to the distributed triangular pair join
    (quadratic but partitioned, Arrow-scored)."""
    spark = df.sparkSession
    probe = (
        df.select(F.col(id_col), _d(F.col(vec_col)).alias("_v"))
        .limit(broadcast_max_rows + 1)
        .toPandas()
    )
    if len(probe) > broadcast_max_rows:
        return _sim_join_exact_pairjoin(df, id_col, vec_col, threshold)
    ids_np = probe[id_col].to_numpy()
    mat = np.vstack(probe["_v"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((ids_np, mat))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches):
        corpus_ids, corpus = bc.value
        # BLAS-prefilter / exact-verify, see dedup_by_cosine's scorer:
        # matmul finds everything within an epsilon band of the
        # threshold, the exact left-fold rescores only those pairs, so
        # emitted cosines are bit-identical to the SQL-lambda fold.
        c_norm = np.sqrt((corpus * corpus).sum(axis=1))
        chunk = max(1, 32_000_000 // max(1, len(corpus)))
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), chunk):
                sub = pdf_in.iloc[lo : lo + chunk]
                batch = np.vstack(sub["_v"].to_numpy()).astype(np.float64)
                bids = sub[id_col].to_numpy()
                dots = batch @ corpus.T
                b_norm = np.sqrt((batch * batch).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / np.outer(b_norm, c_norm)
                with np.errstate(invalid="ignore"):
                    cand = (cos >= threshold - _BLAS_BAND) & (
                        corpus_ids[None, :] > bids[:, None]
                    )
                bi, cj = np.nonzero(cand)
                if not len(bi):
                    continue
                exact = _fold_cosine_rows(batch[bi], corpus[cj])
                with np.errstate(invalid="ignore"):
                    keep = exact >= threshold
                yield pd.DataFrame(
                    {
                        "id_a": bids[bi[keep]],
                        "id_b": corpus_ids[cj[keep]],
                        "cos_sim": exact[keep],
                    }
                )

    # Spread the quadratic scoring work across every core: the source
    # is often a handful of parquet splits, which would leave all but a
    # few workers idle while each survivor grinds |corpus|-wide scores.
    # The shuffled payload is only O(n) (id, vector) rows.
    n_parts = 2 * spark.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col), _d(F.col(vec_col)).alias("_v"))
        .repartition(n_parts)
        .mapInPandas(score, out_schema)
    )


def topk_neighbors(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    query_vec: str,
    corpus_vec: str,
    k: int,
    query_id: str,
    corpus_id: str,
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors.

    The query side is broadcast (small by construction); the corpus is
    scanned once with the cosine evaluated in codegen; ranking is a
    per-query window. Scale path: wrap corpus with an LSH bucket filter
    first (see lsh_signature) to prune candidates."""
    joined = corpus_df.crossJoin(F.broadcast(queries_df))
    scored = joined.withColumn("cos_sim", cosine(F.col(query_vec), F.col(corpus_vec)))
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop(query_vec, corpus_vec)
    )

def _topk_blas_fallback(
    left_df: DataFrame,
    right_df: DataFrame,
    k: int,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
) -> DataFrame:
    """Distributed fallback for :func:`topk_cosine_blas`: cross-score
    with the SQL-lambda fold and rank per left id. Quadratic rows but
    fully partitioned; identical output contract."""
    s = left_df.crossJoin(right_df).select(
        left_id,
        right_id,
        cosine(F.col(left_vec), F.col(right_vec)).alias("cos_sim"),
    )
    w = Window.partitionBy(left_id).orderBy(F.desc("cos_sim"), right_id)
    return s.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def topk_cosine_blas(
    left_df: DataFrame,
    right_df: DataFrame,
    k: int,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors of every left row over the right
    corpus: ``(left_id, right_id, cos_sim, rn)``, rn 1..k ordered by
    (cos_sim DESC, right_id ASC) — byte-identical to the cross-join +
    rank-window formulation, without materializing the n² score rows.

    Shape: SIZE-GUARDED like :func:`dedup_by_cosine`. Under the ceiling
    the right matrix is broadcast once and each partition bulk-scores
    its rows with a real matmul (the n² window shape spends ~40 µs/pair
    in the interpreted fold lambda and then shuffles every score twice
    through two rank windows; this moves O(n) vectors and emits k rows
    per left id). The BLAS-prefilter/exact-verify contract makes the
    ranks provably exact: any candidate excluded by ``blas <
    blas_rank_k − 1e-6`` sits below the true rank-k score in BOTH fold
    orders (a 64-term double dot reorders by <1e-13), so the exact
    left-fold rescore of the surviving band — re-ranked by (fold value
    DESC, id ASC) — returns exactly the window's top-k, tied values and
    all. Past the ceiling: the distributed cross-score fallback."""
    spark = left_df.sparkSession
    # Size probe first: a column-pruned LIMIT+COUNT moves no vectors to
    # the driver, so the over-ceiling path never materializes (and then
    # discards) up to broadcast_max_rows of embeddings. Only once the
    # broadcast path is chosen does the corpus come over as pandas.
    n_right = (
        right_df.select(right_id).limit(broadcast_max_rows + 1).count()
    )
    if n_right > broadcast_max_rows:
        return _topk_blas_fallback(
            left_df, right_df, k, left_id, left_vec, right_id, right_vec
        )
    probe = right_df.select(
        F.col(right_id), _d(F.col(right_vec)).alias("_v")
    ).toPandas()
    corpus_ids_np = probe[right_id].to_numpy()
    corpus_mat = np.vstack(probe["_v"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((corpus_ids_np, corpus_mat))

    out_schema = T.StructType(
        [
            T.StructField(left_id, T.LongType()),
            T.StructField(right_id, T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("rn", T.IntegerType()),
        ]
    )

    def topk_rows(cos, batch, bids, corpus_ids, corpus, k_eff):
        """Fully vectorized band-exact top-k for one score chunk: an
        argpartition over-fetch replaces the per-row nonzero scan (the
        scan was O(rows×|corpus|) in Python-call overhead — it is what
        made the 100k×100k sf10 profile time out), with a provable
        safety check: the over-fetch is exact iff everything it
        EXCLUDED sits below kth−band, i.e. the smallest retained BLAS
        score is already below the band floor. Rows where the tie band
        straddles the over-fetch boundary (vanishingly rare — requires
        ≥pad−k scores within 1e-6 of kth) rescan their full row."""
        m, n_c = cos.shape
        pad = min(k_eff + 8, n_c)
        if pad < n_c:
            idx = np.argpartition(cos, n_c - pad, axis=1)[:, n_c - pad :]
        else:
            idx = np.broadcast_to(np.arange(n_c), (m, n_c)).copy()
        vals = np.take_along_axis(cos, idx, axis=1)
        kth = np.partition(vals, pad - k_eff, axis=1)[:, pad - k_eff]
        floor = kth - _BLAS_BAND
        unsafe = (pad < n_c) & ~(vals.min(axis=1) < floor)
        for i in np.nonzero(unsafe)[0]:  # full-row fallback, rare
            cand = np.nonzero(cos[i] >= floor[i])[0]
            pad_i = len(cand)
            if pad_i > vals.shape[1]:
                grow = pad_i - vals.shape[1]
                idx = np.pad(idx, ((0, 0), (0, grow)), constant_values=0)
                vals = np.pad(
                    vals, ((0, 0), (0, grow)), constant_values=-np.inf
                )
            idx[i, :pad_i] = cand
            vals[i, :pad_i] = cos[i, cand]
            vals[i, pad_i:] = -np.inf
        keep = vals >= floor[:, None]
        rows, cols = np.nonzero(keep)
        cj = idx[rows, cols]
        exact = _fold_cosine_rows(batch[rows], corpus[cj])
        # group by row, order (exact DESC, corpus id ASC) within rows
        order = np.lexsort((corpus_ids[cj], -exact, rows))
        srows = rows[order]
        starts = np.searchsorted(srows, np.arange(m), side="left")
        take = (starts[:, None] + np.arange(k_eff)).ravel()
        return pd.DataFrame(
            {
                left_id: np.repeat(bids, k_eff),
                right_id: corpus_ids[cj][order][take],
                "cos_sim": exact[order][take],
                "rn": np.tile(
                    np.arange(1, k_eff + 1, dtype=np.int32), m
                ),
            }
        )

    def score(batches):
        corpus_ids, corpus = bc.value
        k_eff = min(k, len(corpus_ids))
        c_norm = np.sqrt((corpus * corpus).sum(axis=1))
        chunk = max(1, 32_000_000 // max(1, len(corpus)))
        for pdf_in in batches:
            for lo in range(0, len(pdf_in), chunk):
                sub = pdf_in.iloc[lo : lo + chunk]
                batch = np.vstack(sub["_v"].to_numpy()).astype(np.float64)
                bids = sub[left_id].to_numpy()
                dots = batch @ corpus.T
                b_norm = np.sqrt((batch * batch).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / np.outer(b_norm, c_norm)
                yield topk_rows(
                    cos, batch, bids, corpus_ids, corpus, k_eff
                )

    n_parts = 2 * spark.sparkContext.defaultParallelism
    return (
        left_df.select(F.col(left_id), _d(F.col(left_vec)).alias("_v"))
        .repartition(n_parts)
        .mapInPandas(score, out_schema)
    )
