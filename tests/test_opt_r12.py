"""Round-12 optimization parity tests.

Same discipline as test_opt_r11: every optimization that rewires an
operator's internals gets a focused bit-parity test — the fast path
must produce byte-identical results to the expression tree it
replaced (the driver's oracle gate hashes packed doubles).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_blocked_pair_max_cosine_bit_parity(spark):
    """The cell-folded census kernel must reproduce the pair-join
    census (blocked_cluster_pairs + greatest/max) bit-for-bit —
    clusters smaller than one block, multi-block clusters and
    single-member clusters (no pairs)."""
    import math

    from zmaxion_spark.functions import similarity as S
    from zmaxion_spark.functions.dedup import blocked_cluster_pairs

    dim, block = 5, 4
    rows = []
    # cluster 0: 11 members (3 blocks of 4) — live multi-block triangle
    for i in range(11):
        rows.append((0, 100 + i,
                     [float(((i * 13 + j * 7) % 9) - 4) / 3.0 for j in range(dim)]))
    # cluster 1: 3 members incl. an exact duplicate pair
    rows.append((1, 200, [-1.0, 2.0, 0.5, 0.0, 3.0]))
    rows.append((1, 201, [1.0] * dim))
    rows.append((1, 202, [1.0] * dim))  # exact dup pair -> cos 1.0
    # cluster 2: single member — contributes no pairs
    rows.append((2, 300, [2.0] * dim))
    df = spark.createDataFrame(rows, "cluster int, vec_id long, v array<double>")

    withn_struct = df.select(
        "cluster", "vec_id",
        F.struct(F.col("v").alias("v"), S.norm(F.col("v")).alias("n")).alias("p"),
    )
    pairs = blocked_cluster_pairs(withn_struct, payload_col="p", block=block)
    cos = S.dot_arrow(F.col("payload_a.v"), F.col("payload_b.v")) / (
        F.col("payload_a.n") * F.col("payload_b.n")
    )
    ref = (
        pairs.select("cluster", F.greatest("id_a", "id_b").alias("pid"),
                     cos.alias("cos"))
        .groupBy("cluster", "pid").agg(F.max("cos").alias("max_cos"))
        .collect()
    )
    withn_flat = df.select("cluster", "vec_id", "v", S.norm(F.col("v")).alias("n"))
    fast = (
        S.blocked_pair_max_cosine(withn_flat, block=block)
        .groupBy("cluster", "pid").agg(F.max("max_cos").alias("max_cos"))
        .collect()
    )
    a = {(r["cluster"], r["pid"]): r["max_cos"] for r in ref}
    b = {(r["cluster"], r["pid"]): r["max_cos"] for r in fast}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k] and math.copysign(1.0, a[k]) == math.copysign(
            1.0, b[k]
        ), (k, a[k], b[k])
    # single-member cluster contributed no census rows
    assert not any(c == 2 for c, _ in a)


def test_blocked_pair_max_cosine_refuses_zero_norm(spark):
    """A 0-norm vector has no cosine: the kernel must fail loudly, not
    turn it into a NULL census entry (ADVICE r12)."""
    import pytest

    from zmaxion_spark.functions import similarity as S

    df = spark.createDataFrame(
        [(1, 200, [0.0, 0.0]), (1, 201, [1.0, 1.0])],
        "cluster int, vec_id long, v array<double>",
    ).select("cluster", "vec_id", "v", S.norm(F.col("v")).alias("n"))
    with pytest.raises(Exception, match="non-zero norms"):
        S.blocked_pair_max_cosine(df, block=4).collect()


def test_dot_arrow_refuses_ragged_batch():
    """A null or ragged batch raises the descriptive precondition error
    instead of numpy's bare shape mismatch (ADVICE r12)."""
    import pandas as pd
    import pytest

    from zmaxion_spark.functions import similarity as S

    ragged = pd.Series([[1.0, 2.0], [1.0, 2.0, 3.0]])
    dense = pd.Series([[1.0, 2.0], [3.0, 4.0]])
    with pytest.raises(ValueError, match="non-null, fixed-dimension"):
        S.dot_arrow.func(ragged, dense)
    with pytest.raises(ValueError, match="non-null, fixed-dimension"):
        S.dot_arrow.func(pd.Series([None, None]), dense)


def test_dot_arrow_bit_parity(spark):
    """dot_arrow must match the interpreted zip_with/aggregate left
    fold bit-for-bit, including on fold-order-sensitive vectors where
    a pairwise (numpy-sum-style) order would diverge."""
    from zmaxion_spark.functions import similarity as S

    dim = 8
    rows = []
    # deterministic pseudo-random pairs
    for i in range(257):
        va = [float(((i * 31 + j * 17) % 13) - 6) / 3.0 for j in range(dim)]
        vb = [float(((i * 7 + j * 29) % 11) - 5) / 7.0 for j in range(dim)]
        rows.append((i, va, vb))
    # fold-order-sensitive: big/small cancellation — ((0+1e16)+1)-1e16
    # loses the 1, a pairwise order may not. Parity requires the SAME
    # loss on both paths.
    rows.append((1000, [1e16, 1.0, -1e16, 1.0, 0.0, 0.0, 0.0, 0.0],
                 [1.0] * dim))
    rows.append((1001, [1.0, 1e16, 1.0, -1e16, 0.0, 0.0, 0.0, 0.0],
                 [1.0] * dim))
    # signed zero first element: fold starts at +0.0, 0.0 + (-0.0) = +0.0
    rows.append((1002, [-0.0] * dim, [1.0] * dim))
    # subnormals
    rows.append((1003, [5e-324, 5e-324] + [0.0] * (dim - 2), [1.0] * dim))
    df = spark.createDataFrame(
        rows, "id long, va array<double>, vb array<double>"
    )
    both = df.select(
        "id",
        S.dot(F.col("va"), F.col("vb")).alias("slow"),
        S.dot_arrow(F.col("va"), F.col("vb")).alias("fast"),
    ).collect()
    for r in both:
        # bit-equality (covers -0.0 vs +0.0), not just ==
        assert math.copysign(1.0, r["slow"]) == math.copysign(1.0, r["fast"])
        assert r["slow"] == r["fast"], (r["id"], r["slow"], r["fast"])
