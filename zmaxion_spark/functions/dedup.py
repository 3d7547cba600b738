"""Deduplication operators — SURVEY.md §2.11 #69–#70 plus SimHash and
n-gram-Jaccard near-dup from the training-data-pipeline surface.

Design for 100 TB:
- exact dedup shuffles an 8-byte fingerprint, never the document;
- MinHash-LSH turns the n² near-dup problem into |bands| equi-joins
  on short band keys, with exact Jaccard re-scoring only on candidate
  pairs;
- connected components for duplicate clustering is the iterative
  min-id propagation loop (bounded iterations, one shuffle each) —
  no GraphFrames dependency.

Hash choice: production path uses xxhash64 (fast, JVM); the
oracle-paired queries use md5 minhash because DuckDB reproduces it
byte-for-byte — semantics identical, only the hash family differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.functions.text import fingerprint, normalize


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """#69: keep the lowest-id row per identical normalized content.

    Deterministic tie-break (min id). Groups by the 64-bit fingerprint
    so only (hash, id) shuffles at scale."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) affine coefficients from md5 — plan-time
    constants identical on every engine and executor."""
    import hashlib

    out = []
    for j in range(n_hashes):
        h = hashlib.md5(f"mh:{seed}:{j}".encode()).digest()
        a = (int.from_bytes(h[:8], "big") % (MINHASH_P - 1)) + 1  # never 0
        b = int.from_bytes(h[8:], "big") % MINHASH_P
        out.append((a, b))
    return out


def minhash_signature_grouped(
    df: DataFrame, id_col: str, shingle_col: Column, n_hashes: int
) -> DataFrame:
    """MinHash signatures via explode → hash-once → k min-aggregates.

    The array-lambda variant re-evaluates the base md5 per derived
    hash (Catalyst's CollapseProject inlines the common subexpression
    into every consumer), so the hot path explodes instead: each
    shingle is md5-hashed exactly once, then the k signatures are k
    cheap affine ``min`` aggregates in ONE groupBy — one shuffle of
    narrow (id, x) rows, linear and spill-friendly at 100 TB."""
    x = F.conv(F.substring(F.md5(F.col("_sh").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    ex = df.select(id_col, F.explode(shingle_col).alias("_sh")).select(
        id_col, x.alias("_x")
    )
    aggs = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{j}")
        for j, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def band_keys(sig_prefix: str, n_hashes: int, band_size: int) -> list[Column]:
    """LSH banding: hash each contiguous group of band_size sig rows."""
    assert n_hashes % band_size == 0
    bands = []
    for b in range(n_hashes // band_size):
        cols = [F.col(f"{sig_prefix}{j}") for j in range(b * band_size, (b + 1) * band_size)]
        bands.append(F.md5(F.concat_ws("|", *cols).cast("binary")).alias(f"band{b}"))
    return bands


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def simhash(tokens: Column, bits: int = 16) -> Column:
    """SimHash signature: per bit, sign of Σ(±1 over token hashes).

    Near-duplicate documents land within small Hamming distance; 16
    bits keeps it one BIGINT column."""
    def bit_merge(j: int):
        # NB: binding j via a lambda default would change the lambda's
        # arity and make Spark treat it as an extra lambda variable.
        def merge(acc: Column, t: Column) -> Column:
            bit = F.shiftright(F.xxhash64(t), j).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return merge

    out = F.lit(0).cast("bigint")
    for j in range(bits):
        contrib = F.aggregate(tokens, F.lit(0).cast("bigint"), bit_merge(j))
        out = out + F.when(contrib >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def simhash_table(df: DataFrame, id_col: str, feature_col: Column, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document over an array feature column
    (typically 3-gram shingles — unigram features collide for any two
    docs with similar word frequencies, far too coarse for near-dup).

    Each feature is hashed once (explode → xxhash64 → 64 shift/sign
    aggregates in a single groupBy) instead of re-hashing per bit in a
    fold — one shuffle on the id, linear work at 100 TB."""
    tok = df.select(id_col, F.explode(feature_col).alias("_tok"))
    h = tok.withColumn("_h", F.xxhash64("_tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(bits)
    ]
    per_doc = h.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("bigint")
    for j in range(bits):
        sig = sig + F.when(F.col(f"_b{j}") >= 0, F.lit(1 << j) if j < 63 else F.lit(-(1 << 63))).otherwise(F.lit(0))
    return per_doc.select(id_col, sig.alias("simhash"))


def simhash_md5_chunks(df: DataFrame, id_col: str, feature_col: Column) -> DataFrame:
    """64-bit SimHash carried as 4 × 16-bit chunk columns (c0..c3),
    built from an md5 base hash that DuckDB reproduces byte-for-byte
    (`CAST('0x'||SUBSTR(MD5(f),i,8) AS BIGINT)` == Spark
    `conv(substring(md5(binary f),i,8),16,10)` — the same parity trick
    the MinHash oracle uses).

    Two 32-bit md5 words give the 64 signature bits; the chunk-column
    representation sidesteps BIGINT sign-bit gymnastics on BOTH engines
    and is exactly what the pigeonhole blocking joins on anyway. Same
    explode → hash-once → sign-aggregate shape as ``simhash_table``:
    one shuffle on the id, linear at 100 TB."""
    tok = df.select(id_col, F.explode(feature_col).alias("_t"))
    md5 = F.md5(F.col("_t").cast("binary"))
    h = tok.select(
        id_col,
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("_x0"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("_x1"),
    )
    aggs = []
    for j in range(64):
        src = F.col("_x0") if j < 32 else F.col("_x1")
        bit = F.shiftright(src, j % 32).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"_b{j}"))
    per_doc = h.groupBy(id_col).agg(*aggs)
    chunk_cols = []
    for c in range(4):
        chunk = F.lit(0)
        for j in range(16):
            chunk = chunk + F.when(
                F.col(f"_b{16 * c + j}") >= 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
        chunk_cols.append(chunk.cast("bigint").alias(f"c{c}"))
    return per_doc.select(id_col, *chunk_cols)


def simhash_chunk_near_pairs(
    sig_df: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-pair blocking over chunked SimHash signatures (c0..c3):
    posexplode the 4 chunks, one self-equi-join on (chunk index, chunk
    value) — by pigeonhole any pair within Hamming ≤ 3 shares a chunk —
    then exact Hamming as the sum of per-chunk popcounts."""
    assert max_hamming < 4, (
        "4-chunk pigeonhole blocking is only complete for Hamming <= 3"
    )
    chunks = sig_df.select(
        F.col(id_col).alias("_id"),
        "c0",
        "c1",
        "c2",
        "c3",
        F.posexplode(F.array("c0", "c1", "c2", "c3")).alias("ci", "ck"),
    )
    a = chunks.select(
        F.col("_id").alias("id_a"),
        *[F.col(f"c{c}").alias(f"ca{c}") for c in range(4)],
        "ci",
        "ck",
    )
    b = chunks.select(
        F.col("_id").alias("id_b"),
        *[F.col(f"c{c}").alias(f"cb{c}") for c in range(4)],
        "ci",
        "ck",
    )
    hamming = sum(
        F.bit_count(F.col(f"ca{c}").bitwiseXOR(F.col(f"cb{c}"))) for c in range(4)
    )
    return (
        a.join(b, ["ci", "ck"])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("ci", "ck")
        .distinct()
        .withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _prefix_candidate_pairs(
    df: DataFrame, id_col: str, arr_col: str, threshold: float
) -> DataFrame:
    """PPJoin prefix-filter candidate pairs (#258's machinery).

    Tokens are ordered globally by (document frequency ASC, token ASC);
    each set keeps only its ``|s| - ceil(t*|s|) + 1`` rarest tokens as
    its prefix, and candidates come from a prefix-token equi-join. Any
    pair with Jaccard >= t MUST share a prefix token under a common
    total order, so the filter is lossless for the final >= t verify.
    The frequency table is vocabulary-sized (one row per distinct
    token) and broadcasts; the shuffled candidate stream carries only
    the rare ~(1-t) fraction of each set's tokens."""
    toks = df.select(F.col(id_col).alias("_pid"), F.explode(arr_col).alias("_t"))
    freq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    pos_w = Window.partitionBy("_pid").orderBy("_df", "_t")
    sized = toks.join(F.broadcast(freq), "_t").select(
        "_pid",
        "_t",
        F.row_number().over(pos_w).alias("_pos"),
        F.count(F.lit(1)).over(Window.partitionBy("_pid")).alias("_sz"),
    )
    prefix = sized.filter(
        F.col("_pos") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    ).select("_pid", "_t")
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "_t")
        .filter(F.col("a._pid") < F.col("b._pid"))
        .select(F.col("a._pid").alias("_ga"), F.col("b._pid").alias("_gb"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    *,
    n_hashes: int = 12,
    band_size: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = 64,
) -> DataFrame:
    """#70 MinHash-LSH near-dup pairs with the SCALE.md bucket-size cap.

    Returns ``(doc_a, doc_b, jacc)``: every unordered id pair that
    shares at least one LSH band bucket AND has exact Jaccard >=
    threshold — byte-identical output to the classic unguarded band
    self-join, with its two quadratic failure modes bounded:

    1. **Duplication collapse.** Ids with identical shingle SETS are
       grouped under a 64-bit fingerprint of the sorted set first; all
       signature, banding, and verification work happens once per
       DISTINCT set, and member pairs expand only at the very end.
       Within-group pairs are emitted directly at jacc = 1.0 —
       identical sets share every band by construction, so they are
       always LSH candidates, and J = n/n is exactly 1.0 in IEEE on
       both engines. A corpus that is 99% copies (the measured sf10
       100-way replication profile that went 15x superlinear) now
       costs the same as its distinct 1% until the final
       (id, id, jacc) expansion, which is output cardinality and
       therefore irreducible.
    2. **Band-bucket cap.** A count pre-pass sizes every (band_idx,
       band_key) bucket at GROUP level. Buckets <= bucket_cap run the
       classic equi-self-join (candidate volume ∝ bucket² is fine once
       bucket <= cap). Oversized buckets — boilerplate corpora where
       many DISTINCT sets collide on a band — divert to the PPJoin
       prefix-filtered candidate join over the affected groups only,
       re-checked for actual band co-occurrence so the LSH contract
       (pairs must share a band) is preserved exactly. The prefix
       filter retains every pair with J >= threshold and the final
       exact verify drops sub-threshold pairs on either path, so the
       diversion is lossless; worst-case work falls from O(bucket²)
       to O(pairs that can actually pass the threshold)."""
    n_bands = n_hashes // band_size
    # Group fingerprint: md5 (128-bit) over a LENGTH-PREFIXED encoding
    # of the sorted set. Length prefixes make the encoding injective
    # even when a shingle contains the separator byte, and 128 bits
    # push accidental fingerprint collisions (which would silently
    # merge distinct sets and emit false jacc=1.0 pairs) below 2^-64
    # even at 10^12 distinct sets — vs the realistic birthday collision
    # a 64-bit xxhash64 digest admits at ~4B sets.
    canon = df.select(
        F.col(id_col).alias("_id"), F.array_sort(set_col).alias("_ss")
    ).withColumn(
        "_gid",
        F.md5(
            F.concat_ws(
                "\x00",
                F.transform(
                    "_ss",
                    lambda s: F.concat(F.length(s).cast("string"), F.lit(":"), s),
                ),
            )
        ),
    )
    # Three small frames are each consumed by 2-4 downstream joins —
    # checkpoint so the shingle/signature pipelines run once, not once
    # per consumer (the REGRESSIONS.md loop-invariant rule).
    members = canon.select("_id", "_gid").localCheckpoint(eager=True)
    groups = (
        canon.select("_gid", "_ss")
        .dropDuplicates(["_gid"])
        .localCheckpoint(eager=True)
    )
    sig = minhash_signature_grouped(
        groups, "_gid", F.col("_ss"), n_hashes
    ).localCheckpoint(eager=True)

    bands = sig.select(
        "_gid",
        F.posexplode(F.array(*band_keys("h", n_hashes, band_size))).alias(
            "_bi", "_band"
        ),
    )
    sizes = bands.groupBy("_bi", "_band").agg(F.count(F.lit(1)).alias("_bn"))
    tagged = bands.join(sizes, ["_bi", "_band"]).localCheckpoint(eager=True)

    small = tagged.filter(F.col("_bn") <= bucket_cap)
    cand_small = (
        small.select(F.col("_gid").alias("_ga"), "_bi", "_band")
        .join(small.select(F.col("_gid").alias("_gb"), "_bi", "_band"), ["_bi", "_band"])
        .filter(F.col("_ga") < F.col("_gb"))
        .select("_ga", "_gb")
    )

    heavy_ids = tagged.filter(F.col("_bn") > bucket_cap).select("_gid").distinct()
    heavy = groups.join(heavy_ids, "_gid")
    barr = sig.select(
        "_gid", F.array(*band_keys("h", n_hashes, band_size)).alias("_bk")
    )
    share_band = None
    for j in range(n_bands):
        term = F.col("_bka")[j] == F.col("_bkb")[j]
        share_band = term if share_band is None else (share_band | term)
    cand_heavy = (
        _prefix_candidate_pairs(heavy, "_gid", "_ss", threshold)
        .join(barr.select(F.col("_gid").alias("_ga"), F.col("_bk").alias("_bka")), "_ga")
        .join(barr.select(F.col("_gid").alias("_gb"), F.col("_bk").alias("_bkb")), "_gb")
        .filter(share_band)
        .select("_ga", "_gb")
    )

    cand = cand_small.unionByName(cand_heavy).distinct()
    gpairs = (
        cand.join(groups.select(F.col("_gid").alias("_ga"), F.col("_ss").alias("_sa")), "_ga")
        .join(groups.select(F.col("_gid").alias("_gb"), F.col("_ss").alias("_sb")), "_gb")
        .select("_ga", "_gb", jaccard(F.col("_sa"), F.col("_sb")).alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )
    cross = (
        gpairs.join(members.select(F.col("_gid").alias("_ga"), F.col("_id").alias("_ida")), "_ga")
        .join(members.select(F.col("_gid").alias("_gb"), F.col("_id").alias("_idb")), "_gb")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "jacc",
        )
    )
    within = (
        members.select("_gid", F.col("_id").alias("_ida"))
        .join(members.select("_gid", F.col("_id").alias("_idb")), "_gid")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias("doc_a"),
            F.col("_idb").alias("doc_b"),
            F.lit(1.0).alias("jacc"),
        )
    )
    return cross.unionByName(within)


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    set_col,
    block_cols: list[str],
    *,
    threshold: float,
    block_cap: int = 64,
) -> DataFrame:
    """Equality-blocked exact-Jaccard pairs with the #263 bucket cap.

    Returns ``(doc_a, doc_b, jacc)``: every unordered id pair sharing
    the SAME values of ``block_cols`` with exact Jaccard >= threshold —
    byte-identical to the naive blocked self-join, with its quadratic
    failure mode (block population grows linearly with the corpus, so
    within-block pair volume grows quadratically) bounded exactly like
    ``minhash_lsh_pairs``:

    1. **Duplication collapse**: ids with identical (block, sorted set)
       are grouped under a 128-bit fingerprint; all candidate and
       verify work happens once per DISTINCT group, and within-group
       pairs emit directly at jacc = 1.0 (n/n is exactly 1.0 in IEEE
       on both engines).
    2. **Block cap**: blocks with <= block_cap distinct groups run the
       classic equi-self-join. Oversized blocks divert to the PPJoin
       prefix filter over BLOCK-COMPOSITE tokens (each token prefixed
       with its block key, so candidates can only arise within a
       block; Jaccard over the composite sets equals Jaccard over the
       originals inside one block). The prefix filter is lossless for
       the final >= threshold verify, so the diversion changes work,
       not output: worst-case falls from O(block²) to O(pairs that can
       actually pass the threshold)."""
    bcols = [F.col(c) for c in block_cols]
    enc = F.concat_ws(
        "\x00",
        *[c.cast("string") for c in bcols],
        F.concat_ws(
            "\x00",
            F.transform(
                "_ss", lambda s: F.concat(F.length(s).cast("string"), F.lit(":"), s)
            ),
        ),
    )
    canon = (
        df.select(F.col(id_col).alias("_id"), *block_cols, F.array_sort(set_col).alias("_ss"))
        .withColumn("_gid", F.md5(enc))
    )
    members = canon.select("_id", "_gid").localCheckpoint(eager=True)
    groups = (
        canon.select("_gid", *block_cols, "_ss")
        .dropDuplicates(["_gid"])
        .localCheckpoint(eager=True)
    )
    sizes = groups.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_bn"))
    tagged = groups.join(sizes, block_cols)

    small = tagged.filter(F.col("_bn") <= block_cap)
    cand_small = (
        small.select(F.col("_gid").alias("_ga"), *block_cols)
        .join(small.select(F.col("_gid").alias("_gb"), *block_cols), block_cols)
        .filter(F.col("_ga") < F.col("_gb"))
        .select("_ga", "_gb")
    )

    heavy = tagged.filter(F.col("_bn") > block_cap)
    bkey = F.concat_ws("\x01", *[c.cast("string") for c in bcols])
    heavy_ct = heavy.select(
        "_gid",
        F.transform("_ss", lambda s: F.concat(bkey, F.lit("\x01"), s)).alias("_ct"),
    )
    cand_heavy = _prefix_candidate_pairs(heavy_ct, "_gid", "_ct", threshold)

    cand = cand_small.unionByName(cand_heavy).distinct()
    gpairs = (
        cand.join(groups.select(F.col("_gid").alias("_ga"), F.col("_ss").alias("_sa")), "_ga")
        .join(groups.select(F.col("_gid").alias("_gb"), F.col("_ss").alias("_sb")), "_gb")
        .select("_ga", "_gb", jaccard(F.col("_sa"), F.col("_sb")).alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )
    cross = (
        gpairs.join(members.select(F.col("_gid").alias("_ga"), F.col("_id").alias("_ida")), "_ga")
        .join(members.select(F.col("_gid").alias("_gb"), F.col("_id").alias("_idb")), "_gb")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "jacc",
        )
    )
    within = (
        members.select("_gid", F.col("_id").alias("_ida"))
        .join(members.select("_gid", F.col("_id").alias("_idb")), "_gid")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias("doc_a"),
            F.col("_idb").alias("doc_b"),
            F.lit(1.0).alias("jacc"),
        )
    )
    return cross.unionByName(within)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 20) -> DataFrame:
    """Duplicate clustering: smallest-id label propagation.

    Returns (node, component). Each iteration is one groupBy shuffle;
    converges in O(log(diameter)) rounds for dup clusters (which are
    near-cliques, so usually 2-3 rounds)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .union(edges.select(F.col(src).alias("a"), F.col(src).alias("b")))
        .union(edges.select(F.col(dst).alias("a"), F.col(dst).alias("b")))
        .distinct()
    )
    labels = sym.groupBy("a").agg(F.min("b").alias("comp"))
    for _ in range(max_iter):
        # relabel: comp <- min(comp) over neighbors ∪ self
        joined = (
            sym.join(labels, on="a")
            .select(F.col("b").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("new_comp"))
        )
        merged = labels.join(joined, labels.a == joined.node).select(
            "a", F.least("comp", "new_comp").alias("next_comp"), "comp"
        )
        changed = merged.filter(F.col("next_comp") != F.col("comp")).limit(1).count()
        labels = merged.select("a", F.col("next_comp").alias("comp")).localCheckpoint()
        if changed == 0:
            break
    return labels.select(F.col("a").alias("node"), "comp")


def blocked_cluster_pairs(
    assigned: DataFrame,
    *,
    cluster_col: str = "cluster",
    id_col: str = "vec_id",
    payload_col: str = "v",
    block: int = 64,
    salt: str = "sdblk",
) -> DataFrame:
    """Enumerate every unordered within-cluster pair ONCE via a blocked
    triangle join — the SemDeDup pair stage without the hot-key hazard.

    The naive ``a.join(b, [cluster]).filter(id_b > id_a)`` puts ALL of
    a cluster's pair work on ONE shuffle key, so with k clusters the
    join has exactly k keys and each carries O(n/k) rows — quadratic
    AND maximally skewed (round-9 verdict #4). This operator is the
    lossless diversion: members get a deterministic md5 block id in
    ``[0, ceil(n_c / block))``, both sides replicate over the
    triangle's (bi <= bj) cells, and the pair join runs on the
    near-uniform composite key (cluster, bi, bj) — every key carries
    ``block`` rows per side IN EXPECTATION (md5 is a hash split, not a
    balanced rank, so a hash-skewed bucket can exceed the bound; the
    binomial tail makes a 2x overload vanishingly rare for block=64),
    so AQE sees k·B²/2 evenly sized cells instead of k monsters. A
    rank-based split (row_number over the cluster) would give a true
    worst-case bound but re-introduces the one-key-per-cluster window
    shuffle this operator exists to remove, so the in-expectation
    hash split is the deliberate choice; pair-set losslessness never
    depends on balance.
    Replication cost is n_c·B/2 rows per cluster (factor ``block``
    below candidate volume); the enumerated pair SET is byte-identical
    to the naive join (diagonal cells keep id_a < id_b; off-diagonal
    cells meet exactly once), so any downstream census is unchanged.

    Returns (cluster, id_a, payload_a, id_b, payload_b) with each
    unordered pair exactly once (orientation unspecified off the
    diagonal — symmetric metrics like cosine fold to identical bits
    either way because IEEE multiply commutes elementwise).
    """
    c, i, p = cluster_col, id_col, payload_col
    bsz = assigned.groupBy(c).agg(F.count(F.lit(1)).alias("_nc")).select(
        c, F.ceil(F.col("_nc") / F.lit(block)).cast("int").alias("_nb")
    )
    blk = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt + ":"), F.col(i).cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.col("_nb"),
    ).cast("int")
    mem = (
        assigned.join(F.broadcast(bsz), c)
        .select(c, F.col(i), F.col(p), blk.alias("_blk"))
        .localCheckpoint(eager=True)  # consumed by both join sides
    )
    cells = (
        bsz.select(
            c,
            F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_bi"),
            "_nb",
        )
        .select(
            c,
            "_bi",
            F.explode(F.sequence(F.col("_bi"), F.col("_nb") - 1)).alias("_bj"),
        )
    )
    ca = cells.join(
        mem.select(
            c,
            F.col("_blk").alias("_bi"),
            F.col(i).alias("id_a"),
            F.col(p).alias("payload_a"),
        ),
        [c, "_bi"],
    )
    cb = cells.join(
        mem.select(
            c,
            F.col("_blk").alias("_bj"),
            F.col(i).alias("id_b"),
            F.col(p).alias("payload_b"),
        ),
        [c, "_bj"],
    )
    return (
        ca.join(cb, [c, "_bi", "_bj"])
        .filter((F.col("_bi") < F.col("_bj")) | (F.col("id_a") < F.col("id_b")))
        .select(c, "id_a", "payload_a", "id_b", "payload_b")
    )
