"""Training-data pipeline composition queries (beyond SURVEY §2).

The operations a 100 TB pretraining-corpus build runs between "raw
documents" and "training shards": deterministic train/val/test
splitting, context-window packing, PII-style redaction,
language-balanced sampling, and embedding quantization. All are pure
DataFrame algebra (codegen'd expressions, window functions, HOF
lambdas) — no Python in any hot path — and every one is oracle-paired
via the md5 hash-parity and left-fold disciplines proven in round 1.

Scale notes per query are inline; the common theme: determinism comes
from content/id hashes (never runtime RNG), so every engine, executor
and re-run agrees — the property that makes a 100 TB pipeline
resumable and auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


def hash_bucket(col: Column, n_buckets: int) -> Column:
    """Deterministic [0, n_buckets) bucket from an md5 word — the
    engine-portable twin of xxhash64-mod (DuckDB reproduces md5
    byte-for-byte; production can swap xxhash64 in, same shape)."""
    word = F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    return word % n_buckets


_SQL_HASH_WORD = "CAST(('0x' || SUBSTR(MD5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------


@query(
    "q_train_test_split",
    oracle=f"""
        SELECT doc_id,
               {_SQL_HASH_WORD.format(col='doc_id')} % 100 AS bucket,
               CASE WHEN {_SQL_HASH_WORD.format(col='doc_id')} % 100 < 80 THEN 'train'
                    WHEN {_SQL_HASH_WORD.format(col='doc_id')} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    operators=(47, 66, 77),
    doc="Deterministic 80/10/10 train/val/test split by id-hash bucket. "
    "Hash-based (not random) so membership is stable across runs, "
    "engines, and incremental corpus additions — a row-local projection "
    "with zero shuffles at any scale.",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), 100)
    return d.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# Context-window packing
# ---------------------------------------------------------------------------


@query(
    "q_context_packing",
    oracle="""
        WITH t AS (SELECT doc_id, source,
                          LEN(STRING_SPLIT(text, ' ')) AS n_tok
                   FROM documents),
        c AS (SELECT doc_id, source, n_tok,
                     CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM t)
        SELECT doc_id, source, n_tok,
               CAST(cum - n_tok AS BIGINT) AS stream_offset,
               CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id
        FROM c
    """,
    operators=(32, 66, 78),
    doc="Context-window packing: documents are laid into a per-source "
    "token stream (cumulative count over a deterministic doc_id order) "
    "and assigned the 2048-token pack their offset starts in — the "
    "sequence-packing pass before shard writing. One window shuffle on "
    "source; at 100 TB the partition key is (source, day-bucket) so no "
    "single stream serializes.",
)
def q_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = d.select("doc_id", "source", n_tok.alias("n_tok"))
    cum = F.sum("n_tok").over(w).cast("bigint")
    off = (cum - F.col("n_tok")).cast("bigint")
    return base.select(
        "doc_id",
        "source",
        "n_tok",
        off.alias("stream_offset"),
        F.floor(off / 2048).cast("bigint").alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# PII-style redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+"
_NUM_RE = "[0-9]+"


@query(
    "q_pii_redact",
    oracle=f"""
        WITH t AS (SELECT doc_id,
                          text || ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com ref ' || CAST(doc_id * 7 AS VARCHAR) AS txt
                   FROM documents),
        r AS (SELECT doc_id, txt,
                     REGEXP_REPLACE(REGEXP_REPLACE(txt, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                    '{_NUM_RE}', '<NUM>', 'g') AS redacted
              FROM t)
        SELECT doc_id,
               LEN(REGEXP_EXTRACT_ALL(txt, '{_EMAIL_RE}')) AS n_emails,
               LEN(REGEXP_EXTRACT_ALL(REGEXP_REPLACE(txt, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                      '{_NUM_RE}')) AS n_numbers,
               SUBSTR(redacted, LENGTH(redacted) - 39, 40) AS redacted_tail
        FROM r
    """,
    operators=(41, 66, 79),
    doc="PII-style scrubbing: emails then digit runs replaced by typed "
    "placeholders, with per-doc hit counts (inputs deterministically "
    "dirtied — fixture text carries no PII). Pure codegen regex — the "
    "shape of every policy-filter pass over a pretraining corpus; "
    "row-local, zero shuffles.",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        (F.col("doc_id") * 7).cast("string"),
    )
    no_email = F.regexp_replace(txt, _EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(no_email, _NUM_RE, "<NUM>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(txt, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_NUM_RE), 0)).alias("n_numbers"),
        F.substring(redacted, F.length(redacted) - 39, F.lit(40)).alias(
            "redacted_tail"
        ),
    )


# ---------------------------------------------------------------------------
# Language-balanced sampling
# ---------------------------------------------------------------------------


@query(
    "q_lang_balanced_sample",
    oracle=f"""
        SELECT lang, doc_id, rnk FROM (
            SELECT lang, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {_SQL_HASH_WORD.format(col='doc_id')}, doc_id
                   ) AS rnk
            FROM documents
        ) WHERE rnk <= 40
    """,
    operators=(30, 66, 80),
    doc="Language-balanced resampling: an equal per-language quota drawn "
    "by deterministic hash order (rank over md5(doc_id)) — the "
    "rebalancing pass that stops high-resource languages from drowning "
    "the mix. One shuffle on lang; the rank window is the same "
    "top-k-per-group shape as #30/#33.",
)
def q_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 40)
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8)
# ---------------------------------------------------------------------------

_SQL_EMB_D = "LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))"
_SQL_ABSMAX = f"LIST_AGGREGATE(LIST_TRANSFORM({_SQL_EMB_D}, x -> ABS(x)), 'max')"


@query(
    "q_embedding_quantize",
    oracle=f"""
        WITH s AS (SELECT vec_id, embedding,
                          {_SQL_ABSMAX} / 127.0 AS scale
                   FROM embeddings)
        SELECT vec_id,
               ROUND(scale, 9) AS scale_r,
               CAST(ROUND(CAST(embedding[1] AS DOUBLE) / scale) AS BIGINT) AS q0,
               CAST(ROUND(CAST(embedding[64] AS DOUBLE) / scale) AS BIGINT) AS q_last,
               ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                   LIST_TRANSFORM({_SQL_EMB_D},
                       x -> ABS(x - ROUND(x / scale) * scale))),
                   (a, x) -> a + x), 6) AS recon_err
        FROM s
    """,
    operators=(44, 71, 81),
    doc="Symmetric int8 embedding quantization: per-vector scale = "
    "max|x|/127, element q = round(x/scale), plus the L1 reconstruction "
    "error as a left-fold (IEEE-identical to the DuckDB list_reduce "
    "twin). The compression pass before ANN index shipping — 4x smaller "
    "vectors, all codegen'd HOF lambdas, zero shuffles, zero Python.",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(emb_d, F.abs)) / 127.0
    s = e.select("vec_id", emb_d.alias("_v"), scale.alias("_scale"))
    q_at = lambda i: F.round(F.element_at("_v", i) / F.col("_scale")).cast("bigint")  # noqa: E731
    err = F.aggregate(
        F.transform(
            "_v",
            lambda x: F.abs(x - F.round(x / F.col("_scale")) * F.col("_scale")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return s.select(
        "vec_id",
        F.round("_scale", 9).alias("scale_r"),
        q_at(1).alias("q0"),
        q_at(64).alias("q_last"),
        F.round(err, 6).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# Fragment-level dedup (duplicated-paragraph removal)
# ---------------------------------------------------------------------------

_SQL_FRAGS = """
    LIST_TRANSFORM(RANGE(1, LEN(toks) - 6, 8),
                   i -> ARRAY_TO_STRING(toks[i:i+7], ' '))
"""
_SQL_FRAG_FP = "CAST(('0x' || SUBSTR(MD5(frag), 1, 15)) AS BIGINT)"


@query(
    "q_fragment_dedup",
    oracle=f"""
        WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
        fr AS (SELECT doc_id, UNNEST({_SQL_FRAGS}) AS frag
               FROM t WHERE LEN(toks) >= 8),
        fp AS (SELECT DISTINCT doc_id, {_SQL_FRAG_FP} AS fp FROM fr),
        df AS (SELECT fp, COUNT(*) AS n_docs FROM fp GROUP BY fp),
        pd AS (SELECT fp.doc_id,
                      COUNT(*) AS n_frags,
                      COUNT(*) FILTER (WHERE df.n_docs > 1) AS n_dup_frags
               FROM fp JOIN df USING (fp)
               GROUP BY fp.doc_id)
        SELECT doc_id, n_frags, n_dup_frags,
               ROUND(CAST(n_dup_frags AS DOUBLE) / n_frags, 6) AS dup_frac,
               CAST(n_dup_frags AS DOUBLE) / n_frags >= 0.5 AS drop_doc
        FROM pd
    """,
    operators=(66, 69, 70, 82),
    doc="Fragment-level dedup (the C4/RefinedWeb duplicated-paragraph "
    "pass): documents split into non-overlapping 8-token fragments, "
    "each fingerprinted to a 60-bit md5 word; a fragment is 'duplicated' "
    "if any OTHER document carries it, and documents where >= 50% of "
    "fragments are duplicated get the drop flag. Scale: the corpus-wide "
    "state is (fingerprint, doc count) — 8-byte keys, two hash "
    "aggregations and one equi-join, never document text in a shuffle.",
)
def q_fragment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Tokenize once (see q_contamination: an unhoisted split inside the
    # index lambda re-splits the text per fragment position).
    pre = d.select("doc_id", F.split("text", " ").alias("_toks")).filter(
        F.size("_toks") >= 8
    )
    # sequence() is stop-inclusive where DuckDB RANGE is exclusive:
    # last full-fragment start is n-7 (8 tokens ending exactly at n).
    frags = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 7, F.lit(8)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 8)),
    )
    fr = pre.select("doc_id", F.explode(frags).alias("frag"))
    fp = fr.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("frag").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("fp"),
    ).distinct()
    df_counts = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    pd_ = (
        fp.join(df_counts, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frags"),
            F.count(F.when(F.col("n_docs") > 1, 1)).alias("n_dup_frags"),
        )
    )
    dup_frac = F.col("n_dup_frags").cast("double") / F.col("n_frags")
    return pd_.select(
        "doc_id",
        "n_frags",
        "n_dup_frags",
        F.round(dup_frac, 6).alias("dup_frac"),
        (dup_frac >= 0.5).alias("drop_doc"),
    )


# ---------------------------------------------------------------------------
# #90 CDC merge / upsert (latest-version-wins)
# ---------------------------------------------------------------------------


@query(
    "q_merge_upsert",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   0 AS version
            FROM orders
        ),
        upd AS (
            SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                   o_totalprice * CAST(1.05 AS DOUBLE) AS o_totalprice,
                   1 AS version
            FROM orders WHERE o_orderkey % 7 = 0
        ),
        ins AS (
            SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
                   'N' AS o_orderstatus, o_totalprice, 1 AS version
            FROM orders WHERE o_orderkey % 11 = 0
        ),
        u AS (
            SELECT * FROM base
            UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY version DESC) AS rn
            FROM u
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
        FROM r WHERE rn = 1
    """,
    operators=(30, 37, 90),
    doc="CDC merge (upsert): a deterministic change-set — updates for "
    "keys divisible by 7 (status 'U', +5% price), inserts for keys "
    "divisible by 11 under fresh ids — applied onto the orders base "
    "with latest-version-wins semantics (union all + row_number over "
    "version desc). This is the lakehouse MERGE INTO re-expressed as "
    "pure DataFrame algebra. Scale: one shuffle on the merge key; on "
    "a real table the change-set is tiny relative to base, so AQE "
    "turns the rank-dedup's exchange into the only wide stage — and "
    "a storage format with merge-on-read (Delta/Iceberg) would push "
    "this same plan into the commit protocol.",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("version"),
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("o_totalprice"),
        F.lit(1).alias("version"),
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(1).alias("version"),
    )
    from zmaxion_spark.functions.merge import merge_upsert

    return merge_upsert(
        base, upd.unionByName(ins), "o_orderkey", "version"
    )


# ---------------------------------------------------------------------------
# #115 referential-integrity audit
# ---------------------------------------------------------------------------


@query(
    "q_fk_audit",
    oracle="""
        SELECT 'lineitem.l_orderkey->orders' AS fk,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders.o_custkey->customer', COUNT(*),
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem.l_partkey->part', COUNT(*),
               CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    """,
    operators=(14, 24, 115),
    doc="Referential-integrity audit: orphan counts for three foreign "
    "keys in one report — the ingest health check that gates a 100 TB "
    "load. Each edge is a left join reduced to (total, orphans) "
    "scalars; dimension sides broadcast, the two lineitem edges share "
    "one cached scan under Spark's reuse, and nothing wider than a "
    "key column travels. At scale run the audit per ingest partition "
    "and union the partials — the aggregate is mergeable by "
    "construction.",
)
def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, fk: str) -> DataFrame:
        j = child.select(ckey).join(
            F.broadcast(parent.select(pkey)), F.col(ckey) == F.col(pkey), "left"
        )
        return j.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    return (
        audit(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(audit(orders, "o_custkey", cust, "c_custkey", "orders.o_custkey->customer"))
        .unionAll(audit(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey->part"))
    )


# ---------------------------------------------------------------------------
# #116 snapshot diff (table-to-table CDC audit)
# ---------------------------------------------------------------------------


@query(
    "q_snapshot_diff",
    oracle="""
        WITH snap AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM orders
            WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_totalprice, 'N'
            FROM orders WHERE o_orderkey % 13 = 0
        ),
        d AS (
            SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS key,
                   CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                        WHEN a.o_orderkey IS NULL THEN 'added'
                        WHEN a.o_totalprice <> b.o_totalprice
                             OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                        ELSE 'unchanged' END AS verdict
            FROM orders a FULL OUTER JOIN snap b ON a.o_orderkey = b.o_orderkey
        )
        SELECT verdict, COUNT(*) AS n,
               CAST(MIN(key) AS BIGINT) AS min_key,
               CAST(MAX(key) AS BIGINT) AS max_key
        FROM d GROUP BY verdict
    """,
    operators=(14, 90, 116),
    doc="Snapshot diff: classify every key across two table versions as "
    "added / removed / changed / unchanged via ONE full outer join — "
    "the audit that verifies a CDC feed or backfill did what it "
    "claimed (the verification side of q_merge_upsert). The 'new' "
    "snapshot is derived deterministically from orders (drops, "
    "mutations, inserts), so parity is exact. Scale: the join "
    "shuffles both sides once on the key; comparing row hashes "
    "instead of columns generalizes to wide tables (xxhash64(struct) "
    "per side, same plan shape).",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    mutated = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    inserted = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    snap = mutated.unionAll(inserted).alias("b")
    a = o.alias("a")
    j = a.join(snap, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    verdict = (
        F.when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.o_orderkey").isNull(), "added")
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("key"),
            verdict.alias("verdict"),
        )
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("key").cast("bigint").alias("min_key"),
            F.max("key").cast("bigint").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# #124 benchmark-contamination screen (train/test overlap)
# ---------------------------------------------------------------------------

_SQL_SHINGLES8 = """
    LIST_TRANSFORM(RANGE(1, LEN(toks) - 6, 1),
                   i -> ARRAY_TO_STRING(toks[i:i+7], ' '))
"""


@query(
    "q_contamination",
    oracle=f"""
        WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
        sh AS (SELECT doc_id, UNNEST({_SQL_SHINGLES8}) AS frag
               FROM t WHERE LEN(toks) >= 8),
        fp AS (SELECT DISTINCT doc_id, {_SQL_FRAG_FP} AS fp FROM sh),
        bench AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 50 = 0),
        train AS (SELECT * FROM fp WHERE doc_id % 50 <> 0)
        SELECT train.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN bench.fp IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               ROUND(CAST(SUM(CASE WHEN bench.fp IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS contamination_frac,
               CAST(SUM(CASE WHEN bench.fp IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) >= 0.05 AS quarantine
        FROM train LEFT JOIN bench ON train.fp = bench.fp
        GROUP BY train.doc_id
    """,
    operators=(66, 68, 124),
    doc="Benchmark-contamination screen: sliding 8-token shingles of "
    "every training document fingerprinted and probed against the "
    "eval set's shingle fingerprints (docs with doc_id%50==0 stand in "
    "for the benchmark); documents with >= 5% overlapping shingles "
    "are quarantined — the train/test-overlap gate every pretraining "
    "corpus build runs before shipping. Scale: the benchmark side is "
    "tiny and BROADCAST (8-byte fingerprints, not text); the training "
    "corpus streams through one explode + one aggregate — corpus "
    "text never shuffles, and the probe is a broadcast hash lookup "
    "per shingle.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Tokenize ONCE into a materialized array column — referencing the
    # split expression inside the per-index lambda would re-split the
    # document per shingle position (O(tokens^2) string work; the
    # hoisted form measured 2x faster at sf0.1).
    pre = d.select("doc_id", F.split("text", " ").alias("_toks")).filter(
        F.size("_toks") >= 8
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 7, F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 8)),
    )
    sh = pre.select("doc_id", F.explode(shingles).alias("frag"))
    fp = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("frag").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("fp"),
    ).distinct()
    bench = (
        fp.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("fp").alias("b_fp"))
        .distinct()
    )
    train = fp.filter(F.col("doc_id") % 50 != 0)
    probed = train.join(F.broadcast(bench), train.fp == bench.b_fp, "left")
    hit = F.sum(F.when(F.col("b_fp").isNotNull(), 1).otherwise(0)).cast("bigint")
    frac = hit.cast("double") / F.count(F.lit(1))
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        hit.alias("n_contaminated"),
        F.round(frac, 6).alias("contamination_frac"),
        (frac >= 0.05).alias("quarantine"),
    )


# ---------------------------------------------------------------------------
# #297 content-defined chunking dedup (the shift-robust fragment pass)
# ---------------------------------------------------------------------------

_CDC_WIN = 3      # tokens hashed per boundary decision
_CDC_DIV = 16     # boundary when window-hash % DIV == 0 -> ~16-token chunks


@query(
    "q_cdc_chunk_dedup",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   UNNEST(STRING_SPLIT(text, ' ')) AS tok,
                   UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS pos
            FROM documents
        ),
        b AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN pos >= {_CDC_WIN} AND
                        CAST(('0x' || SUBSTR(MD5(
                            LAG(tok, 2) OVER w || ' ' ||
                            LAG(tok, 1) OVER w || ' ' || tok), 1, 15))
                            AS BIGINT) % {_CDC_DIV} = 0
                        THEN 1 ELSE 0 END AS cut
            FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        cid AS (
            SELECT doc_id, pos, tok,
                   COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS chunk
            FROM b
        ),
        ch AS MATERIALIZED (
            SELECT doc_id, chunk,
                   CAST(COUNT(*) AS BIGINT) AS clen,
                   CAST(('0x' || SUBSTR(MD5(
                       STRING_AGG(tok, ' ' ORDER BY pos)), 1, 15))
                       AS BIGINT) AS fp
            FROM cid GROUP BY doc_id, chunk
        ),
        df AS MATERIALIZED (
            SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM ch GROUP BY fp
        )
        SELECT ch.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(ch.clen) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks,
               CAST(CAST(CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*)
                         AS DECIMAL(38,9)) AS DOUBLE) AS dup_frac
        FROM ch JOIN df ON df.fp = ch.fp
        GROUP BY ch.doc_id
    """,
    operators=(66, 70, 82, 297),
    doc=f"Content-defined chunking dedup (#297), the shift-robust "
    "upgrade to fixed-window fragment dedup (#82): chunk boundaries "
    f"cut where the md5 word of the last {_CDC_WIN} tokens ≡ 0 mod "
    f"{_CDC_DIV} (≈{_CDC_DIV}-token expected chunks), so the SAME "
    "boundaries re-emerge after content shifts — prepend a paragraph "
    "and a fixed-window fragmenter re-fingerprints the ENTIRE "
    "document while CDC changes O(1) chunks near the edit "
    "(test_cdc_boundaries_survive_prefix_shift proves it on this "
    "corpus). Per doc: chunk census, cross-document duplicate-chunk "
    "count (distinct-doc fingerprint census), duplicate fraction. "
    "The rolling decision reuses the engine-portable md5-word hash — "
    "deliberately a LOOKUP-style gear hash, not a multiplicative "
    "rolling hash, so both engines compute it from the same 3-token "
    "substring with zero state. Scale: boundary flags are a per-doc "
    "window pass, corpus-wide state is (15-hex fingerprint, doc "
    "count) — text never shuffles beyond its own document.",
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    win_txt = F.concat(
        F.lag("tok", 2).over(w), F.lit(" "),
        F.lag("tok", 1).over(w), F.lit(" "), F.col("tok"),
    )
    word = F.conv(F.substring(F.md5(win_txt), 1, 15), 16, 10).cast("long")
    b = tok.select(
        "doc_id",
        "pos",
        "tok",
        F.when(
            (F.col("pos") >= _CDC_WIN) & (word % _CDC_DIV == 0), 1
        )
        .otherwise(0)
        .alias("cut"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = b.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum("cut").over(w_run), F.lit(0)).alias("chunk"),
    )
    structs = F.array_sort(F.collect_list(F.struct("pos", "tok")))
    ch = cid.groupBy("doc_id", "chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("clen"),
        F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.transform(structs, lambda s: s.tok), " "
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("fp"),
    )
    df_ = ch.groupBy("fp").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        ch.join(df_, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("clen").cast("bigint").alias("n_tokens"),
            F.sum(dup).cast("bigint").alias("n_dup_chunks"),
            (F.sum(dup).cast("double") / F.count(F.lit(1)))
            .cast("decimal(38,9)")
            .cast("double")
            .alias("dup_frac"),
        )
    )
