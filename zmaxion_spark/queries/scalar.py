"""Scalar function families — SURVEY.md §2.8 (#41–#46).

One multi-function query per family (SURVEY §7 Phase 1), each a
row-level projection so every function's output is hash-verified on
every row. Dialect care vs DuckDB is documented inline per function.
All of these are JVM-side Catalyst expressions — whole-stage codegen,
no Python in the hot path (100 TB posture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.registry import query


@query(
    "q_fn_string",
    oracle="""
        SELECT doc_id,
               UPPER(lang) AS lang_up,
               LOWER(source) AS src_lo,
               LENGTH(text) AS n_len,
               SUBSTRING(text, 1, 12) AS head12,
               CONCAT(lang, ':', source) AS lang_src,
               TRIM(CONCAT(' ', lang, ' ')) AS lang_trim,
               LPAD(lang, 5, '_') AS lang_pad,
               INSTR(text, 'scan') AS scan_pos,
               TRANSLATE(lang, 'aeiou', 'AEIOU') AS lang_vowels,
               LEVENSHTEIN(lang, 'en') AS lev_en,
               REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
               REGEXP_REPLACE(lang, '[aeiou]', '*') AS lang_masked,
               REPLACE(source, 'src', 'S') AS src_short,
               STARTS_WITH(text, 'the') AS starts_the,
               SPLIT_PART(source, 'c', 2) AS src_num
        FROM documents
    """,
    operators=(41,),
    doc="String family: case/trim/pad/substr/concat/instr/translate/"
    "levenshtein/regexp_extract/regexp_replace/replace/starts_with/"
    "split_part over documents.",
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_up"),
        F.lower("source").alias("src_lo"),
        F.length("text").alias("n_len"),
        F.substring("text", 1, 12).alias("head12"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_src"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("lang_trim"),
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.instr(F.col("text"), "scan").alias("scan_pos"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_vowels"),
        F.levenshtein(F.col("lang"), F.lit("en")).alias("lev_en"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("lang", "[aeiou]", "*").alias("lang_masked"),
        F.replace(F.col("source"), F.lit("src"), F.lit("S")).alias("src_short"),
        F.startswith(F.col("text"), F.lit("the")).alias("starts_the"),
        F.split_part(F.col("source"), F.lit("c"), F.lit(2)).alias("src_num"),
    )


@query(
    "q_fn_datetime",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS od,
               DATE_TRUNC('month', o_orderdate) AS od_month,
               YEAR(o_orderdate) AS y,
               MONTH(o_orderdate) AS m,
               DAY(o_orderdate) AS d,
               QUARTER(o_orderdate) AS q,
               ISODOW(o_orderdate) AS iso_dow,
               o_orderdate + INTERVAL 30 DAY AS due_ts,
               DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch0,
               CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS unix_sec,
               LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
               STRFTIME(o_orderdate, '%Y-%m-%d') AS od_str
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
    """,
    operators=(42,),
    doc="Date/time family: trunc/extract/interval arithmetic/datediff/"
    "epoch/last_day/format. Spark weekday()+1 == DuckDB ISODOW; Spark "
    "unix_timestamp floors like FLOOR(EPOCH()).",
)
def q_fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.filter(
        od.between(F.lit("1996-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp"))
    ).select(
        "o_orderkey",
        od.cast("date").alias("od"),
        F.date_trunc("month", od).alias("od_month"),
        F.year(od).alias("y"),
        F.month(od).alias("m"),
        F.dayofmonth(od).alias("d"),
        F.quarter(od).alias("q"),
        (F.weekday(od) + 1).alias("iso_dow"),
        (od + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.datediff(od, F.lit("1995-01-01").cast("timestamp")).alias("days_since_epoch0"),
        F.unix_timestamp(od).alias("unix_sec"),
        F.last_day(od).alias("month_end"),
        F.date_format(od, "yyyy-MM-dd").alias("od_str"),
    )


@query(
    "q_fn_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ABS(l_discount - 0.05) AS abs_d,
               ROUND(l_extendedprice, 1) AS price_r1,
               CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_div7,
               CAST(CEIL(l_quantity / 7) AS BIGINT) AS qty_div7_up,
               ROUND(POW(l_discount, 2), 9) AS disc_sq,
               SQRT(l_quantity) AS qty_sqrt,
               ROUND(EXP(l_discount), 9) AS disc_exp,
               ROUND(LN(l_extendedprice), 9) AS price_ln,
               ROUND(LOG10(l_extendedprice), 9) AS price_log10,
               ROUND(SIN(l_tax), 9) AS tax_sin,
               CAST(SIGN(l_discount - 0.05) AS BIGINT) AS disc_sign,
               GREATEST(l_quantity, 25.0) AS qty_hi,
               LEAST(l_quantity, 25.0) AS qty_lo,
               MOD(CAST(l_quantity AS BIGINT), 5) AS qty_mod5
        FROM lineitem
        WHERE l_orderkey <= 1000
    """,
    operators=(43,),
    doc="Math family. All IEEE-deterministic given identical inputs; "
    "ROUND(double,1) agrees on these 2dp-generated values.",
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor(F.col("l_quantity") / 7).alias("qty_div7"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_div7_up"),
        # libm functions can differ by 1 ULP between JVM and DuckDB —
        # round to 9dp on both sides so the value-hash is stable.
        F.round(F.pow("l_discount", F.lit(2)), 9).alias("disc_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.exp("l_discount"), 9).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 9).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 9).alias("price_log10"),
        F.round(F.sin("l_tax"), 9).alias("tax_sin"),
        # signum yields float, DuckDB SIGN yields int8 — cast both to
        # BIGINT so the driver's dtype-sensitive value hash agrees.
        F.signum(F.col("l_discount") - 0.05).cast("bigint").alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod5"),
    )


@query(
    "q_fn_array",
    oracle="""
        SELECT vec_id, label,
               LEN(embedding) AS dim,
               CAST(embedding[1] AS DOUBLE) AS e0,
               CAST(embedding[64] AS DOUBLE) AS e_last,
               LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
                           LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))),
                           (a, x) -> a + x) AS esum,
               LIST_REDUCE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
                           (a, x) -> GREATEST(a, x)) AS emax,
               LEN(LIST_FILTER(embedding, x -> x > 0)) AS n_pos,
               ROUND(CAST(embedding[1] AS DOUBLE) * 2, 5) AS h3x2_0,
               ROUND(CAST(embedding[2] AS DOUBLE) * 2, 5) AS h3x2_1,
               ROUND(CAST(embedding[3] AS DOUBLE) * 2, 5) AS h3x2_2,
               LEAST(ROUND(CAST(embedding[1] AS DOUBLE), 5),
                     ROUND(CAST(embedding[2] AS DOUBLE), 5)) AS head2_min,
               GREATEST(ROUND(CAST(embedding[1] AS DOUBLE), 5),
                        ROUND(CAST(embedding[2] AS DOUBLE), 5)) AS head2_max,
               LIST_CONTAINS(LIST_TRANSFORM(embedding, x -> x > 0.5), TRUE) AS any_gt_half
        FROM embeddings
    """,
    operators=(44,),
    doc="Array family incl. higher-order transform/filter/aggregate "
    "(left-fold parity with DuckDB list_reduce), slice, sort_array, "
    "element access. Array-valued results are flattened to scalars "
    "(string-joined transform, min/max of the sorted slice) because the "
    "driver canonicalizer rejects ARRAY output cells. Embeddings stay "
    "JVM-side — no Python.",
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.col("embedding")[0].cast("double").alias("e0"),
        F.element_at("embedding", 64).cast("double").alias("e_last"),
        F.aggregate(emb_d, F.lit(0.0), lambda a, x: a + x).alias("esum"),
        F.aggregate(emb_d, F.element_at(emb_d, 1), lambda a, x: F.greatest(a, x)).alias("emax"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.element_at(emb_d, 1) * 2, 5).alias("h3x2_0"),
        F.round(F.element_at(emb_d, 2) * 2, 5).alias("h3x2_1"),
        F.round(F.element_at(emb_d, 3) * 2, 5).alias("h3x2_2"),
        F.least(
            F.round(F.element_at(emb_d, 1), 5), F.round(F.element_at(emb_d, 2), 5)
        ).alias("head2_min"),
        F.greatest(
            F.round(F.element_at(emb_d, 1), 5), F.round(F.element_at(emb_d, 2), 5)
        ).alias("head2_max"),
        F.array_contains(F.transform("embedding", lambda x: x > 0.5), True).alias("any_gt_half"),
    )


@query(
    "q_fn_json",
    oracle="""
        SELECT event_id,
               props ->> '$.k' AS k_str,
               CAST(props ->> '$.k' AS BIGINT) AS k_int,
               JSON_VALID(props) AS is_valid,
               CAST(props ->> '$.missing' AS VARCHAR) AS missing_field,
               CASE WHEN CAST(props ->> '$.k' AS BIGINT) >= 50
                    THEN 'high' ELSE 'low' END AS k_bucket
        FROM events
        WHERE event_type = 'purchase'
    """,
    operators=(46,),
    doc="JSON family over events.props: get_json_object / from_json "
    "extraction, validity, missing-path null. JVM-side JSON path eval.",
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_int"),
        F.from_json("props", "k bigint").isNotNull().alias("is_valid"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
        F.when(k.cast("bigint") >= 50, "high").otherwise("low").alias("k_bucket"),
    )


@query(
    "q_fn_hash",
    oracle="""
        SELECT doc_id,
               MD5(text) AS text_md5,
               SHA256(lang) AS lang_sha256,
               (SELECT COUNT(DISTINCT text) FROM documents) AS n_distinct_text
        FROM documents
    """,
    operators=(47,),
    doc="Hash family: md5/sha2 (hex parity with DuckDB); xxhash64 is "
    "engine-internal (different algorithm per engine) so it is verified "
    "structurally — its distinct count must equal the distinct count of "
    "the hashed input.",
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # xxhash64 grouping must be injective on this corpus: distinct
    # hash count == distinct text count (what the oracle computes).
    n_hashes = d.select(F.countDistinct(F.xxhash64("text")).alias("n"))
    return (
        d.select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
            F.sha2(F.col("lang").cast("binary"), 256).alias("lang_sha256"),
        )
        .crossJoin(F.broadcast(n_hashes))
        .withColumnRenamed("n", "n_distinct_text")
    )


@query(
    "q_fn_struct_map",
    oracle="""
        SELECT e.event_id,
               s.user_id AS s_user,
               s.etype   AS s_type,
               m['value_x10'][1] AS m_value
        FROM (
            SELECT event_id,
                   struct_pack(user_id := user_id, etype := event_type) AS s,
                   MAP(['value_x10'], [ROUND(value * 10, 6)]) AS m
            FROM events
            WHERE event_type IN ('click', 'error')
        ) e
    """,
    operators=(45,),
    doc="Struct/map family: named_struct construction + field access, "
    "create_map + element_at. Output flattened to scalars so the hash "
    "compares values, not container reprs.",
)
def q_fn_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    s = F.named_struct(F.lit("user_id"), F.col("user_id"), F.lit("etype"), F.col("event_type"))
    m = F.create_map(F.lit("value_x10"), F.round(F.col("value") * 10, 6))
    return ev.select(
        "event_id",
        s.getField("user_id").alias("s_user"),
        s.getField("etype").alias("s_type"),
        F.element_at(m, "value_x10").alias("m_value"),
    )


@query(
    "q_variant_json",
    oracle="""
        SELECT event_type,
               user_id % 100 AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(SUM(event_id) AS BIGINT) AS sum_id0
        FROM events
        GROUP BY 1, 2
    """,
    operators=(46, 135),
    doc="Semi-structured VARIANT type (#135, new in Spark 4): every "
    "grouped value is routed through a VARIANT round-trip — the raw "
    "props JSON is parsed with parse_json and probed with "
    "variant_get('$.k'), and the typed columns are re-encoded to a "
    "nested JSON document (struct + array), re-parsed as VARIANT, and "
    "extracted back via nested paths ('$.u.bucket', '$.ids[0]') — so "
    "the oracle (straight column arithmetic in DuckDB) proves the "
    "encode→VARIANT→path-extract cycle is lossless for strings, "
    "nested ints and array elements. Scale: VARIANT keeps the parsed "
    "binary form columnar (no per-row re-parsing downstream), the "
    "shredded-path future of semi-structured corpora at 100 TB.",
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct((F.col("user_id") % 100).alias("bucket")).alias("u"),
            F.array("event_id", "user_id").alias("ids"),
        )
    )
    v = e.select(
        F.parse_json(doc).alias("v"),
        F.parse_json("props").alias("p"),
    )
    return (
        v.select(
            F.expr("variant_get(v, '$.t', 'string')").alias("event_type"),
            F.expr("variant_get(v, '$.u.bucket', 'bigint')").alias("bucket"),
            F.expr("variant_get(v, '$.ids[0]', 'bigint')").alias("id0"),
            F.expr("variant_get(p, '$.k', 'bigint')").alias("k"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum("id0").cast("bigint").alias("sum_id0"),
        )
    )
