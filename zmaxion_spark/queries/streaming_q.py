"""Streaming graded queries — SURVEY.md §2.9 (#3, #6, #21, #22,
#48–#57) plus the round-3 stream operators: temporal point-in-time
join (#134), the custom Python streaming source (#137), and the
stateful CEP funnel (#142).

Each query replays the events fixture through a real Structured
Streaming topology (file source → watermark → windows/state/joins →
memory sink, availableNow trigger) and returns the materialized
result; the DuckDB oracle is the equivalent batch SQL. Stream/batch
parity IS the correctness check (SURVEY §5.3) — and here it is
hash-exact, not just rows-only. Window starts are compared as epoch
seconds (integers) to stay timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import DEC
from zmaxion_spark.queries.registry import query
from zmaxion_spark.session import scoped_conf
from zmaxion_spark.streaming.pipeline import Pipeline, run_available_now
from zmaxion_spark.streaming.sources import stream_events

_SQL_BUCKET = "CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / {w}) * {w} AS BIGINT)"


@query(
    "q_stream_tumbling",
    oracle=f"""
        SELECT {_SQL_BUCKET.format(w=300)} AS w_start_sec,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    operators=(3, 48, 49, 55, 56, 57),
    doc="Tumbling 5-minute windowed aggregation over the replayed event "
    "stream (watermark + complete mode + availableNow + checkpoint). "
    "Oracle: the equivalent batch bucketing — parity is hash-exact.",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        Pipeline.from_events(spark, sf_dir)
        .watermark("ts", "10 minutes")
        .tumbling("5 minutes", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .to_memory("tumbling", mode="complete")
    )
    return t.select(
        F.unix_timestamp(F.col("window.start")).alias("w_start_sec"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "q_stream_sliding",
    oracle=f"""
        WITH b AS (
            SELECT {_SQL_BUCKET.format(w=300)} AS w_start_sec, event_type FROM events
            UNION ALL
            SELECT {_SQL_BUCKET.format(w=300)} - 300 AS w_start_sec, event_type FROM events
        )
        SELECT w_start_sec, event_type, COUNT(*) AS n
        FROM b GROUP BY 1, 2
    """,
    operators=(50,),
    doc="Sliding 10-minute/5-minute windows: every event lands in "
    "exactly two epoch-aligned windows; oracle unions the two shifted "
    "bucketings.",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        Pipeline.from_events(spark, sf_dir)
        .watermark("ts", "10 minutes")
        .sliding("10 minutes", "5 minutes", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .to_memory("sliding", mode="complete")
    )
    return t.select(
        F.unix_timestamp(F.col("window.start")).alias("w_start_sec"), "event_type", "n"
    )


@query(
    "q_stream_session",
    oracle="""
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        m AS (SELECT user_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                               OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    operators=(51,),
    doc="Gap-based session windows (30-minute gap) per user via "
    "session_window; oracle is the lag+cumsum batch twin. Boundary "
    "semantics: a gap of exactly the timeout starts a new session "
    "(session end is exclusive) — oracle uses >= to match.",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        Pipeline.from_events(spark, sf_dir)
        .watermark("ts", "1 hour")
        .session("30 minutes", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .to_memory("session", mode="complete")
    )
    return t.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
    )


@query(
    "q_stream_dedup",
    oracle="""
        SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
        FROM events
        GROUP BY event_type
    """,
    operators=(52, 55),
    doc="Streaming dedup: the stream unioned with itself (every event "
    "duplicated) → watermark + dropDuplicates(event_id) → append sink; "
    "aggregated after materialization. Oracle: batch COUNT(DISTINCT).",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = stream_events(spark, sf_dir)
    s2 = stream_events(spark, sf_dir)
    deduped = (
        s1.union(s2)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    t = run_available_now(deduped, "dedup", mode="append")
    return t.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


@query(
    "q_stream_dedup_watermark",
    oracle="""
        SELECT event_type, COUNT(DISTINCT event_id) AS n_unique,
               CAST(SUM(user_id) AS BIGINT) AS chk
        FROM events
        GROUP BY event_type
    """,
    operators=(52, 54, 162),
    doc="Watermark-BOUNDED streaming dedup (#162, "
    "dropDuplicatesWithinWatermark): unlike dropDuplicates — whose "
    "per-key state lives forever and grows with every key ever seen — "
    "this evicts dedup state older than the watermark delay, the only "
    "formulation whose state is O(keys-per-window) instead of "
    "O(keys-ever) on an unbounded 100 TB/day stream. Duplicates here "
    "arrive at identical event times (the stream unioned with itself), "
    "so bounded and unbounded dedup provably agree and the batch "
    "COUNT(DISTINCT) oracle certifies both. event_id is unique in the "
    "fixture (asserted in tests), so SUM(user_id) over the deduped "
    "survivors equals the plain batch SUM — a value check, not just a "
    "count check.",
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = stream_events(spark, sf_dir)
    s2 = stream_events(spark, sf_dir)
    deduped = (
        s1.union(s2)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    t = run_available_now(deduped, "dedup_wm", mode="append")
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("user_id").cast("bigint").alias("chk"),
    )


@query(
    "q_stream_static_join",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    operators=(21,),
    doc="Stream-static enrichment join: the event stream joined to the "
    "static customer dimension (broadcast per micro-batch), windowless "
    "global agg in complete mode.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )
    return run_available_now(agg, "stream_static", mode="complete")


@query(
    "q_stream_stream_join",
    oracle="""
        WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
                   WHERE event_type = 'purchase')
        SELECT p.user_id, COUNT(*) AS n_pairs
        FROM p JOIN c ON p.user_id = c.user_id
                     AND p.p_ts >= c.c_ts
                     AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
        GROUP BY p.user_id
    """,
    operators=(22,),
    doc="Watermarked stream-stream join: purchases matched to clicks by "
    "the same user within the preceding 30 minutes; both sides carry "
    "watermarks so join state is evictable.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"
        ),
    )
    t = run_available_now(joined, "ss_join", mode="append")
    return t.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "q_stream_stateful_counters",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
    """,
    operators=(53, 55),
    doc="Arbitrary per-key state (#53): applyInPandasWithState running "
    "counters per user (the ECS system-over-component-state analog). "
    "Update-mode emissions are monotone, so max(n_events) per user on "
    "the materialized sink equals the batch count.",
)
def q_stream_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.stateful import running_user_counters

    ev = stream_events(spark, sf_dir)
    t = run_available_now(running_user_counters(ev), "counters", mode="update")
    return t.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "q_stream_stateful_v2",
    oracle="""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(value) AS max_value
        FROM events
        GROUP BY user_id
    """,
    operators=(53, 114, 166),
    doc="transformWithState EXECUTED end-to-end (#114, closed round 5): "
    "Spark 4's arbitrary-stateful API — typed ValueState handles, an "
    "explicit StatefulProcessor lifecycle — running per-user "
    "(n_events, max_value) counters over the event replay, graded "
    "hash-exact against batch SQL. Update-mode emissions are "
    "monotone, so max() per user on the materialized sink equals the "
    "batch aggregate. Requires (a) google.protobuf in workers AND the "
    "pre-init runner — routed in via zmaxion_spark._protoshim through "
    "sc.environment's PYTHONPATH, which Spark merges into every "
    "forked Python process; a real cluster pip-installs protobuf "
    "instead — and (b) the RocksDB state store (transformWithState "
    "state lives in multiple column families, which the default "
    "HDFS-backed store rejects), set scoped-and-restored. The #53 "
    "applyInPandasWithState twin (q_stream_stateful_counters) grades "
    "the same topology on the legacy API.",
    bench=False,  # same replay as #53; API-surface parity demo
)
def q_stream_stateful_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark._protoshim import scoped_worker_protobuf
    from zmaxion_spark.streaming.stateful import running_counters_v2

    ev = stream_events(spark, sf_dir).select("user_id", "value")
    with scoped_conf(spark, _ROCKSDB_STATE), scoped_worker_protobuf(spark) as shim:
        if not shim.enabled:
            raise RuntimeError(
                "transformWithState needs a google.protobuf runtime "
                "(pip install protobuf>=6.33, or the sandbox fallback "
                "in zmaxion_spark/_protoshim)"
            )
        t = run_available_now(running_counters_v2(ev), "counters_v2", mode="update")
    return t.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
    )


@query(
    "q_stream_sink_parquet",
    oracle="""
        SELECT user_id % 10 AS user_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        WHERE event_type = 'click'
        GROUP BY 1
    """,
    operators=(6, 56, 57),
    doc="Parquet SINK graded end-to-end (#6): the filtered event stream "
    "drains through writeStream.format('parquet') (checkpointed "
    "offsets, exactly-once file commit), the committed files are read "
    "back, and the aggregate over them must hash-match batch SQL over "
    "the source — proving the sink lost and duplicated nothing. A "
    "fresh sink+checkpoint dir per run keeps the query rerunnable.",
    bench=False,  # writes real files; correctness demo, not a bench shape
)
def q_stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from zmaxion_spark.streaming.pipeline import run_to_parquet

    out = tempfile.mkdtemp(prefix="zmx-sinkpq-") + "/out"
    ev = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    run_to_parquet(ev.select("event_id", "user_id", "value"), out)
    back = spark.read.parquet(out)
    return back.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


@query(
    "q_stream_foreach_batch",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
    operators=(7, 56, 57),
    doc="foreachBatch SINK graded end-to-end (#7): every micro-batch is "
    "handed to a user function that appends it (tagged with its batch "
    "id) to a parquet side-channel — the idempotent-upsert escape "
    "hatch — and the union of all batches must aggregate hash-exactly "
    "to batch SQL over the source, proving per-batch delivery is "
    "complete and non-overlapping.",
    bench=False,  # writes real files; correctness demo, not a bench shape
)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from zmaxion_spark.streaming.pipeline import run_foreach_batch

    out = tempfile.mkdtemp(prefix="zmx-feb-") + "/out"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    ev = stream_events(spark, sf_dir).select("event_id", "event_type", "value")
    run_foreach_batch(ev, sink)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


@query(
    "q_stream_left_outer_join",
    oracle="""
        WITH cutoff AS (
            SELECT LEAST(MAX(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
                         MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
                   - INTERVAL 61 MINUTE AS wm
            FROM events
        ),
        p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts FROM events
              WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts FROM events
              WHERE event_type = 'click')
        SELECT p_user AS user_id,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN c_user IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unconverted
        FROM p
        LEFT JOIN c ON p_user = c_user
                   AND c_ts >= p_ts - INTERVAL 30 MINUTE
                   AND c_ts <= p_ts
        JOIN cutoff ON p_ts < wm
        GROUP BY p_user
    """,
    operators=(22, 54, 107),
    doc="Watermarked stream-stream LEFT OUTER join: purchases "
    "null-padded when no click preceded them within 30 minutes — the "
    "conversion-attribution topology. Outer rows only emit once the "
    "global watermark (min over both streams' max event time, minus "
    "the 1 h delay) passes the purchase, so the graded region is "
    "clipped to p_ts < that watermark on BOTH engines — the tail "
    "still sitting in join state at drain end is excluded, which is "
    "exactly Structured Streaming's late-data contract, made "
    "explicit. Scale: join state is watermark-evicted on both sides; "
    "the cutoff scalar comes from a broadcast 1-row aggregate.",
)
def q_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
        "leftOuter",
    )
    t = run_available_now(joined, "ss_left_outer", mode="append")
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 61 MINUTES")
        ).alias("wm")
    )
    return (
        t.join(F.broadcast(wm))
        .filter(F.col("p_ts") < F.col("wm"))
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("c_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unconverted"),
        )
    )



@query(
    "q_stream_temporal_join",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN event_type IS DISTINCT FROM
                             LAG(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                        THEN 1 ELSE 0 END AS is_change
            FROM events
        ),
        changes AS (SELECT * FROM marked WHERE is_change = 1),
        dim AS (
            SELECT user_id, event_type AS status,
                   ts AS valid_from,
                   LEAD(ts) OVER w AS valid_to,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
            FROM changes
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT d.status, d.version,
               COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e
        JOIN dim d ON e.user_id = d.user_id
                  AND e.ts >= d.valid_from
                  AND (d.valid_to IS NULL OR e.ts < d.valid_to)
        GROUP BY d.status, d.version
    """,
    operators=(21, 99, 134),
    doc="Temporal point-in-time join (#134) — the Flink 'temporal "
    "table join' pattern Spark lacks natively: each streamed event is "
    "enriched with the SCD2 dimension version that was valid AT ITS "
    "EVENT TIME (user_id equality + [valid_from, valid_to) interval "
    "containment), then rolled up per (status, version). The interval "
    "tiling guarantees exactly one match per event, so the stream "
    "never fans out. Scale: the dimension history is the static side "
    "(rebuilt per micro-batch from the batch view, broadcast when "
    "small); join state is NOT accumulated — stream-static joins are "
    "stateless per batch. The batch oracle recomputes the same "
    "dimension and join, so correctness covers derivation + "
    "containment semantics end-to-end.",
)
def q_stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev_batch = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w_all))
    changes = ev_batch.select(
        "user_id", "event_type", "ts", "event_id", changed.alias("is_change")
    ).filter("is_change")
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w_all).alias("valid_to"),
        F.row_number().over(w_all).cast("bigint").alias("version"),
    )
    ev = stream_events(spark, sf_dir)
    joined = ev.join(
        F.broadcast(dim),
        (ev.user_id == dim.d_user)
        & (ev.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (ev.ts < dim.valid_to)),
    )
    # Distinct aggs are unsupported on streams: count per (status,
    # version, user) in-stream, then roll users up on the materialized
    # sink (same two-level pattern as q_stream_dedup).
    agg = joined.groupBy("status", "version", "user_id").agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    t = run_available_now(agg, "temporal_join", mode="complete")
    return t.groupBy("status", "version").agg(
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )


@query(
    "q_stream_python_source",
    oracle="""
        WITH o AS (SELECT UNNEST(generate_series(0, 1999)) AS off),
        m AS (SELECT off,
                     ['click','view','purchase','signup','refund']
                         [((off * 7) % 5) + 1] AS etype,
                     CAST((off * 31) % 1000 AS BIGINT) AS amount
              FROM o)
        SELECT etype,
               COUNT(*) AS n,
               CAST(SUM(amount) AS BIGINT) AS total_amount,
               CAST(MAX(off) AS BIGINT) AS max_offset
        FROM m GROUP BY etype
    """,
    operators=(5, 57, 137),
    doc="Custom STREAMING Python data source (#137, Spark 4 "
    "simpleStreamReader) consumed incrementally: the 2000-message "
    "simulated topic is drained by FIVE successive availableNow runs "
    "sharing one checkpoint — each run resumes from the committed "
    "offset and appends exactly its new 500 messages to the parquet "
    "sink (the scheduled batch-over-stream operating pattern). The "
    "aggregate over the sink must hash-match the oracle's "
    "generate_series arithmetic, proving offset tracking, resume, and "
    "exactly-once file commit across restarts — the remaining "
    "behavioral surface of the #5 topic-ingress slot, minus only the "
    "network client. A fresh sink+checkpoint per call keeps the query "
    "rerunnable.",
    bench=False,  # writes real files, loops 5 streaming runs
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from zmaxion_spark.streaming.pipeline import run_to_parquet
    from zmaxion_spark.streaming.pytopic import stream_topic

    base = tempfile.mkdtemp(prefix="zmx-pyds-")
    out, ckpt = base + "/out", base + "/ckpt"
    for _ in range(5):  # 4 batches of 500 + one empty confirm run
        run_to_parquet(stream_topic(spark, rows=2000, step=500), out, checkpoint=ckpt)
    back = spark.read.parquet(out)
    return back.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").cast("bigint").alias("total_amount"),
        F.max("offset").cast("bigint").alias("max_offset"),
    )


@query(
    "q_stream_funnel",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'click' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'view' AND e.ts > s1.t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        )
        SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS step1_click,
               CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS step2_view,
               CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS step3_purchase
    """,
    operators=(53, 141, 142),
    doc="STREAMING funnel (#142): the q_funnel_steps sequence detector "
    "run as a per-user state machine (applyInPandasWithState) over "
    "the replayed event stream — earliest click, earliest view "
    "strictly after it, earliest purchase strictly after that, "
    "tracked in executor state and emitted as the deepest step "
    "reached. After the availableNow drain, per-step user counts must "
    "hash-match the BATCH funnel oracle — stream/batch parity for "
    "stateful sequence detection (CEP), the core claim of a stream "
    "processing engine. Scale: state is 3 longs per user; emissions "
    "are per-batch update rows, and the final aggregate groups the "
    "materialized sink, never the stream.",
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.stateful import funnel_state

    ev = stream_events(spark, sf_dir)
    t = run_available_now(funnel_state(ev), "funnel", mode="update")
    last = t.groupBy("user_id").agg(F.max("step").alias("step"))
    # coalesce(0): a drained-empty stream must still emit typed zero
    # counts (SUM over zero rows is NULL -> pandas float64 -> dtype
    # mismatch vs the oracle's BIGINT), matching the oracle's COUNT.
    return last.agg(
        F.coalesce(F.sum(F.when(F.col("step") >= 1, 1).otherwise(0)), F.lit(0)).cast("bigint").alias("step1_click"),
        F.coalesce(F.sum(F.when(F.col("step") >= 2, 1).otherwise(0)), F.lit(0)).cast("bigint").alias("step2_view"),
        F.coalesce(F.sum(F.when(F.col("step") >= 3, 1).otherwise(0)), F.lit(0)).cast("bigint").alias("step3_purchase"),
    )


# ---------------------------------------------------------------------------
# #166 RocksDB state store backend
# ---------------------------------------------------------------------------

_ROCKSDB_STATE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
}


@query(
    "q_stream_rocksdb_state",
    oracle="""
        SELECT CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT)
                   AS w_start_sec,
               user_id % 16 AS user_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    operators=(48, 57, 166),
    doc="RocksDB state store (#166): the same watermark + tumbling-"
    "window topology as #48, but the per-window aggregation state "
    "lives in an embedded RocksDB instance per partition instead of "
    "the default JVM-heap HDFSBackedStateStore — the backend that "
    "makes 100 TB-scale state feasible (state >> executor heap spills "
    "to local SSD; changelog checkpointing ships deltas, not "
    "snapshots; no GC pressure from millions of state rows). "
    "Hash-exact against the batch oracle, which proves the backend "
    "swap is semantics-invariant — it's a storage decision, not a "
    "query change. Provider conf is set only around materialization "
    "and restored; RocksDB-specific progress metrics are pinned in "
    "tests/test_streaming.py.",
    bench=False,  # same topology as q_stream_tumbling; backend demo
)
def q_stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scoped_conf(spark, _ROCKSDB_STATE):
        t = (
            Pipeline.from_events(spark, sf_dir)
            .watermark("ts", "10 minutes")
            .tumbling("10 minutes", (F.col("user_id") % 16).alias("user_bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
            )
            .to_memory("rocksdb_state", mode="complete")
        )
    return t.select(
        F.unix_timestamp(F.col("window.start")).alias("w_start_sec"),
        "user_bucket",
        "n",
        "total_value",
    )


@query(
    "q_stream_anomaly",
    oracle="""
        WITH c AS (
            SELECT user_id, event_id, ts, value,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        w AS (
            SELECT user_id, event_id, value, cents,
                   COUNT(*) OVER f AS n_prev,
                   CAST(SUM(cents) OVER f AS BIGINT) AS s_prev,
                   CAST(SUM(cents * cents) OVER f AS BIGINT) AS s2_prev
            FROM c
            WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT user_id, event_id, value, n_prev,
                   (cents - CAST(s_prev AS DOUBLE) / n_prev)
                   / SQRT((CAST(s2_prev AS DOUBLE)
                           - CAST(s_prev AS DOUBLE) * s_prev / n_prev)
                          / n_prev) AS z
            FROM w
            WHERE n_prev >= 10
              AND (CAST(s2_prev AS DOUBLE)
                   - CAST(s_prev AS DOUBLE) * s_prev / n_prev) > 0
        )
        SELECT user_id, event_id, value, n_prev, ROUND(z, 9) AS z
        FROM z WHERE ABS(z) > 3
    """,
    operators=(53, 92, 215),
    doc="Prequential streaming anomaly detection (#215): each event is "
    "z-scored against the running mean/std of its user's PRIOR events "
    "only (test-then-update — a flagged event never contaminates its "
    "own baseline), flagged at |z| > 3 after a 10-event warmup, then "
    "folded into per-key state (applyInPandasWithState). Parity is "
    "hash-exact because the state is three integers (count, cents sum, "
    "squared-cents sum — order-independent), z is one IEEE expression "
    "over exact operands mirrored by the oracle's integer window sums, "
    "and rounding happens JVM-side. Scale shape: state is 24 bytes per "
    "key forever, emissions are append-mode (each anomaly exactly "
    "once), and the same topology runs unchanged on an unbounded "
    "topic — the oracle grades the replayed-history equivalence.",
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.stateful import prequential_zscore

    ev = stream_events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    t = run_available_now(prequential_zscore(ev), "anomalies", mode="append")
    return t.select(
        "user_id", "event_id", "value", "n_prev", F.round("z", 9).alias("z")
    )


@query(
    "q_stream_countmin",
    oracle=None,  # set below — shared with the batch CMS (identical sketch)
    operators=(26, 185, 220),
    doc="Streaming Count-Min maintenance (#220): the same md5 CMS as "
    "#185, but maintained as STREAMING STATE — each micro-batch folds "
    "its events into the d x w counter grid via a streaming groupBy in "
    "update mode, and the final probe estimates must hash-match the "
    "batch-built sketch exactly (counts are monotone, so max per cell "
    "on the update-mode sink is the final grid). This is the "
    "sketches-as-state discipline: an unbounded topic summarized into "
    "16 KB of mergeable state, restart-safe via the state store, "
    "queryable at any point; a production variant windows the sketch "
    "per hour and the commutative merge is the same addition.",
)
def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.queries.sketch_q import _D, _cms_bucket

    ev = stream_events(spark, sf_dir).select("user_id")
    jb = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), _cms_bucket(j, F.col("user_id")))
                for j in range(_D)
            ]
        )
    ).alias("jb")
    cells = ev.select(jb).select(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    sketch_t = run_available_now(
        cells.groupBy("j", "b").agg(F.count(F.lit(1)).alias("c")),
        "cms",
        mode="update",
    )
    sketch = sketch_t.groupBy("j", "b").agg(F.max("c").alias("c"))
    # Probe set and estimate shape identical to the batch CMS (#185).
    probes = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .filter(F.col("user_id") % 7 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    pb = probes.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _cms_bucket(j, F.col("user_id")))
                    for j in range(_D)
                ]
            )
        ).alias("jb"),
    ).select("user_id", "exact_n", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    return (
        pb.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
    )


def _wire_stream_countmin_oracle() -> None:
    """The streaming CMS must reproduce the batch CMS bit-for-bit, so
    it shares #185's oracle SQL verbatim (same sketch, same probes)."""
    from zmaxion_spark.queries.registry import REGISTRY, Query

    import zmaxion_spark.queries.sketch_q  # noqa: F401  (registers #185)

    q = REGISTRY["q_stream_countmin"]
    REGISTRY["q_stream_countmin"] = Query(
        q.name, q.fn, REGISTRY["q_countmin_sketch"].oracle, q.operators, q.doc, q.bench
    )


_wire_stream_countmin_oracle()


@query(
    "q_stream_chained_agg",
    oracle=f"""
        WITH mx AS (
            SELECT MAX(EPOCH(CAST(ts AS TIMESTAMP))) AS m FROM events
        ),
        inner5 AS (
            SELECT {_SQL_BUCKET.format(w=300)} AS w5,
                   event_type,
                   COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(38,6))) AS sv
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(FLOOR(w5 / 900) * 900 AS BIGINT) AS w_start_sec,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_subwindows,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(sv) AS DOUBLE) AS total_value
        FROM inner5, mx
        GROUP BY 1, 2, mx.m
        HAVING CAST(FLOOR(w5 / 900) * 900 AS BIGINT) + 900 <= mx.m - 600
    """,
    operators=(48, 49, 53, 54, 55, 261),
    doc="CHAINED stateful operators in one streaming query (#261, "
    "Spark 3.4+ multiple-stateful-operator support): a 5-minute "
    "tumbling aggregation feeds a second 15-minute tumbling "
    "aggregation over the FIRST one's window column — two stateful "
    "exec nodes in a single append-mode topology, something older "
    "engines force into two jobs with an intermediate sink. Append "
    "emission is watermark-gated end-to-end: the drain's no-data flush "
    "batch emits exactly the 15-minute windows whose end precedes the "
    "final watermark (max event time - 10 min), and the oracle states "
    "that cutoff explicitly (HAVING end <= max_ts - 600). Inner "
    "partial sums stay DECIMAL(38,6) across the chain so the outer "
    "re-aggregation is order-independent and the gate hash-exact. "
    "Scale: state is per-window-per-type (bounded by watermark "
    "eviction at BOTH levels); the chain removes the intermediate "
    "topic a two-job design would shuffle through.",
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    inner = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("sv"),
    )
    outer = inner.groupBy(
        F.window(F.col("window"), "15 minutes"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_subwindows"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sv").cast("double").alias("total_value"),
    )
    t = run_available_now(outer, "chained_agg", mode="append")
    return t.select(
        F.unix_timestamp(F.col("window.start")).alias("w_start_sec"),
        "event_type",
        F.col("n_subwindows").cast("bigint").alias("n_subwindows"),
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# #281 streaming drift monitor: windowed PSI vs a static reference profile
# ---------------------------------------------------------------------------

_DRIFT_BINS = 10
_DRIFT_BIN_CENTS = 5000  # $50 fixed-width bins over the value range
_DRIFT_REF_DAYS = 7
_DRIFT_ALERT = 0.2

_SQL_DRIFT_BUCKET = (
    f"LEAST(CAST(ROUND(value * 100) AS BIGINT) // {_DRIFT_BIN_CENTS}, "
    f"{_DRIFT_BINS - 1})"
)


@query(
    "q_stream_drift",
    oracle=f"""
        WITH ev AS (
            SELECT {_SQL_BUCKET.format(w=86400)} AS w_start_sec,
                   {_SQL_DRIFT_BUCKET} AS bucket
            FROM events
        ),
        mind AS (SELECT MIN(w_start_sec) AS d0 FROM ev),
        ref AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS k
            FROM ev, mind
            WHERE w_start_sec < d0 + {_DRIFT_REF_DAYS} * 86400
            GROUP BY bucket
        ),
        refn AS (SELECT CAST(SUM(k) AS BIGINT) AS nr FROM ref),
        refp AS (
            SELECT b.b AS bucket,
                   CAST(COALESCE(r.k, 0) AS DOUBLE) / CAST(refn.nr AS DOUBLE)
                       AS q
            FROM range({_DRIFT_BINS}) b(b)
            LEFT JOIN ref r ON r.bucket = b.b, refn
        ),
        wins AS (
            SELECT w_start_sec, bucket, CAST(COUNT(*) AS BIGINT) AS n
            FROM ev GROUP BY 1, 2
        ),
        wn AS (
            SELECT w_start_sec, CAST(SUM(n) AS BIGINT) AS n_events
            FROM wins GROUP BY 1
        ),
        grid AS (
            SELECT w.w_start_sec, w.n_events, b.b AS bucket,
                   CAST(COALESCE(x.n, 0) AS BIGINT) AS n
            FROM wn w
            CROSS JOIN range({_DRIFT_BINS}) b(b)
            LEFT JOIN wins x
              ON x.w_start_sec = w.w_start_sec AND x.bucket = b.b
        ),
        scored AS (
            SELECT g.w_start_sec, g.n_events,
                   CAST(SUM(CAST(
                       (CAST(g.n AS DOUBLE) / CAST(g.n_events AS DOUBLE) - p.q)
                       * LN((CAST(g.n AS DOUBLE) / CAST(g.n_events AS DOUBLE)
                             + 1e-6) / (p.q + 1e-6))
                       AS DECIMAL(38,9))) AS DOUBLE) AS psi
            FROM grid g JOIN refp p ON p.bucket = g.bucket
            GROUP BY g.w_start_sec, g.n_events
        )
        SELECT w_start_sec, n_events,
               CAST(CAST(psi AS DECIMAL(38,9)) AS DOUBLE) AS psi,
               CAST(CASE WHEN psi > CAST({_DRIFT_ALERT!r} AS DOUBLE)
                    THEN 1 ELSE 0 END AS BIGINT) AS drift
        FROM scored
    """,
    operators=(3, 21, 48, 49, 55, 234, 281),
    doc=f"Streaming drift monitor (#281): the stream maintains a "
    f"tumbling daily census of {_DRIFT_BINS} fixed ${_DRIFT_BIN_CENTS // 100} "
    "value bins (fixed edges, NOT data-dependent min/max — a monitor "
    "cannot re-scan history per batch), and each emitted window is "
    "scored batch-side with PSI against the static reference profile "
    "built from the fixture's first "
    f"{_DRIFT_REF_DAYS} days — the stream-static shape of the #234 "
    f"drift metric, alerting at PSI > {_DRIFT_ALERT}. Missing bins "
    "matter: the window x bin grid is completed with zeros before "
    "scoring (a sparse join silently understates drift exactly when "
    "a bin COLLAPSES, the strongest drift signal of all). Bin ids and "
    "counts are integers end-to-end; each PSI term is an identical "
    "IEEE tree, epsilon-smoothed like #234, summed through "
    "DECIMAL(38,9). Scale: streaming state is windows x bins cells; "
    "the reference broadcast is 10 rows; nothing downstream of the "
    "windowed census touches a raw event again.",
)
def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.expr(
        f"least(cast(round(value * 100) as bigint) div {_DRIFT_BIN_CENTS}, "
        f"{_DRIFT_BINS - 1})"
    )
    win = (
        Pipeline.from_events(spark, sf_dir)
        .transform(lambda df: df.select("ts", bucket.alias("bucket")))
        .watermark("ts", "1 day")
        .tumbling("1 day", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .to_memory("drift_census", mode="complete")
    )
    wins = win.select(
        F.unix_timestamp(F.col("window.start")).alias("w_start_sec"),
        "bucket",
        F.col("n").cast("bigint").alias("n"),
    ).localCheckpoint(eager=True)

    # static reference profile: first N days, zero-completed bins
    ev = load_table(spark, sf_dir, "events").select(
        # integer div, not floor(a/b): a double ratio an ulp below an
        # exact-midnight boundary would floor into the previous day
        F.expr("(unix_timestamp(ts) div 86400) * 86400")
        .cast("bigint")
        .alias("w_start_sec"),
        bucket.alias("bucket"),
    )
    d0 = ev.agg(F.min("w_start_sec").alias("d0"))
    ref = (
        ev.crossJoin(F.broadcast(d0))
        .filter(F.col("w_start_sec") < F.col("d0") + _DRIFT_REF_DAYS * 86400)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    refn = ref.agg(F.sum("k").cast("bigint").alias("nr"))
    bins = spark.range(_DRIFT_BINS).select(F.col("id").alias("bucket"))
    refp = (
        bins.join(ref, "bucket", "left")
        .crossJoin(F.broadcast(refn))
        .select(
            "bucket",
            (
                F.coalesce(F.col("k"), F.lit(0)).cast("double")
                / F.col("nr").cast("double")
            ).alias("q"),
        )
    )

    wn = wins.groupBy("w_start_sec").agg(
        F.sum("n").cast("bigint").alias("n_events")
    )
    grid = (
        wn.crossJoin(F.broadcast(bins))
        .join(wins, ["w_start_sec", "bucket"], "left")
        .select(
            "w_start_sec",
            "n_events",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        )
    )
    p = F.col("n").cast("double") / F.col("n_events").cast("double")
    part = (p - F.col("q")) * F.log((p + 1e-6) / (F.col("q") + 1e-6))
    scored = (
        grid.join(F.broadcast(refp), "bucket")
        .groupBy("w_start_sec", "n_events")
        .agg(F.sum(part.cast("decimal(38,9)")).cast("double").alias("psi"))
    )
    return scored.select(
        "w_start_sec",
        "n_events",
        F.col("psi").cast("decimal(38,9)").cast("double").alias("psi"),
        (F.col("psi") > F.lit(_DRIFT_ALERT)).cast("bigint").alias("drift"),
    )


# ---------------------------------------------------------------------------
# #300 event-time timers: emission on SILENCE (timeout-closed sessions)
# ---------------------------------------------------------------------------

_TOS_GAP_US = 7_200_000_000      # 2 h session gap
_TOS_DELAY_US = 3_600_000_000    # 1 h watermark delay


@query(
    "q_stream_timeout_sessions",
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_id,
                   EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        mx AS (SELECT MAX(us) AS mx FROM e),
        m AS (
            SELECT user_id, us,
                   CASE WHEN LAG(us) OVER w IS NULL
                             OR us - LAG(us) OVER w > {_TOS_GAP_US}
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        s AS (
            SELECT user_id, us,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        ),
        g AS (
            SELECT user_id, sid,
                   CAST(MIN(us) AS BIGINT) AS session_start_us,
                   CAST(MAX(us) AS BIGINT) AS session_end_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(MAX(us)) OVER (PARTITION BY user_id) AS last_end
            FROM s GROUP BY user_id, sid
        )
        SELECT user_id, session_start_us, session_end_us, n_events
        FROM g CROSS JOIN mx
        WHERE session_end_us < last_end
           OR session_end_us + {_TOS_GAP_US} <= mx - {_TOS_DELAY_US}
    """,
    operators=(48, 53, 54, 300),
    doc="Event-time TIMERS (#300): sessions close on SILENCE — "
    "GroupStateTimeout.EventTimeTimeout fires the state function with "
    "no arriving row once the watermark passes end + gap, the "
    "capability behind outage alerts, order-timeout sweeps, and cart "
    "abandonment that the NoTimeout stateful family (#53/#215/#142) "
    "structurally lacks. Deterministic by construction: any session "
    "followed by later data closes inline in whichever batch that "
    "data arrives (batch boundaries cannot change the output), so "
    "only each key's LAST session rides a timer, firing iff end + "
    "gap ≤ final watermark (max event time − delay after the "
    "availableNow flush batch) — the oracle states exactly that "
    "cutoff, the q_stream_chained_agg discipline. State is 3 integers "
    "per key and is REMOVED on every close (timer or inline), so an "
    "idle key costs nothing forever — the no-leak property watermark "
    "cleanup gives windows and timers give arbitrary state.",
)
def q_stream_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.stateful import timeout_sessions

    ev = (
        stream_events(spark, sf_dir)
        .select("user_id", "event_id", "ts")
        .withWatermark("ts", "1 hour")
    )
    return run_available_now(
        timeout_sessions(ev, gap_seconds=_TOS_GAP_US // 1_000_000),
        "timeout_sessions",
        mode="append",
    )


# ---------------------------------------------------------------------------
# #315 streaming TWAP (the stateful twin of #292)
# ---------------------------------------------------------------------------


@query(
    "q_stream_twap",
    oracle=None,  # wired below: shares #292's oracle verbatim
    operators=(53, 292, 315),
    doc="Streaming TWAP (#315): the #292 time-weighted average "
    "maintained as per-key STREAMING STATE (applyInPandasWithState) — "
    "each arriving sample closes the previous sample's holding "
    "interval and folds cents×µs into BIGINT accumulators, so the "
    "moments are exact integers and the final micro-batch's row per "
    "key must hash-match the batch LEAD-window formulation exactly "
    "(shared oracle). This is the monitor that runs CONTINUOUSLY on "
    "an unbounded topic where the batch twin re-scans history: state "
    "is 5 integers per key forever, updates are append-free update "
    "mode, and restart safety comes from the state store. The one "
    "divergence risk — a sample pair straddling a micro-batch "
    "boundary — is exactly what the state carries across batches.",
)
def q_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.stateful import streaming_twap

    ev = stream_events(spark, sf_dir).select(
        "event_type", "event_id", "ts", "value"
    )
    t = run_available_now(streaming_twap(ev), "stream_twap", mode="update")
    final = t.groupBy("event_type").agg(
        F.max("n_samples").alias("n_samples"),
        F.max("span_us").alias("span_us"),
        F.max("wsum").alias("wsum"),
    )
    return final.select(
        "event_type",
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("span_us").cast("bigint").alias("span_us"),
        (F.col("wsum").cast("double") / F.col("span_us") / 100)
        .cast("decimal(38,9)")
        .cast("double")
        .alias("twap"),
    )


def _wire_stream_twap_oracle() -> None:
    """The streaming TWAP must reproduce the batch TWAP bit-for-bit,
    so it shares #292's oracle SQL verbatim."""
    from zmaxion_spark.queries.registry import REGISTRY, Query

    import zmaxion_spark.queries.timeseries_q  # noqa: F401 (registers #292)

    q = REGISTRY["q_stream_twap"]
    REGISTRY["q_stream_twap"] = Query(
        q.name,
        q.fn,
        REGISTRY["q_time_weighted_avg"].oracle,
        q.operators,
        q.doc,
        q.bench,
    )


_wire_stream_twap_oracle()


# ---------------------------------------------------------------------------
# #347 stream-stream FULL OUTER join
# ---------------------------------------------------------------------------


@query(
    "q_stream_full_outer_join",
    oracle="""
        WITH cutoff AS (
            SELECT LEAST(MAX(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END),
                         MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END))
                   - INTERVAL 61 MINUTE AS wm
            FROM events
        ),
        p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts FROM events
              WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts FROM events
              WHERE event_type = 'click')
        SELECT COALESCE(p_user, c_user) AS user_id,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN c_user IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unmatched_purchases,
               CAST(SUM(CASE WHEN p_user IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unmatched_clicks
        FROM p
        FULL OUTER JOIN c ON p_user = c_user
                         AND c_ts >= p_ts - INTERVAL 30 MINUTE
                         AND c_ts <= p_ts
        CROSS JOIN cutoff
        WHERE (p_ts IS NOT NULL AND p_ts < wm)
           OR (p_ts IS NULL AND c_ts < wm - INTERVAL 31 MINUTE)
        GROUP BY COALESCE(p_user, c_user)
    """,
    operators=(22, 54, 107, 347),
    doc="Watermarked stream-stream FULL OUTER join (#347): the "
    "two-sided completion of the left-outer topology (#107) — "
    "purchases with no prior click AND clicks that never converted "
    "both null-pad, so one query feeds both the attribution and the "
    "abandonment dashboards without a second state store. Graded "
    "region: matched and left-outer rows clip to p_ts < watermark; "
    "right-outer rows clip to c_ts < watermark - 31 min because a "
    "click's join validity extends 30 minutes FORWARD (a purchase in "
    "(c_ts, c_ts+30m] could still match), so its outer row only "
    "becomes final once the watermark clears that window — the "
    "batch twin applies the identical clip, making Structured "
    "Streaming's asymmetric outer-emission contract explicit. Scale: "
    "state on both sides is watermark-evicted; the cutoff scalar is "
    "a broadcast 1-row aggregate.",
)
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
        "fullOuter",
    )
    t = run_available_now(joined, "ss_full_outer", mode="append")
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 61 MINUTES")
        ).alias("wm")
    )
    return (
        t.join(F.broadcast(wm))
        .filter(
            (F.col("p_ts").isNotNull() & (F.col("p_ts") < F.col("wm")))
            | (
                F.col("p_ts").isNull()
                & (F.col("c_ts") < F.col("wm") - F.expr("INTERVAL 31 MINUTES"))
            )
        )
        .groupBy(F.coalesce("p_user", "c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("c_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_purchases"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_clicks"),
        )
    )


# ---------------------------------------------------------------------------
# #361 dynamic-gap session windows
# ---------------------------------------------------------------------------


@query(
    "q_stream_session_dynamic",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN event_type = 'purchase'
                        THEN INTERVAL 60 MINUTE
                        ELSE INTERVAL 20 MINUTE END AS gap
            FROM events
        ),
        wm AS (
            SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS wm
            FROM events
        ),
        m AS (
            SELECT user_id, ts, gap,
                   CASE WHEN MAX(ts + gap) OVER (PARTITION BY user_id
                                                 ORDER BY ts
                                                 ROWS BETWEEN UNBOUNDED
                                                 PRECEDING AND 1 PRECEDING)
                             IS NULL
                             OR ts >= MAX(ts + gap)
                                      OVER (PARTITION BY user_id ORDER BY ts
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_s
            FROM e
        ),
        s AS (
            SELECT user_id, ts, gap,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS sid
            FROM m
        )
        SELECT user_id, MIN(ts) AS session_start,
               COUNT(*) AS n_events
        FROM s CROSS JOIN wm
        GROUP BY user_id, sid, wm.wm
        HAVING MAX(ts + gap) < wm.wm
    """,
    operators=(51, 361),
    doc="DYNAMIC-gap session windows (#361): the gap is a per-event "
    "EXPRESSION — purchases hold the session open 60 minutes, other "
    "events 20 — so high-intent moments get longer grace periods, "
    "the shape real engagement sessionization uses (Spark's "
    "session_window accepts a gap Column, not just a literal; this "
    "grades that capability, which static-gap #51 does not touch). "
    "Merge semantics: each event spans [ts, ts+gap); overlapping "
    "spans merge, so a new session starts exactly when ts >= the "
    "running MAX of all previous span ends — the oracle encodes that "
    "rule with one running-max window + cumsum, making the streaming "
    "engine's merge behavior explicit and batch-checkable. APPEND "
    "output mode: only sessions the final watermark has CLOSED emit "
    "(batch twin: HAVING max(ts+gap) < max_ts - 1h) — the "
    "production shape, because complete-mode session output "
    "materializes every session in one place and hit the sf100 "
    "output-cardinality ceiling recorded in SCALE.md. Scale: state "
    "per key is one open session, watermark-evicted; closed sessions "
    "stream straight to the sink.",
)
def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("20 minutes"))
    s = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    t = run_available_now(s, "session_dynamic", mode="append")
    return t.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# #399 stream_page_hinkley — drift detection as streaming state
# ---------------------------------------------------------------------------


@query(
    "q_stream_page_hinkley",
    oracle="""
        WITH c AS (
            SELECT user_id, event_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        w AS (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER f AS n,
                   CAST(SUM(cents) OVER g AS BIGINT) AS s,
                   cents
            FROM c
            WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id),
                   g AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        m AS (
            SELECT user_id, event_id, n,
                   SUM(CAST((cents - CAST(s AS DOUBLE) / n) - 10.0
                            AS DECIMAL(38,9))) OVER h AS m
            FROM w
            WINDOW h AS (PARTITION BY user_id ORDER BY n
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        ph AS (
            SELECT user_id, event_id, n,
                   m - LEAST(MIN(m) OVER h, CAST(0 AS DECIMAL(38,9))) AS ph
            FROM m
            WINDOW h AS (PARTITION BY user_id ORDER BY n
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        alarms AS (
            SELECT user_id, event_id, n, ph,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n)
                       AS rn
            FROM ph WHERE ph >= 40000
        )
        SELECT user_id, event_id, n AS n_seen,
               ROUND(CAST(ph AS DOUBLE), 9) AS ph
        FROM alarms WHERE rn = 1
        ORDER BY user_id
    """,
    operators=(53, 215, 352, 399),
    doc="Page-Hinkley drift detection as STREAMING STATE (#399): the "
    "online twin of the batch detector (#352) — each user's spend "
    "stream accumulates m_t = sum(c - running_mean - delta) in "
    "per-key state (two exact integers + two doubles), alarms once "
    "when m - min(0, min m) >= lambda (sized so ~half the keys "
    "alarm on the fixture), and mutes the key (append "
    "mode: each alarm exactly once, restart-safe via the state "
    "store). Parity is hash-exact because the stateful fold and the "
    "oracle's cumulative windows replay the IDENTICAL sequential "
    "IEEE chain over (ts, event_id) order, counting state is "
    "integer, and the per-step term quantizes to DECIMAL(38,9) units "
    "BEFORE accumulating — a raw double cumulative window is NOT "
    "association-free (engine window internals reassociate long "
    "sums; measured 2.5e-14 drift at sf1), integer nano-units are — "
    "the #215 prequential "
    "discipline applied to drift. Scale: ~40 bytes of state per "
    "key forever; the same topology runs unchanged on an unbounded "
    "topic.",
    bench=False,
)
def q_stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.stateful import page_hinkley_state

    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    t = run_available_now(page_hinkley_state(ev), "ph_alarms", mode="append")
    return t.select(
        "user_id", "event_id", "n_seen", F.round("ph", 9).alias("ph")
    ).orderBy("user_id")
