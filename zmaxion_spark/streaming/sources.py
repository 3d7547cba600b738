"""Streaming sources — SURVEY.md §2.1 #3–#5.

``stream_events`` replays the events fixture as an unbounded
file-directory source (the stand-in for a topic), and
``stream_event_chunks`` replays three of its columns as
``EVENT_CHUNKS`` micro-batches. Schemas are always explicit (engine
policy, SURVEY §1.3) — required by Spark streaming anyway.
``stream_events`` takes its schema from the fixture file's own
footer (one cheap metadata read, cached per fixture file) so the stream
sees exactly what the batch loader sees; ``ts`` is then normalized by
the same ``catalog.normalize_events_ts`` rule, so stream/batch parity
holds to the microsecond across generator versions.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zmaxion_spark.catalog import (
    fixture_cache_dir,
    fixture_stamp,
    load_table,
    normalize_events_ts,
    table_path,
)
from zmaxion_spark.session import tune

_EVENTS_SCHEMA_CACHE: dict[str, T.StructType] = {}


def _events_file_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Footer schema of the events fixture (streaming needs it
    explicit). Cached by file identity (``catalog.fixture_stamp``), not
    just path, so a regenerated fixture is never served a stale schema."""
    key = fixture_stamp(sf_dir, "events")
    schema = _EVENTS_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(table_path(sf_dir, "events")).schema
        _EVENTS_SCHEMA_CACHE[key] = schema
    return schema


def _as_stream_dir(sf_dir: str, table: str) -> str:
    """The file stream source requires a flat directory; expose the
    fixture parquet through a cached symlink dir (fixtures read-only).
    Driver fixtures are single files; Spark-written scale-ups
    (tools/make_sfn.py) are DIRECTORIES of part files — the file
    stream does not recurse into a symlinked subdirectory (it would
    silently deliver zero rows), so link each part file flat, which
    also gives the replay natural multi-file micro-batching."""
    # Always link ABSOLUTE targets: a relative sf_dir would otherwise
    # produce links resolved relative to the cache dir — every one
    # broken, and a broken link both delivers a silent 0-row stream
    # AND fails os.path.exists, so the "already linked" check retried
    # the symlink into FileExistsError (measured at the sf10 smoke,
    # invoked with a relative .scratch path).
    src = os.path.abspath(table_path(sf_dir, table))
    # The cache key covers size+mtime as well as the path: regenerating
    # a directory-shaped fixture in place writes new random part-file
    # names under the SAME path, and a path-only key would keep serving
    # dangling links to the deleted parts.
    d = fixture_cache_dir(sf_dir, table, table)
    os.makedirs(d, exist_ok=True)
    # Belt-and-braces for dir fixtures whose mtime did not move: drop
    # any cached link whose target no longer exists.
    for entry in os.listdir(d):
        link = f"{d}/{entry}"
        if os.path.islink(link) and not os.path.exists(link):
            os.unlink(link)

    def _link(link: str, target: str) -> None:
        if os.path.islink(link) and os.readlink(link) != target:
            os.unlink(link)  # stale or broken (e.g. relative) link
        if not os.path.lexists(link):
            os.symlink(target, link)

    if os.path.isdir(src):
        for part in sorted(os.listdir(src)):
            if part.endswith(".parquet"):
                _link(f"{d}/{part}", f"{src}/{part}")
    else:
        _link(f"{d}/{table}.parquet", src)
    return d


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of the events table (file-stream 'topic')."""
    tune(spark)
    raw = (
        spark.readStream.schema(_events_file_schema(spark, sf_dir))
        .parquet(_as_stream_dir(sf_dir, "events"))
    )
    return normalize_events_ts(raw)


# Files in the chunked events topic, so micro-batches per drain.
EVENT_CHUNKS = 4


def stream_event_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunked events topic: (event_id, event_type, value) replayed
    one file per micro-batch (maxFilesPerTrigger=1), so a drain
    delivers ``EVENT_CHUNKS`` batches with ids 0..EVENT_CHUNKS-1.

    The ``EVENT_CHUNKS``-file copy is cached by the source fixture's
    identity and built atomically (tmp dir + rename) so a concurrent
    builder can never observe a partial chunk set."""
    final = fixture_cache_dir(sf_dir, "events", "events_chunks")
    if not os.path.isdir(final) or len(
        [f for f in os.listdir(final) if f.endswith(".parquet")]
    ) != EVENT_CHUNKS:
        tmp = f"{final}-build-{uuid.uuid4().hex[:8]}"
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .repartition(EVENT_CHUNKS)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.rmtree(final, ignore_errors=True)
        try:
            os.rename(tmp, final)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent builder won
    return (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(final)
    )


# The Kafka source's fixed wire schema (what `format("kafka").load()`
# yields regardless of topic) — declared here so the parse topology can
# be exercised against broker-less stand-in frames in tests.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def parse_kafka_topology(raw: DataFrame, value_schema: T.StructType) -> DataFrame:
    """The post-source half of the topic-consumer topology: binary value
    → JSON-parse against the explicit schema (engine policy: no
    inference) → typed columns + event metadata. Split from
    :func:`stream_kafka` so the projection is plan-testable without a
    broker (tests/test_streaming.py feeds it a wire-schema stand-in)."""
    return raw.select(
        F.col("key").cast("string").alias("msg_key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    ).select("msg_key", "v.*", "topic", "partition", "offset", "kafka_ts")


def stream_kafka(
    spark: SparkSession,
    topic: str,
    value_schema: T.StructType,
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """#5 topic consumer — the canonical ECS-stream ingress.

    Source half requires the spark-sql-kafka connector on the classpath
    and a reachable broker; neither exists in the test container, so
    the LOAD is the documented design slot — but the projection
    (`parse_kafka_topology`) is runtime-verified in tests against the
    pinned wire schema, so the deployment plan shape is not on faith."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_topology(raw, value_schema)


def stream_rate(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic event generator (#4) for tests and demos."""
    tune(spark)
    return spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
