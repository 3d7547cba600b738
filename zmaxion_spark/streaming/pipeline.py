"""Pipeline — the EP3 entry point (SURVEY.md §3.2).

A thin fluent builder over a streaming DataFrame:

    (Pipeline.from_events(spark, sf_dir)
        .watermark("ts", "10 minutes")
        .tumbling("5 minutes", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .to_memory("per_type", mode="complete"))

Every stage is a stock Structured Streaming transformation; the
builder adds nothing but ergonomics — Catalyst and the incremental
planner do the work (SURVEY §4: zero custom rules).

This module is the only one that starts a bounded (availableNow) run;
``run_stream`` is that run, and ``run_available_now`` /
``run_to_parquet`` / ``run_foreach_batch`` are its sink-specific entry
points. The run contract:

- A checkpoint the caller does not pass is a temporary directory that
  is deleted when the run returns, whether it succeeded or failed.
- Pass ``checkpoint=`` to RESUME: that directory belongs to the caller
  and is kept, so the next run continues from its committed offsets
  and state.
- A memory-sink result (``run_available_now``) is not registered as a
  table: its rows live exactly as long as the returned DataFrame.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

_QUERY_IDS = itertools.count()


@contextlib.contextmanager
def _stream_shuffle(spark: SparkSession):
    """Pin state-store parallelism for the duration of one streaming
    query start.

    A stateful streaming query creates one state store per shuffle
    partition and pins that number in the checkpoint forever. The
    right value is a *sizing* decision — state volume / executor count
    — not the batch shuffle default, so it is its own knob
    (ZMX_STREAM_SHUFFLE; raise to O(cores×executors) on a cluster).

    Local default 4 (round-12 A/B, guide §5): per micro-batch every
    partition pays a state-store commit (delta write + fsync), so at
    the KB-sized state of the test tier the partition count is pure
    fixed overhead — sweeping 2/4/6/8 on the three heaviest stateful
    topologies (stream-stream inner + full-outer join, chained agg)
    gave 2.11/2.34/1.76 s at 4 vs 2.63/2.97/1.97 s at 8 (min-of-N,
    alternating, results row-identical), monotone in between, with 2
    no better than 4. RocksDB (±changelog checkpointing) was also
    measured and rejected: per-partition instance spin-up costs more
    than the HDFS-backed store's commit at this state size."""
    n = os.environ.get("ZMX_STREAM_SHUFFLE", "4")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream(
    sdf: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """Drain a bounded replay of ``sdf`` through the writer ``sink``
    configures (format, path, queryName, foreachBatch ...) under the
    pinned state-store parallelism, then return once every available
    offset is committed (#56 trigger_control, #57 checkpointing)."""
    owned = (
        tempfile.TemporaryDirectory(prefix="zmx-ckpt-")
        if checkpoint is None
        else contextlib.nullcontext(checkpoint)
    )
    with owned as ckpt, _stream_shuffle(sdf.sparkSession):
        q = (
            sink(sdf.writeStream)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_available_now(
    sdf: DataFrame,
    name: str | None = None,
    mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a bounded replay of a stream into a memory sink and return
    the materialized table (#6 sink_memory)."""
    spark = sdf.sparkSession
    qname = f"{name or 'zmx'}_{next(_QUERY_IDS)}"
    try:
        run_stream(sdf, lambda w: w.format("memory").queryName(qname), mode, checkpoint)
        return spark.table(qname)
    finally:
        spark.catalog.dropTempView(qname)


def run_to_parquet(
    sdf: DataFrame, path: str, mode: str = "append", checkpoint: str | None = None
) -> None:
    """Exactly-once parquet sink with checkpointed offsets (#6)."""
    run_stream(sdf, lambda w: w.format("parquet").option("path", path), mode, checkpoint)


def run_foreach_batch(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """Per-micro-batch escape hatch (#7): upserts, side outputs, audits."""
    run_stream(sdf, lambda w: w.foreachBatch(fn), mode, checkpoint)


class Pipeline:
    """Fluent topology builder: source → stages → sink."""

    def __init__(self, spark: SparkSession, df: DataFrame):
        self.spark = spark
        self.df = df
        self._grouped = None

    @classmethod
    def from_events(cls, spark: SparkSession, sf_dir: str) -> "Pipeline":
        from zmaxion_spark.streaming.sources import stream_events

        return cls(spark, stream_events(spark, sf_dir))

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        self.df = fn(self.df)
        return self

    def watermark(self, col: str, delay: str) -> "Pipeline":
        """#48: bound event-time lateness for state eviction."""
        self.df = self.df.withWatermark(col, delay)
        return self

    def tumbling(self, duration: str, *keys: str, ts_col: str = "ts") -> "Pipeline":
        """#49: fixed, non-overlapping event-time windows."""
        self._grouped = self.df.groupBy(F.window(ts_col, duration), *keys)
        return self

    def sliding(self, duration: str, slide: str, *keys: str, ts_col: str = "ts") -> "Pipeline":
        """#50: overlapping event-time windows."""
        self._grouped = self.df.groupBy(F.window(ts_col, duration, slide), *keys)
        return self

    def session(self, gap: str, *keys: str, ts_col: str = "ts") -> "Pipeline":
        """#51: gap-based session windows."""
        self._grouped = self.df.groupBy(F.session_window(ts_col, gap), *keys)
        return self

    def agg(self, *exprs) -> "Pipeline":
        self.df = self._grouped.agg(*exprs)
        self._grouped = None
        return self

    def dedup(self, *cols: str, within_watermark: bool = False) -> "Pipeline":
        """#52: streaming dedup (state bounded by the watermark)."""
        if within_watermark:
            self.df = self.df.dropDuplicatesWithinWatermark(list(cols))
        else:
            self.df = self.df.dropDuplicates(list(cols))
        return self

    def to_memory(self, name: str | None = None, mode: str = "append") -> DataFrame:
        return run_available_now(self.df, name, mode)

    def to_parquet(self, path: str, mode: str = "append") -> None:
        run_to_parquet(self.df, path, mode)
