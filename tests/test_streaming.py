"""Streaming runtime tests — SURVEY.md §2.9 ops not covered by graded
queries: parquet sink with checkpoint (#6), foreachBatch (#7), rate
source (#4), custom stateful sessionizer vs session_window (#51/#53),
late-data watermark policy (#54).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zmaxion_spark.streaming.pipeline import (
    Pipeline,
    run_available_now,
    run_foreach_batch,
    run_to_parquet,
)
from zmaxion_spark.streaming.sources import stream_events, stream_rate


def test_parquet_sink_exactly_once(spark):
    ev = stream_events(spark, SF_SMOKE)
    out = tempfile.mkdtemp(prefix="zmx-sink-")
    run_to_parquet(ev.filter(F.col("event_type") == "error"), out)
    written = spark.read.parquet(out)
    from zmaxion_spark.catalog import load_table

    expected = load_table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "error")
    assert written.count() == expected.count()
    assert set(written.columns) == set(expected.columns)


def test_foreach_batch_side_channel(spark):
    ev = stream_events(spark, SF_SMOKE)
    seen: list[tuple[int, int]] = []

    def audit(batch_df, batch_id: int):
        seen.append((batch_id, batch_df.count()))

    run_foreach_batch(ev, audit)
    assert sum(n for _, n in seen) == 1000  # sf0.001 events rows


def test_rate_source_schema(spark):
    r = stream_rate(spark, rows_per_second=10)
    assert r.isStreaming
    assert [f.name for f in r.schema.fields] == ["timestamp", "value"]


def test_processing_time_trigger(spark):
    """#56: steady-state micro-batch cadence (the ECS tick) — a
    processingTime-triggered query over the rate source must produce
    rows continuously until stopped."""
    import time

    q = (
        stream_rate(spark, rows_per_second=50)
        .writeStream.format("memory")
        .queryName("rate_pt")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.table("rate_pt").count() > 0:
                break
            time.sleep(0.5)
        assert spark.table("rate_pt").count() > 0
    finally:
        q.stop()


def test_kafka_source_design_slot(spark):
    """#5: the topic-consumer wrapper must fail with the standard
    missing-connector error (no kafka jar in this container), proving
    the declared topology is the real `readStream.format('kafka')`
    plan and not a stub that silently no-ops."""
    import pytest
    from pyspark.sql import types as T

    from zmaxion_spark.streaming.sources import stream_kafka

    schema = T.StructType([T.StructField("user_id", T.LongType())])
    with pytest.raises(Exception, match="kafka|KAFKA|Failed to find"):
        stream_kafka(spark, "events", schema)


def test_custom_sessionizer_matches_session_window(spark):
    """The applyInPandasWithState FSM sessionizer must agree with the
    built-in session_window on CLOSED sessions (the FSM keeps the final
    open session per user in state, so that one is excluded)."""
    from zmaxion_spark.streaming.stateful import sessionize

    ev = stream_events(spark, SF_SMOKE)
    from zmaxion_spark.streaming.pipeline import run_available_now

    got = run_available_now(sessionize(ev, 1800), "fsm_sessions", mode="append")
    fsm = {
        (r.user_id, r.session_start.replace(tzinfo=None), r.n_events)
        for r in got.collect()
    }

    builtin = (
        Pipeline.from_events(spark, SF_SMOKE)
        .watermark("ts", "1 hour")
        .session("30 minutes", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .to_memory("builtin_sessions", mode="complete")
    )
    ref = {
        (r.user_id, r["session_window"].start.replace(tzinfo=None), r.n_events)
        for r in builtin.collect()
    }
    # every user's last session is open in the FSM → ref minus one per user
    users = {u for u, _, _ in ref}
    assert len(ref) - len(fsm) == len(users)
    assert fsm <= ref


def test_watermark_drops_late_data(spark):
    """#54: with watermark W, an aggregation in append mode only emits
    windows once the watermark passes — replay emits all closed windows."""
    t = (
        Pipeline.from_events(spark, SF_SMOKE)
        .watermark("ts", "10 minutes")
        .tumbling("5 minutes", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .to_memory("wm_append", mode="append")
    )
    from zmaxion_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # all emitted windows closed strictly before watermark = max_ts - 10min
    emitted_max = t.agg(F.max(F.col("window.end"))).collect()[0][0]
    if emitted_max is not None:
        import datetime

        assert emitted_max <= max_ts.replace(tzinfo=None) + datetime.timedelta(minutes=5)

def test_kafka_parse_topology_without_broker(spark):
    """#5: the topic-consumer projection must run against the pinned
    Kafka wire schema (binary key/value + topic metadata) and produce
    the typed columns a deployment would see — verified on a static
    stand-in frame since no broker or connector exists in the test
    container. Pins both the output schema and the JSON value parse."""
    import datetime

    from pyspark.sql import types as T

    from zmaxion_spark.streaming.sources import (
        KAFKA_WIRE_SCHEMA,
        parse_kafka_topology,
    )

    value_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ts = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (b"u1", b'{"event_id": 7, "event_type": "click", "value": 1.5}',
         "events", 0, 42, ts, 0),
        (b"u2", b'not json at all', "events", 1, 43, ts, 0),
        (None, None, "events", 2, 44, ts, 0),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    out = parse_kafka_topology(raw, value_schema)
    assert [f.name for f in out.schema.fields] == [
        "msg_key", "event_id", "event_type", "value",
        "topic", "partition", "offset", "kafka_ts",
    ]
    got = {r.offset: r for r in out.collect()}
    assert got[42].msg_key == "u1" and got[42].event_id == 7
    assert got[42].event_type == "click" and got[42].value == 1.5
    # Malformed / null payloads degrade to null columns, not errors.
    assert got[43].event_id is None and got[44].event_id is None


def test_transform_with_state_topology_builds(spark):
    """#114: the transformWithState topology must BUILD (analysis
    passes, schema is typed) regardless of protobuf availability."""
    from zmaxion_spark.streaming.sources import stream_events
    from zmaxion_spark.streaming.stateful import running_counters_v2

    sdf = running_counters_v2(stream_events(spark, SF_SMOKE))
    assert sdf.isStreaming
    assert [f.name for f in sdf.schema.fields] == ["user_id", "n_events", "max_value"]


def test_transform_with_state_executes_parity_vs_v1(spark):
    """#114 EXECUTION (closed round 5): run the transformWithState
    counters end-to-end through the protobuf shim + RocksDB store and
    assert per-user parity with the #53 applyInPandasWithState twin
    AND batch SQL over the same fixture."""
    from zmaxion_spark._protoshim import ensure_protobuf
    from zmaxion_spark.queries import REGISTRY

    if not ensure_protobuf():
        import pytest

        pytest.skip("no google.protobuf runtime on this host")
    v2 = {
        r.user_id: (r.n_events, r.max_value)
        for r in REGISTRY["q_stream_stateful_v2"].fn(spark, SF_SMOKE).collect()
    }
    batch = {
        r.user_id: (r.n_events, r.max_value)
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert v2 == batch
    v1 = {
        r.user_id: r.n_events
        for r in REGISTRY["q_stream_stateful_counters"].fn(spark, SF_SMOKE).collect()
    }
    assert {u: n for u, (n, _) in v2.items()} == v1


def test_multi_sink_fanout_each_exactly_once(spark, tmp_path):
    """#6/#57 depth: ONE source feeding TWO independently-checkpointed
    sinks — each sink must deliver exactly-once independently (the
    fan-out topology of a real pipeline: archive + aggregate)."""
    from pyspark.sql import functions as F

    from zmaxion_spark.streaming.pipeline import run_available_now, run_to_parquet
    from zmaxion_spark.streaming.sources import stream_events

    src = stream_events(spark, SF_SMOKE)
    archive = str(tmp_path / "archive")
    run_to_parquet(
        src.filter(F.col("event_type") == "click").select("event_id", "user_id"),
        archive,
    )
    agg = run_available_now(
        src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "fanout_agg",
        mode="complete",
    )
    from zmaxion_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    want_clicks = ev.filter(F.col("event_type") == "click").count()
    assert spark.read.parquet(archive).count() == want_clicks
    got = {r.event_type: r.n for r in agg.collect()}
    want = {r.event_type: r.cnt for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == want


def test_progress_recorder_captures_batches(spark):
    """#164: the StreamingQueryListener must see every micro-batch's
    progress — input rows across batches equal the fixture row count,
    and the dedup query reports nonzero state rows."""
    import time

    from zmaxion_spark.metrics import ProgressRecorder

    rec = ProgressRecorder().attach(spark)
    try:
        n_src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
        t = (
            Pipeline.from_events(spark, SF_SMOKE)
            .dedup("event_id", within_watermark=False)
            .to_memory("listener_probe", mode="append")
        )
        assert t.count() == n_src
        # The listener bus is async; give it a beat to drain.
        for _ in range(50):
            if sum(p["num_input_rows"] for p in rec.progress) >= n_src:
                break
            time.sleep(0.2)
        totals = rec.totals()
        assert totals["input_rows"] == n_src
        assert totals["batches"] >= 1
        assert totals["max_state_rows"] >= n_src  # dedup keeps one row/key
    finally:
        rec.detach(spark)


def test_dedup_watermark_fixture_assumption(spark):
    """q_stream_dedup_watermark's oracle (plain SUM == dedup-survivor
    SUM) relies on event_id being unique in the fixture — pin it."""
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert e.count() == e.select("event_id").distinct().count()


def test_rocksdb_state_store_actually_engaged(spark):
    """#166: the provider swap must be real — the query's progress
    events carry RocksDB-specific state metrics (rocksdb* custom
    metrics), which the default HDFSBacked provider never emits; and
    the provider conf must be restored after the query returns."""
    import json
    import time

    from pyspark.sql.streaming import StreamingQueryListener
    from zmaxion_spark.queries import REGISTRY

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    raw: list[str] = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            raw.append(event.progress.json)

        def onQueryTerminated(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

    listener = _L()
    spark.streams.addListener(listener)
    try:
        REGISTRY["q_stream_rocksdb_state"].fn(spark, SF_SMOKE).collect()
        for _ in range(50):  # listener bus is async
            if raw:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get(key, None) == before  # restored
    rocks_keys = {
        k
        for p in raw
        for so in json.loads(p).get("stateOperators", [])
        for k in so.get("customMetrics", {})
        if k.startswith("rocksdb")
    }
    assert rocks_keys, "no rocksdb custom metrics in progress events"


def test_timeout_sessions_fire_on_silence_only_past_watermark(spark):
    """#300: every key's non-final session is emitted; final sessions
    appear iff the final watermark passed end + gap (the timer), and
    sessions inside the horizon are held open (not emitted)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from zmaxion_spark.catalog import load_table
    from zmaxion_spark.queries.registry import REGISTRY
    from zmaxion_spark.queries.streaming_q import _TOS_DELAY_US, _TOS_GAP_US

    rows = REGISTRY["q_stream_timeout_sessions"].fn(spark, SF_SMOKE).collect()
    assert rows
    e = load_table(spark, SF_SMOKE, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    mx = e.agg(F.max("us")).collect()[0][0]
    horizon = mx - _TOS_DELAY_US - _TOS_GAP_US
    last_by_user = {
        r.user_id: r.m
        for r in e.groupBy("user_id").agg(F.max("us").alias("m")).collect()
    }
    emitted_last = 0
    for r in rows:
        if r.session_end_us == last_by_user[r.user_id]:
            emitted_last += 1
            # a timer-emitted final session must be past the horizon
            assert r.session_end_us <= horizon
    assert emitted_last >= 1  # the timer path genuinely fired


def test_memory_sink_result_registers_no_table(spark):
    """A run_available_now result is held by the returned DataFrame
    only: two runs add no temporary view to the catalog, and both
    results still collect their rows."""
    before = {t.name for t in spark.catalog.listTables()}
    ev = stream_events(spark, SF_SMOKE)
    counts = run_available_now(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "lifecycle_agg",
        mode="complete",
    )
    errors = run_available_now(ev.filter(F.col("event_type") == "error"), "lifecycle_rows")
    assert {t.name for t in spark.catalog.listTables()} == before
    from zmaxion_spark.catalog import load_table

    batch = load_table(spark, SF_SMOKE, "events")
    per_type = batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    want = {r.event_type: r.n for r in per_type.collect()}
    assert {r.event_type: r.n for r in counts.collect()} == want
    assert len(errors.collect()) == want["error"]


def test_checkpoint_lives_only_as_long_as_its_run(spark, tmp_path, monkeypatch):
    """A checkpoint the caller does not pass is removed when the run
    returns; one the caller passes is kept for a later resume."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = stream_events(spark, SF_SMOKE).select("event_id")
    seen: list[int] = []
    run_foreach_batch(ev, lambda df, _bid: seen.append(df.count()))
    run_to_parquet(ev, str(tmp_path / "out"))
    assert sum(seen) == 1000
    assert not [p.name for p in tmp_path.iterdir() if p.name.startswith("zmx-ckpt-")]
    kept = tmp_path / "kept-ckpt"
    run_to_parquet(ev, str(tmp_path / "out2"), checkpoint=str(kept))
    assert (kept / "offsets").is_dir()
