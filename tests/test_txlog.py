"""Transaction-log table format (#175–#177) — protocol guarantees
that the oracle queries can't see: commit atomicity/conflicts,
manifest pruning actually skipping files, compaction being
layout-only, and staging files staying invisible until committed.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.txlog_q import _HI, _LO, orders_tx
from zmaxion_spark.txlog import CommitConflict, ConcurrentModification, TxTable


@pytest.fixture()
def tmp_table():
    with tempfile.TemporaryDirectory(prefix="zmx-txlog-test-") as d:
        yield TxTable(os.path.join(d, "t"), stat_cols=("o_totalprice",))


def test_version_conflict_is_refused(tmp_table, spark, monkeypatch):
    """Two writers racing for the same version: the filesystem
    arbitrates via O_EXCL — the loser (who computed the next version
    before the winner's log record landed) raises instead of silently
    clobbering history."""
    df = load_table(spark, SF_SMOKE, "orders").limit(10)
    tmp_table.append(df)
    # Freeze this writer's view of the head at version 0, then land a
    # racing writer's version-1 record — exactly the lost-race state.
    monkeypatch.setattr(tmp_table, "latest_version", lambda: 0)
    path = os.path.join(tmp_table._log_dir, "00000001.json")
    with open(path, "w") as f:
        f.write('{"version": 1, "actions": []}')
    with pytest.raises(CommitConflict):
        tmp_table._commit([])


def test_staged_files_invisible_until_commit(tmp_table, spark):
    """Snapshot isolation: data files land in data/ before the log
    record exists, but live_files() never resolves them."""
    df = load_table(spark, SF_SMOKE, "orders").limit(10)
    adds = tmp_table._stage(df, None, None)
    assert adds  # bytes are on disk ...
    assert tmp_table.live_files() == []  # ... but not visible
    tmp_table._commit(adds)
    assert {f.path for f in tmp_table.live_files()} == {a["add"] for a in adds}


def test_compaction_is_layout_only(tmp_table, spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders, n_files=6)
    before = tmp_table.read(spark).agg(
        F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
    ).collect()
    v = tmp_table.compact(spark, n_files=2)
    assert len(tmp_table.live_files()) == 2
    after = tmp_table.read(spark).agg(
        F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
    ).collect()
    assert before == after
    # The pre-compaction snapshot still resolves the 6 old files.
    assert len(tmp_table.live_files(version=v - 1)) == 6


def test_manifest_pruning_skips_files_and_loses_no_rows(spark):
    """The graded fixture at v1 is 16 range-laid-out files; the banded
    read must prune some from the manifest alone, and pruned+residual
    must equal plain filter over the full snapshot."""
    t = orders_tx(spark, SF_SMOKE)
    all_files = t.live_files(version=1)
    pruned = t.read(spark, version=1, prune=("o_totalprice", _LO, _HI))
    n_pruned_files = len(pruned.inputFiles())
    assert n_pruned_files < len(all_files), (
        f"no files skipped: {n_pruned_files} of {len(all_files)}"
    )
    expect = (
        t.read(spark, version=1)
        .filter(F.col("o_totalprice").between(_LO, _HI))
        .count()
    )
    got = pruned.filter(F.col("o_totalprice").between(_LO, _HI)).count()
    assert got == expect


def test_empty_snapshot_is_an_error(tmp_table, spark):
    with pytest.raises(ValueError):
        tmp_table.read(spark)


def test_stream_ingest_replay_is_idempotent(spark):
    """#178: a second full drain re-delivers every micro-batch with a
    fresh checkpoint; the (source, batchId) txn markers must skip all
    of them — no new versions, no duplicate rows."""
    from zmaxion_spark.queries.txlog_q import events_ingest_table

    t1 = events_ingest_table(spark, SF_SMOKE)
    versions = t1.versions()
    rows = t1.read(spark).count()
    t2 = events_ingest_table(spark, SF_SMOKE)
    assert t2.versions() == versions
    assert t2.read(spark).count() == rows


def test_vacuum_trades_time_travel_for_storage(tmp_table, spark):
    """#179: after vacuum at head, the head read survives and the
    pre-overwrite snapshot stops resolving (its files are gone)."""
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders.filter(F.col("o_orderstatus") == "O"), n_files=2)
    tmp_table.overwrite(orders.filter(F.col("o_orderstatus") == "F"), n_files=2)
    head_before = tmp_table.read(spark).count()
    deleted = tmp_table.vacuum(retain_from_version=tmp_table.latest_version())
    assert deleted, "vacuum deleted nothing despite dead files"
    assert tmp_table.read(spark).count() == head_before
    with pytest.raises(Exception):
        tmp_table.read(spark, version=0).count()


def test_ecs_world_versions_are_consistent_snapshots(spark):
    """#180: two saves stack versions; load(version=0) returns the
    tick-1 world for EVERY component, not a mix."""
    import tempfile

    from zmaxion_spark.ecs import World

    cust = load_table(spark, SF_SMOKE, "customer").limit(100)
    w = World().register(
        "balance", cust, key="c_custkey", cols={"c_acctbal": "balance"}
    )
    root = tempfile.mkdtemp(prefix="zmx-ecs-vers-") + "/world"
    w.save(root)
    w.run_system("balance", lambda df: df.withColumn("balance", F.col("balance") * 2))
    w.save(root)
    v0 = World.load(spark, root, version=0).component("balance")
    v1 = World.load(spark, root, version=1).component("balance")
    s0 = v0.agg(F.sum(F.col("balance").cast("decimal(38,6)"))).collect()[0][0]
    s1 = v1.agg(F.sum(F.col("balance").cast("decimal(38,6)"))).collect()[0][0]
    assert s1 == s0 * 2


def test_change_feed_ignores_compaction(spark):
    """#183: the v2 compaction re-added every live file's rows with
    dataChange:false; the feed after v0 must contain exactly the v1
    append ('F' rows) — including compaction would roughly double it."""
    t = orders_tx(spark, SF_SMOKE)
    feed = t.read_changes(spark, since_version=0).count()
    expect = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .count()
    )
    assert feed == expect


def test_schema_evolution_nulls_old_files(tmp_table, spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders.select("o_orderkey", "o_totalprice").limit(50))
    tmp_table.append(
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority").limit(50)
    )
    df = tmp_table.read(spark, merge_schema=True)
    assert "o_orderpriority" in df.columns
    assert df.filter(F.col("o_orderpriority").isNull()).count() == 50


def test_txlog_stream_resumes_from_committed_offset(tmp_table, spark):
    """#184: an availableNow drain checkpoints the consumed log
    version; after a new commit, a resumed drain emits ONLY the new
    commit's rows (no re-read of consumed versions)."""
    import tempfile

    from zmaxion_spark.streaming.pipeline import run_to_parquet
    from zmaxion_spark.streaming.txlog_source import stream_txlog

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tmp_table.append(orders.limit(100))
    out = tempfile.mkdtemp(prefix="zmx-txsrc-out-")
    ckpt = tempfile.mkdtemp(prefix="zmx-txsrc-ckpt-")
    run_to_parquet(stream_txlog(spark, tmp_table.path), out, checkpoint=ckpt)
    assert spark.read.parquet(out).count() == 100
    tmp_table.append(orders.limit(150))  # second commit: 150 more rows
    run_to_parquet(stream_txlog(spark, tmp_table.path), out, checkpoint=ckpt)
    assert spark.read.parquet(out).count() == 250


def test_cluster_tightens_both_dimensions(spark):
    """#187: after the Z-order layout commit, a 2-D banded read must
    prune files using BOTH stats columns, and the cluster commit must
    stay invisible to the change feed."""
    import tempfile

    from zmaxion_spark.queries.scale_q import zorder_value
    from zmaxion_spark.queries.txlog_q import _HI, _LO

    orders = load_table(spark, SF_SMOKE, "orders")
    t = TxTable(
        tempfile.mkdtemp(prefix="zmx-cluster-test-") + "/t",
        stat_cols=("o_custkey", "o_totalprice"),
    )
    t.append(orders, n_files=8)
    z = zorder_value(
        (F.col("o_custkey") % 65536).cast("long"),
        ((F.col("o_totalprice") / 10.0).cast("long") % 65536),
    )
    t.cluster(spark, z, n_files=8)
    n_live = len(t.live_files())
    pruned = t.read(
        spark, prune=[("o_custkey", 100, 400), ("o_totalprice", _LO, _HI)]
    )
    assert len(pruned.inputFiles()) < n_live
    # change feed after the initial append sees nothing (layout only)
    with pytest.raises(ValueError):
        t.read_changes(spark, since_version=0)


def test_bloom_index_skips_files(spark):
    """#188: with range layout on price, a 10-key orderkey lookup must
    prune at least one file via the bloom bitsets alone (min/max stats
    can't help), and never lose a matching row."""
    import tempfile

    from zmaxion_spark.queries.txlog_q import _BLOOM_KEYS

    orders = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    t = TxTable(
        tempfile.mkdtemp(prefix="zmx-bloom-test-") + "/t",
        stat_cols=("o_totalprice",),
        bloom_cols=("o_orderkey",),
    )
    t.append(orders, n_files=8, range_col="o_totalprice")
    pruned = t.read(spark, bloom_point=("o_orderkey", _BLOOM_KEYS))
    assert len(pruned.inputFiles()) < len(t.live_files())
    expect = orders.filter(F.col("o_orderkey").isin(_BLOOM_KEYS)).count()
    got = pruned.filter(F.col("o_orderkey").isin(_BLOOM_KEYS)).count()
    assert got == expect


def test_compaction_materializes_deletion_vectors(tmp_table, spark):
    """#189: after delete_where, the vectors live in the log; after
    compaction they are gone and the answer is unchanged — the rewrite
    read through the vectors."""
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders, n_files=4)
    tmp_table.delete_where(spark, F.col("o_orderstatus") == "P")
    expect = tmp_table.read(spark).count()
    assert any(f.dv for f in tmp_table.live_files())
    tmp_table.compact(spark, n_files=2)
    assert not any(f.dv for f in tmp_table.live_files())
    assert tmp_table.read(spark).count() == expect
    assert expect == orders.filter(F.col("o_orderstatus") != "P").count()


def test_time_travel_predates_deletes(tmp_table, spark):
    """#189 x #176: a snapshot before the delete commit still sees
    every row — deletes are versioned like any other commit."""
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders, n_files=2)
    total = orders.count()
    tmp_table.delete_where(spark, F.col("o_orderstatus") == "P")
    assert tmp_table.read(spark, version=0).count() == total
    assert tmp_table.read(spark).count() < total


def test_checkpoint_seeds_replay(tmp_table, spark):
    """#190: live_files after a checkpoint must equal full replay —
    including a post-checkpoint delete vector and remove."""
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders.limit(200), n_files=2)
    tmp_table.append(orders.limit(100), n_files=1)
    full_before = {f.path for f in tmp_table.live_files()}
    v = tmp_table.write_checkpoint()
    assert v == tmp_table.latest_version()
    tmp_table.delete_where(spark, F.col("o_orderstatus") == "P")
    seeded = tmp_table.live_files()
    assert {f.path for f in seeded} == full_before
    assert any(f.dv for f in seeded)
    # time travel BEFORE the checkpoint still replays from scratch
    assert len(tmp_table.live_files(version=0)) == 2


def test_occ_append_retries_through_race(tmp_table, spark):
    """#191: a commit whose snapshot predates a competing APPEND
    commutes with it — commit_retry validates the unseen commit, finds
    no removed read files, and lands on the new head."""
    df = load_table(spark, SF_SMOKE, "orders").limit(10)
    tmp_table.append(df)  # v0, our snapshot
    read_set = {f.path for f in tmp_table.live_files()}
    tmp_table.append(df)  # v1: competing append lands after our read
    v = tmp_table.commit_retry(
        [], read_files=read_set, snapshot_version=0
    )
    assert v == 2


def test_occ_raises_on_removed_read_set(tmp_table, spark):
    """#191: a transaction whose read set was invalidated by a
    competing REMOVE must fail with ConcurrentModification, not
    silently commit on top."""
    from zmaxion_spark.txlog import ConcurrentModification

    df = load_table(spark, SF_SMOKE, "orders").limit(10)
    tmp_table.append(df)  # v0, our snapshot
    read_set = {f.path for f in tmp_table.live_files()}
    removed = sorted(read_set)[0]
    tmp_table._commit([{"remove": removed}])  # v1: competitor removes it
    with pytest.raises(ConcurrentModification):
        tmp_table.commit_retry([], read_files=read_set, snapshot_version=0)


def test_validated_commit_aborts_and_leaves_table_unchanged(tmp_table, spark):
    """#193: a failing gate must raise BEFORE anything commits — the
    version count and live set stay exactly as they were."""
    from zmaxion_spark.functions.quality import Check
    from zmaxion_spark.txlog import QualityGateFailure

    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders.limit(10))
    versions = tmp_table.versions()
    impossible = Check("g").in_range("o_totalprice", -2.0, -1.0)
    with pytest.raises(QualityGateFailure):
        tmp_table.append(orders.limit(10), validate=impossible)
    assert tmp_table.versions() == versions


def test_medallion_rerun_is_idempotent(spark):
    """#192: re-running the whole bronze->silver pipeline adds no new
    silver versions and no rows."""
    from zmaxion_spark.queries.txlog_q import _silver_table

    s1 = _silver_table(spark, SF_SMOKE)
    versions, rows = s1.versions(), s1.read(spark).count()
    s2 = _silver_table(spark, SF_SMOKE)
    assert s2.versions() == versions
    assert s2.read(spark).count() == rows


def test_clone_is_zero_copy_and_isolated(tmp_table, spark):
    """#196: the clone's data dir starts EMPTY (files referenced, not
    copied); diverging the clone never touches the source."""
    import tempfile

    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders.filter(F.col("o_orderstatus") == "O"), n_files=2)
    src_versions = tmp_table.versions()
    src_rows = tmp_table.read(spark).count()
    dest = tempfile.mkdtemp(prefix="zmx-clone-test-") + "/t"
    clone = tmp_table.clone(dest)
    assert os.listdir(os.path.join(dest, "data")) == []  # zero bytes copied
    assert clone.read(spark).count() == src_rows
    clone.append(orders.filter(F.col("o_orderstatus") == "F"), n_files=1)
    assert tmp_table.versions() == src_versions
    assert tmp_table.read(spark).count() == src_rows
    assert clone.read(spark).count() > src_rows


def test_restore_keeps_history(tmp_table, spark):
    """#197: restore is a commit — the bad version remains readable,
    and the restore can be time-traveled past."""
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders.filter(F.col("o_orderstatus") == "O"), n_files=2)
    n0 = tmp_table.read(spark).count()
    tmp_table.overwrite(orders.filter(F.col("o_orderstatus") == "F"), n_files=2)
    n1 = tmp_table.read(spark).count()
    v = tmp_table.restore(spark, version=0)
    assert tmp_table.read(spark).count() == n0          # head rolled back
    assert tmp_table.read(spark, version=1).count() == n1  # bad version intact
    assert v == 2


def test_metadata_aggs_and_dv_guard(tmp_table, spark):
    """#198: manifest count/min-max match the scan; with deletion
    vectors, count subtracts them and min/max refuses."""
    t = TxTable(tmp_table.path + "_stats", stat_cols=("o_totalprice",))
    orders = load_table(spark, SF_SMOKE, "orders")
    t.append(orders, n_files=3)
    assert t.metadata_count() == orders.count()
    lo, hi = t.metadata_min_max("o_totalprice")
    row = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert (lo, hi) == (row[0], row[1])
    t.delete_where(spark, F.col("o_orderstatus") == "P")
    assert t.metadata_count() == t.read(spark).count()
    with pytest.raises(ValueError):
        t.metadata_min_max("o_totalprice")


def test_replace_where_refuses_stray_rows_and_prunes(tmp_table, spark):
    """#199: rows outside the predicate abort the overwrite; partition
    pruning reads only the named partition's files; untouched
    partitions keep their exact file paths across the swap."""
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    tmp_table.append_partitioned(orders, "o_orderstatus", files_per_part=2)
    all_files = {f.path for f in tmp_table.live_files()}
    only_o = tmp_table.read(spark, partitions={"o_orderstatus": ["O"]})
    assert len(only_o.inputFiles()) == 2
    assert only_o.filter(F.col("o_orderstatus") != "O").count() == 0
    with pytest.raises(ValueError):
        tmp_table.replace_where(orders, "o_orderstatus", ["O"])  # F/P stray
    tmp_table.replace_where(
        orders.filter(F.col("o_orderstatus") == "O"), "o_orderstatus", ["O"]
    )
    after = {f.path: f for f in tmp_table.live_files()}
    untouched = {
        p for p, f in after.items() if f.partition.get("o_orderstatus") != "O"
    }
    assert untouched == {
        p for p in all_files
        if p in after and after[p].partition.get("o_orderstatus") != "O"
    }
    assert untouched  # F and P partitions kept their bytes


# ---------------------------------------------------------------------------
# One conflict rule for every writer: a rival commit that lands
# mid-transaction is refused when it removed a file this transaction
# read, or attached a deletion vector to a file this transaction
# removes; DVs on files nobody removes commute.
# ---------------------------------------------------------------------------


def _rival_lands_after(monkeypatch, table, method, rival):
    """Run ``rival()`` (a competing writer's commit) once, right after
    ``table.<method>`` first returns — the lost-race state, made
    deterministic."""
    orig = getattr(table, method)

    def hooked(*args, **kwargs):
        out = orig(*args, **kwargs)
        monkeypatch.setattr(table, method, orig)
        rival()
        return out

    monkeypatch.setattr(table, method, hooked)


def _orders_in_4_files(table, spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    table.append(orders, n_files=4)
    return orders


def test_compact_over_concurrent_delete_is_refused(tmp_table, spark, monkeypatch):
    orders = _orders_in_4_files(tmp_table, spark)
    rival = TxTable(tmp_table.path)
    _rival_lands_after(
        monkeypatch, tmp_table, "_stage",
        lambda: rival.delete_where(spark, F.col("o_orderstatus") == "O"),
    )
    with pytest.raises(ConcurrentModification):
        tmp_table.compact(spark, n_files=1)
    # the delete holds: the stale rewrite never committed over it
    assert tmp_table.read(spark).count() == orders.filter(
        F.col("o_orderstatus") != "O"
    ).count()


def test_overwrite_over_concurrent_delete_is_refused(tmp_table, spark, monkeypatch):
    _orders_in_4_files(tmp_table, spark)
    rival = TxTable(tmp_table.path)
    versions = tmp_table.versions()
    _rival_lands_after(
        monkeypatch, tmp_table, "_stage",
        lambda: rival.delete_where(spark, F.col("o_orderstatus") == "O"),
    )
    with pytest.raises(ConcurrentModification):
        tmp_table.overwrite(load_table(spark, SF_SMOKE, "orders").limit(10))
    assert tmp_table.versions() == versions + [versions[-1] + 1]  # rival only


def test_delete_over_concurrent_compact_is_refused(tmp_table, spark, monkeypatch):
    orders = _orders_in_4_files(tmp_table, spark)
    rival = TxTable(tmp_table.path)
    _rival_lands_after(
        monkeypatch, tmp_table, "live_files",
        lambda: rival.compact(spark, n_files=1),
    )
    with pytest.raises(ConcurrentModification):
        tmp_table.delete_where(spark, F.col("o_orderstatus") == "O")
    assert tmp_table.read(spark).count() == orders.count()


def test_cluster_builds_bloom_indexes(tmp_table, spark):
    t = TxTable(tmp_table.path + "_bloom", bloom_cols=("o_orderkey",))
    orders = load_table(spark, SF_SMOKE, "orders")
    t.append(orders, n_files=4)
    t.cluster(spark, F.col("o_orderkey"), n_files=4)
    live = t.live_files()
    assert live and all("o_orderkey" in f.bloom for f in live)
    keys = [r[0] for r in orders.select("o_orderkey").limit(3).collect()]
    got = t.read(spark, bloom_point=("o_orderkey", keys))
    assert got.filter(F.col("o_orderkey").isin(keys)).count() == 3


def test_concurrent_deletes_on_one_file_both_hold(tmp_table, spark, monkeypatch):
    orders = load_table(spark, SF_SMOKE, "orders")
    tmp_table.append(orders, n_files=1)
    rival = TxTable(tmp_table.path)
    _rival_lands_after(
        monkeypatch, tmp_table, "live_files",
        lambda: rival.delete_where(spark, F.col("o_orderstatus") == "F"),
    )
    tmp_table.delete_where(spark, F.col("o_orderstatus") == "O")
    assert tmp_table.read(spark).count() == orders.filter(
        F.col("o_orderstatus") == "P"
    ).count()
