"""Minimal transaction-log table format ("lakehouse-lite").

SURVEY.md §2.18 (#175–#177). The reference declares a stream
processing framework (/root/reference/README.md:2); a durable,
atomically-committed table with snapshot reads is the batch half of
that contract — what a topic's compacted history becomes at rest.
This module implements the table-format pattern Delta/Iceberg/Hudi
standardized, reduced to its load-bearing core on plain parquet +
JSON, with zero non-public dependencies:

- **Commit log**: ``{path}/_log/{version:08d}.json``, one file per
  version, each listing data files added/removed plus per-file,
  per-column min/max stats (from the parquet footers — no data read).
- **Atomic commits**: a version file is created with O_CREAT|O_EXCL —
  the filesystem arbitrates concurrent writers; the loser gets
  ``CommitConflict`` and retries on top of the new head (optimistic
  concurrency, exactly Delta's protocol shape). Every writer commits
  through ``commit_retry`` under one conflict rule: a commit that
  landed after the writer's snapshot conflicts if it removed a file
  the writer read, or attached a deletion vector to a file the writer
  removes. All else commutes (appends, concurrent deletes).
- **Snapshot isolation**: a read resolves the live file set at one
  version and never sees a half-commit (a data file is visible only
  after its log record exists; orphaned staging files are invisible).
- **Time travel**: any historical version replays the log prefix.
- **Compaction**: rewrite N small files into few, as a normal
  remove+add commit — readers see either all-old or all-new, and a
  snapshot pinned to an older version still resolves the old files.
- **Data skipping**: ``read`` takes an optional column range and
  prunes files whose [min,max] cannot intersect BEFORE Spark ever
  lists them — the manifest does the first pruning pass, the parquet
  row-group stats the second.

Scale notes: the log is O(commits) small JSON files and the stats are
footer metadata only, so planning cost is independent of data volume;
the data path is stock parquet scans with all Catalyst pushdown
intact. ``write_checkpoint`` snapshots the live set so replay is
O(commits since the checkpoint). Only this module knows the record
layout; others read the log through ``live_files``/``added_files``.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq


class CommitConflict(Exception):
    """Another writer committed this version first; retry on new head."""


class ConcurrentModification(Exception):
    """A competing commit invalidated this transaction's snapshot
    (removed a file it read, or attached a deletion vector to a file it
    removes) — the transaction must restart."""


class QualityGateFailure(Exception):
    """A validated commit's constraint suite reported violations; the
    commit was aborted before any data was staged."""


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    stats: dict[str, list] = field(default_factory=dict)  # col -> [min, max]
    dv: list[int] = field(default_factory=list)  # deleted row indices
    bloom: dict[str, list] = field(default_factory=dict)  # col -> set bits
    partition: dict[str, object] = field(default_factory=dict)  # col -> value


def _add_action(f: FileEntry, path: str | None = None) -> dict:
    """The add action that publishes ``f`` (at ``path``, default its
    own). Its DV travels in a ``dv`` action; a checkpoint entry is
    ``asdict(f)`` and reads back as ``FileEntry(**e)``."""
    extra = {k: v for k, v in (("bloom", f.bloom), ("partition", f.partition)) if v}
    return {"add": path or f.path, "rows": f.rows, "stats": f.stats, **extra}


# Bloom geometry (#188): m bits, k md5-derived hash functions per key.
BLOOM_M, BLOOM_K = 4096, 3


def bloom_bits(value) -> list[int]:
    """The k bit positions a key sets — driver-side twin of the
    Spark-side expression in ``_bloom_for_files`` (same md5 arithmetic,
    so executors and the pruning planner always agree)."""
    import hashlib as _h

    return [
        int(_h.md5(f"bf{j}:{value}".encode()).hexdigest()[:8], 16) % BLOOM_M
        for j in range(BLOOM_K)
    ]


def _footer_stats(abs_path: str, stat_cols: tuple[str, ...]) -> tuple[int, dict]:
    """Per-file row count + per-column [min, max] from the parquet
    footer — metadata only, no data pages touched."""
    md = pq.ParquetFile(abs_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    for col in stat_cols:
        i = name_to_idx.get(col)
        if i is None:
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                mins.pop(col, None)
                maxs.pop(col, None)
                break
            mins[col] = st.min if col not in mins else min(mins[col], st.min)
            maxs[col] = st.max if col not in maxs else max(maxs[col], st.max)
    return md.num_rows, {c: [mins[c], maxs[c]] for c in mins if c in maxs}


class TxTable:
    """A logged parquet table rooted at ``path`` (local or any
    Hadoop-visible filesystem; file:// semantics in tests)."""

    def __init__(
        self,
        path: str,
        stat_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
    ):
        self.path = path
        self.stat_cols = stat_cols
        self.bloom_cols = bloom_cols
        os.makedirs(self._log_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- log primitives ----------------------------------------------------

    @property
    def _log_dir(self) -> str:
        return os.path.join(self.path, "_log")

    def versions(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in os.listdir(self._log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else -1

    def _commit(self, actions: list[dict], meta: dict | None = None) -> int:
        """Atomically write the next version file. O_CREAT|O_EXCL makes
        the filesystem the arbiter: exactly one writer wins a version."""
        version = self.latest_version() + 1
        target = os.path.join(self._log_dir, f"{version:08d}.json")
        try:
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"version": version, "actions": actions, **(meta or {})}, f
            )
        return version

    def _records(self, after: int = -1, upto: int | None = None):
        """Yield ``(version, record)`` for every commit in (after, upto]
        (default: through head), in version order."""
        for v in self.versions():
            if v <= after:
                continue
            if upto is not None and v > upto:
                break
            with open(os.path.join(self._log_dir, f"{v:08d}.json")) as f:
                yield v, json.load(f)

    # -- log checkpoints (#190): O(1) planning on long logs ----------------

    def write_checkpoint(self) -> int:
        """Snapshot the current live set into one manifest file so
        readers replay O(commits since checkpoint), not O(commits ever)
        — the Delta `_last_checkpoint` pattern. Returns the
        checkpointed version. Idempotent per version; crash-safe (a
        half-written checkpoint is ignored until its rename lands)."""
        head = self.latest_version()
        payload = {
            "version": head,
            "live": [asdict(f) for f in self.live_files(version=head)],
        }
        target = os.path.join(self._log_dir, f"chk-{head:08d}.json")
        tmp = f"{target}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, target)
        return head

    def _latest_checkpoint(self, head: int) -> dict | None:
        chks = [
            int(name[4:-5])
            for name in os.listdir(self._log_dir)
            if name.startswith("chk-") and name.endswith(".json")
        ]
        best = max((v for v in chks if v <= head), default=None)
        if best is None:
            return None
        with open(os.path.join(self._log_dir, f"chk-{best:08d}.json")) as f:
            return json.load(f)

    # -- optimistic concurrency with logical conflict check (#191) ---------

    def commit_retry(
        self,
        actions: list[dict],
        read_files: set[str] = frozenset(),
        snapshot_version: int | None = None,
        max_retries: int = 5,
        meta: dict | None = None,
    ) -> int | None:
        """Commit with Delta-shaped optimistic concurrency — the one
        commit path every writer takes. ``snapshot_version`` is the head
        this transaction READ its inputs at (default: now). Before every
        commit attempt, each commit unseen at snapshot time is validated
        against the one conflict rule: if it REMOVED a file in
        ``read_files``, or attached a deletion vector to a file these
        ``actions`` remove, the write cannot survive →
        ConcurrentModification (re-derive and retry at the new
        snapshot). Anything else commutes (appends, deletion vectors on
        files nobody removes), so a lost version race just retries on
        the new head. With a ``txn`` marker in ``meta`` (append_batch),
        an unseen commit that already applied this batch makes the
        commit a no-op: returns None."""
        removes = {a["remove"] for a in actions if "remove" in a}
        txn = (meta or {}).get("txn")
        checked = (
            self.latest_version() if snapshot_version is None else snapshot_version
        )
        for _ in range(max_retries + 1):
            for v, rec in self._records(after=checked):
                seen = rec.get("txn", {})
                if txn and seen.get("source") == txn["source"] and (
                    seen["batchId"] >= txn["batchId"]
                ):
                    return None
                for a in rec["actions"]:
                    if a.get("remove") in read_files or a.get("dv") in removes:
                        raise ConcurrentModification(
                            f"commit v{v} removed or deleted rows of "
                            f"{a.get('remove') or a['dv']}, which this "
                            "transaction read or removes"
                        )
                checked = v
            try:
                return self._commit(actions, meta)
            except CommitConflict:
                continue
        raise CommitConflict(f"lost {max_retries + 1} version races")

    # -- write paths -------------------------------------------------------

    def _stage(self, df, n_files: int | None, range_col: str | None) -> list[dict]:
        """Write df's data as new parquet files under data/ and return
        their add-actions, with bloom indexes for ``bloom_cols`` (not
        yet committed, hence invisible)."""
        tmp = os.path.join(self.path, f"_staging-{uuid.uuid4().hex[:12]}")
        if range_col is not None and n_files:
            df = df.repartitionByRange(n_files, range_col)
        elif n_files:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(tmp)
        adds = []
        for name in sorted(os.listdir(tmp)):
            if not name.endswith(".parquet"):
                continue
            final = f"data/{uuid.uuid4().hex[:16]}.parquet"
            os.rename(os.path.join(tmp, name), os.path.join(self.path, final))
            rows, stats = _footer_stats(
                os.path.join(self.path, final), self.stat_cols
            )
            adds.append({"add": final, "rows": rows, "stats": stats})
        for leftover in os.listdir(tmp):
            os.remove(os.path.join(tmp, leftover))
        os.rmdir(tmp)
        if self.bloom_cols:
            self._bloom_for_files(df.sparkSession, adds)
        return adds

    def _bloom_for_files(self, spark, adds: list[dict]) -> None:
        """Attach per-file bloom bitsets (#188) for ``bloom_cols`` to
        freshly-staged add actions. Computed DISTRIBUTED: one scan of
        the new files, k md5 hash bits per key exploded, distinct bit
        positions aggregated per file — at most BLOOM_M ints per file
        ever reach the driver (metadata-sized, like the stats)."""
        from pyspark.sql import functions as F

        paths = {os.path.join(self.path, a["add"]): a for a in adds}
        if not paths:
            return
        df = spark.read.parquet(*paths)
        for col in self.bloom_cols:
            if col not in df.columns:
                continue
            hashes = [
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"bf{j}:"), F.col(col).cast("string")
                            ).cast("binary")
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % BLOOM_M
                for j in range(BLOOM_K)
            ]
            bits = (
                df.select(
                    F.col("_metadata.file_path").alias("fp"),
                    F.explode(F.array(*hashes)).alias("bit"),
                )
                .distinct()
                .groupBy("fp")
                .agg(F.sort_array(F.collect_list("bit")).alias("bits"))
                .collect()
            )
            for row in bits:
                a = paths.get(row["fp"].removeprefix("file:"))
                if a is not None:
                    a.setdefault("bloom", {})[col] = [int(b) for b in row["bits"]]

    def append(
        self,
        df,
        n_files: int | None = None,
        range_col: str | None = None,
        validate=None,
    ) -> int:
        """Commit new data files. ``range_col`` range-partitions the
        write so file-level min/max stats become disjoint — the layout
        that makes data skipping effective. ``validate`` (#193) is a
        quality gate — a ``functions.quality.Check`` (or any callable
        df -> report with (constraint_name, passed) columns) evaluated
        BEFORE staging: violations abort the commit, so a published
        version can never contain data that failed its contract."""
        if validate is not None:
            from pyspark.sql import functions as F

            report = (
                validate.run(df) if hasattr(validate, "run") else validate(df)
            )
            failed = [
                r["constraint_name"]
                for r in report.filter(~F.col("passed")).collect()
            ]
            if failed:
                raise QualityGateFailure(
                    f"commit aborted, failed constraints: {failed}"
                )
        adds = self._stage(df, n_files, range_col)
        # Appends read nothing, so they commute with any concurrent
        # commit — retry through version races (#191).
        return self.commit_retry(adds)

    def delete_where(self, spark, predicate) -> int:
        """Merge-on-read DELETE (#189): no data file is rewritten —
        the commit records a deletion vector (matched row indices) per
        affected file, and reads subtract them. The DV is
        metadata-sized for selective deletes (at production scale:
        roaring bitmaps); a later compaction materializes the deletes
        and drops the vectors. GDPR-eraser / dedup-killer shape: a
        100 TB table deletes a few million rows in seconds, paying
        rewrite cost only when maintenance chooses to."""
        return self._dv_commit(spark, lambda rows: rows.filter(predicate))

    def delete_matching(self, spark, keys_df, key_col: str) -> int:
        """DataFrame-native DELETE: drop every row whose ``key_col``
        appears in ``keys_df`` (any DataFrame carrying that column).
        Same deletion-vector commit as :meth:`delete_where`, but the
        match is a distributed LEFT SEMI join — the doomed-key set
        never passes through the driver, so "delete these N million
        keys" scales where an ``isin([...])`` predicate list cannot."""
        keys = keys_df.select(key_col).distinct()
        return self._dv_commit(
            spark, lambda rows: rows.join(keys, key_col, "left_semi")
        )

    def _dv_commit(self, spark, match) -> int:
        """Commit deletion vectors for the rows ``match`` keeps of the
        live snapshot's scan: group the matched (file, row index) pairs
        per file and record one DV action per affected file. The
        ``_metadata`` pseudo-column is projected off the scan BEFORE
        ``match`` (it only resolves against the file source, not across
        a join). Only the per-file index LISTS are collected —
        O(deleted rows) ints, the same payload the commit JSON itself
        must hold."""
        from pyspark.sql import functions as F

        head = self.latest_version()
        live = self.live_files(head)
        rows = spark.read.parquet(
            *[os.path.join(self.path, f.path) for f in live]
        ).select(
            "*",
            F.col("_metadata.file_path").alias("_zmx_fp"),
            F.col("_metadata.row_index").alias("_zmx_ri"),
        )
        hits = (
            match(rows)
            .groupBy("_zmx_fp")
            .agg(F.sort_array(F.collect_list("_zmx_ri")).alias("rows"))
            .collect()
        )
        prefix = "file:" + self.path + "/"
        actions = [
            {
                "dv": row["_zmx_fp"].removeprefix(prefix),
                "drop_rows": [int(r) for r in row["rows"]],
            }
            for row in hits
        ]
        if not actions:
            raise ValueError("delete matched no rows")
        return self.commit_retry(
            actions, read_files={f.path for f in live}, snapshot_version=head
        )

    def append_batch(self, df, source: str, batch_id: int) -> int | None:
        """Exactly-once streaming ingestion: commit one micro-batch,
        idempotently. The (source, batch_id) pair is recorded in the
        commit; a replayed batch (foreachBatch retries after failure,
        checkpoint recovery re-delivers the last batch) is detected in
        the log and skipped — the streaming txn pattern Delta's
        ``txnAppId``/``txnVersion`` standardized. Returns the committed
        version, or None when the batch was already applied."""
        head = self.latest_version()
        if batch_id <= self.applied_batches(source):
            return None
        return self.commit_retry(
            self._stage(df, None, None),
            snapshot_version=head,
            meta={"txn": {"source": source, "batchId": batch_id}},
        )

    def applied_batches(self, source: str) -> int:
        """Highest batch_id already committed for ``source`` (-1 if
        none). Batches commit in order per source, so one high-water
        mark is the full idempotence state."""
        return max(
            (
                rec["txn"]["batchId"]
                for _, rec in self._records()
                if rec.get("txn", {}).get("source") == source
            ),
            default=-1,
        )

    def vacuum(self, retain_from_version: int) -> list[str]:
        """Physically delete data files not live at ANY version >=
        ``retain_from_version`` (the retention horizon): everything but
        the horizon's live set and the files added after it. Time travel
        before the horizon stops resolving — the documented trade for
        reclaiming storage. Returns deleted paths."""
        protected = {f.path for f in self.live_files(version=retain_from_version)}
        protected |= {
            a["add"]
            for _, rec in self._records(after=retain_from_version)
            for a in rec["actions"]
            if "add" in a
        }
        deleted = []
        data_dir = os.path.join(self.path, "data")
        for name in sorted(os.listdir(data_dir)):
            rel = f"data/{name}"
            if rel not in protected:
                os.remove(os.path.join(data_dir, name))
                deleted.append(rel)
        return deleted

    def _stage_partitioned(self, df, part_col: str, files_per_part: int) -> list[dict]:
        from pyspark.sql import functions as F

        # NOTE (r11): the driver enumerates partition values and stages
        # each one as its own sequential write job, re-computing df's
        # upstream pipeline per job. A blanket localCheckpoint here was
        # measured a ~8% REGRESSION for cheap-upstream callers
        # (q_txlog_replace_where: the materialization costs more than
        # the re-scans save); callers with expensive upstreams
        # checkpoint at the call site instead (q_corpus_to_shards).
        values = sorted(
            r[0] for r in df.select(part_col).distinct().collect()
        )
        adds: list[dict] = []
        for v in values:
            sub = df.filter(F.col(part_col) == v)
            staged = self._stage(sub, files_per_part, None)
            for a in staged:
                a["partition"] = {part_col: v}
            adds += staged
        return adds

    def append_partitioned(
        self, df, part_col: str, files_per_part: int = 1
    ) -> int:
        """Hive-style partitioned commit (#199): each staged file
        belongs to exactly one value of ``part_col`` and carries that
        value as a manifest marker — partition pruning becomes an
        equality check on metadata, and partition-aligned rewrites
        (``replace_where``) become exact file swaps. Partition
        cardinality must be bounded (driver enumerates the values) —
        the same contract as every hive-layout table."""
        return self.commit_retry(
            self._stage_partitioned(df, part_col, files_per_part)
        )

    def replace_where(
        self, df, part_col: str, values: list, files_per_part: int = 1
    ) -> int:
        """Dynamic partition overwrite (Delta's ``replaceWhere``): ONE
        atomic commit swaps the listed partitions for ``df``'s rows —
        the backfill/restatement pattern (recompute yesterday, swap it
        in, touch nothing else). Rows outside the predicate are
        REFUSED (silently widening an overwrite is how backfills eat
        tables)."""
        from pyspark.sql import functions as F

        stray = df.filter(~F.col(part_col).isin(values)).limit(1).count()
        if stray:
            raise ValueError(
                f"replace_where df contains rows outside {part_col} in {values}"
            )
        head = self.latest_version()
        doomed = {
            f.path
            for f in self.live_files(head)
            if f.partition.get(part_col) in values
        }
        adds = self._stage_partitioned(df, part_col, files_per_part)
        return self._swap(adds, doomed, head)

    def overwrite(self, df, n_files: int | None = None) -> int:
        """Replace the whole table in one atomic commit."""
        head = self.latest_version()
        doomed = {f.path for f in self.live_files(head)}
        return self._swap(self._stage(df, n_files, None), doomed, head)

    def _swap(
        self, adds: list[dict], doomed: set[str], head: int, meta=None, **marks
    ) -> int:
        """Commit ``adds`` and the removal of ``doomed`` (files live at
        ``head``, which this transaction read) as one commit. ``marks``
        (``dataChange``) tag every action."""
        removes = [{"remove": p} for p in sorted(doomed)]
        return self.commit_retry(
            [dict(a, **marks) for a in adds + removes],
            read_files=doomed,
            snapshot_version=head,
            meta=meta,
        )

    def compact(self, spark, n_files: int = 1) -> int:
        """Rewrite the current live set into ``n_files`` files — a pure
        layout change in one commit; every snapshot still resolves.
        Deletion vectors (#189) are MATERIALIZED here — the rewrite
        reads through them, so the new files carry no vectors."""
        return self._rewrite(spark, n_files)

    def cluster(self, spark, cluster_expr, n_files: int = 8) -> int:
        """Re-cluster the live set by an expression (e.g. a Z-order
        interleave): range-partition + sort the data on it. After
        clustering, per-file min/max stats on the expression's source
        columns become tight, so manifest pruning (#177) works on every
        dimension the expression mixes. Like compact, deletion vectors
        materialize in the rewrite."""
        return self._rewrite(
            spark,
            None,
            lambda df: df.withColumn("_zmx_cluster", cluster_expr)
            .repartitionByRange(n_files, "_zmx_cluster")
            .sortWithinPartitions("_zmx_cluster")
            .drop("_zmx_cluster"),
        )

    def _rewrite(self, spark, n_files: int | None, layout=None) -> int:
        """The layout commit shared by compact and cluster: read the
        head snapshot (through its deletion vectors), reshape it with
        ``layout``, stage it into ``n_files`` files with bloom indexes,
        and swap it for the old live set. Every action carries
        ``dataChange: false`` so change feeds (#183) and streams know
        no rows were logically added or removed."""
        head = self.latest_version()
        doomed = {f.path for f in self.live_files(head)}
        df = self.read(spark, version=head)
        adds = self._stage(layout(df) if layout else df, n_files, None)
        return self._swap(adds, doomed, head, dataChange=False)

    def clone(self, dest_path: str, version: int | None = None) -> "TxTable":
        """Zero-copy SHALLOW CLONE (#196): the clone starts with one
        commit referencing the SOURCE's data files by absolute path —
        no byte copied. Diverging writes land clone-local files; the
        source never sees them. (Vacuuming the source can orphan a
        shallow clone — same documented trade as Delta's.)"""
        files = self.live_files(version)
        t = TxTable(dest_path, stat_cols=self.stat_cols, bloom_cols=self.bloom_cols)

        def rel(f: FileEntry) -> str:
            return os.path.relpath(os.path.join(self.path, f.path), dest_path)

        t.commit_retry(
            [_add_action(f, rel(f)) for f in files],
            meta={"clone_of": self.path, "clone_version": version},
        )
        # carry source deletion vectors into the clone's view
        dv_actions = [{"dv": rel(f), "drop_rows": f.dv} for f in files if f.dv]
        if dv_actions:
            t.commit_retry(dv_actions)
        return t

    def restore(self, spark, version: int) -> int:
        """RESTORE (#197): roll the table's HEAD back to ``version`` as
        a NEW commit (re-add that snapshot's live set, remove the
        current one) — history stays intact, so the restore itself can
        be time-traveled past or restored again. The operational undo
        button: a bad MERGE on a 100 TB table reverts in one metadata
        commit."""
        head = self.latest_version()
        target = {f.path: f for f in self.live_files(version)}
        current = {f.path for f in self.live_files(head)}
        adds = [_add_action(f) for p, f in target.items() if p not in current]
        doomed = current - target.keys()
        if not (adds or doomed):
            raise ValueError(f"already at version {version}'s file set")
        return self._swap(adds, doomed, head, meta={"restore_of": version})

    def metadata_count(self, version: int | None = None) -> int:
        """COUNT(*) answered from the manifest alone (#198): sum of
        per-file row counts minus deletion-vector sizes — zero data
        files opened. The aggregation-pushdown endgame for a 100 TB
        table: the scan never happens."""
        return sum(f.rows - len(f.dv) for f in self.live_files(version))

    def metadata_min_max(self, col: str, version: int | None = None):
        """MIN/MAX from manifest stats (#198). Only exact when no
        deletion vectors touch the extreme files — checked: raises if
        any live file carrying stats for ``col`` has a DV (a deleted
        row might have been the extremum)."""
        files = self.live_files(version)
        stats = [f.stats[col] for f in files if col in f.stats]
        if len(stats) != len(files):
            raise ValueError(f"no manifest stats for {col} on every file")
        if any(f.dv for f in files):
            raise ValueError("deletion vectors present: min/max must scan")
        return min(s[0] for s in stats), max(s[1] for s in stats)

    def added_files(self, since: int, until: int | None = None) -> list[str]:
        """Absolute paths of the data files logically ADDED by commits
        in (since, until] (default: through head): adds whose actions
        carry dataChange != false. Compaction and clustering rewrite
        bytes but add no rows, so their adds are excluded."""
        return [
            os.path.join(self.path, a["add"])
            for _, rec in self._records(after=since, upto=until)
            for a in rec["actions"]
            if "add" in a and a.get("dataChange", True)
        ]

    def read_changes(self, spark, since_version: int):
        """Change data feed (#183): the rows logically ADDED after
        ``since_version`` — the union of :meth:`added_files`; including
        layout commits would double-count. (Append-only history here;
        remove-side change rows would need the removed files replayed
        with a _change_type column.)"""
        paths = self.added_files(since_version)
        if not paths:
            raise ValueError(f"no data-changing commits after v{since_version}")
        return spark.read.parquet(*paths)

    # -- read paths --------------------------------------------------------

    def live_files(self, version: int | None = None) -> list[FileEntry]:
        """Replay the log prefix up to ``version`` (default: head) —
        seeded from the newest checkpoint manifest at or before it, so
        replay work is O(commits since checkpoint)."""
        head = self.latest_version() if version is None else version
        chk = self._latest_checkpoint(head)
        live = {e["path"]: FileEntry(**e) for e in chk["live"]} if chk else {}
        for _, rec in self._records(after=chk["version"] if chk else -1, upto=head):
            for a in rec["actions"]:
                if "add" in a:
                    live[a["add"]] = FileEntry(
                        a["add"], a["rows"], a["stats"],
                        bloom=a.get("bloom", {}), partition=a.get("partition", {}),
                    )
                elif "remove" in a:
                    live.pop(a["remove"], None)
                elif "dv" in a:
                    entry = live.get(a["dv"])
                    if entry is not None:
                        entry.dv = sorted(set(entry.dv) | set(a["drop_rows"]))
        return list(live.values())

    def read(
        self,
        spark,
        version: int | None = None,
        prune: tuple[str, object, object] | None = None,
        merge_schema: bool = False,
        bloom_point: tuple[str, list] | None = None,
        partitions: dict[str, list] | None = None,
    ):
        """Snapshot read. ``prune=(col, lo, hi)`` (or a list of such
        bands) drops files whose [min,max] cannot intersect using
        manifest stats alone; ``bloom_point=(col, keys)`` drops files
        whose bloom bitset proves none of the keys can be present.
        Both are superset guarantees — the residual predicate still
        belongs on the result (same contract as parquet row-group
        skipping). Files with deletion vectors get their deleted rows
        subtracted via an anti-join on (_metadata.file_path,
        _metadata.row_index)."""
        files = self.live_files(version)
        if not files:
            raise ValueError("empty snapshot: no live files at this version")
        all_files = files
        if partitions is not None:
            # partition pruning: metadata equality, the cheapest skip
            files = [
                f for f in files
                if all(f.partition.get(c) in vs for c, vs in partitions.items())
            ]
        if prune is not None:
            bands = [prune] if isinstance(prune, tuple) else list(prune)
            for col, lo, hi in bands:
                kept = []
                for f in files:
                    s = f.stats.get(col)
                    if s is None or not (s[1] < lo or s[0] > hi):
                        kept.append(f)
                files = kept
        if bloom_point is not None:
            col, keys = bloom_point
            want = [set(bloom_bits(k)) for k in keys]
            kept = []
            for f in files:
                bset = f.bloom.get(col)
                if bset is None:
                    kept.append(f)  # no index: cannot exclude
                    continue
                bits = set(bset)
                if any(w <= bits for w in want):
                    kept.append(f)
            files = kept
        if not files:
            # Everything pruned: a legitimately-empty result — serve
            # the schema from one live file with a false predicate.
            one = os.path.join(self.path, all_files[0].path)
            return spark.read.parquet(one).limit(0)
        reader = spark.read
        if merge_schema:
            # Schema evolution across commits: merge file schemas by
            # name; columns absent in older files read as NULL.
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(
            *[os.path.join(self.path, f.path) for f in files]
        )
        dv_rows = [
            (f"file:{os.path.normpath(os.path.join(self.path, f.path))}", int(ri))
            for f in files
            for ri in f.dv
        ]
        if dv_rows:
            from pyspark.sql import functions as F

            dv = F.broadcast(
                spark.createDataFrame(dv_rows, "fp string, ri bigint")
            )
            df = df.join(
                dv,
                (F.col("_metadata.file_path") == dv["fp"])
                & (F.col("_metadata.row_index") == dv["ri"]),
                "left_anti",
            )
        return df
