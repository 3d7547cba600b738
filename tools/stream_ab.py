"""Streaming state-store lever A/B (round-12, VERDICT r11 item 2).

Usage: python tools/stream_ab.py <query> [cycles]

Levers that CANNOT change results (same topology, same watermark, same
emitted rows): state-store provider (HDFS-backed vs RocksDB), the
ZMX_STREAM_SHUFFLE state partition count, and RocksDB changelog
checkpointing. Alternates all configs within each cycle so host drift
cancels (each run timed by ``bench.run_one``), then builds the query
once more per config, untimed, and verifies the result rows are
identical across configs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_one  # noqa: E402
from zmaxion_spark.queries import REGISTRY  # noqa: E402
from zmaxion_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)

ALL_CONFIGS = [
    ("hdfs-8", HDFS, "8", None),
    ("hdfs-4", HDFS, "4", None),
    ("hdfs-16", HDFS, "16", None),
    ("hdfs-32", HDFS, "32", None),
    ("rocks-8", ROCKS, "8", "false"),
    ("rocks-chlog-8", ROCKS, "8", "true"),
    ("rocks-chlog-4", ROCKS, "4", "true"),
    ("hdfs-2", HDFS, "2", None),
    ("hdfs-6", HDFS, "6", None),
]
_sel = os.environ.get("ZMX_STREAM_AB_CONFIGS")
CONFIGS = (
    [c for c in ALL_CONFIGS if c[0] in _sel.split(",")] if _sel else ALL_CONFIGS[:6]
)


def apply(spark, provider: str, shuffle_n: str, chlog: str | None) -> None:
    spark.conf.set(PROVIDER_KEY, provider)
    os.environ["ZMX_STREAM_SHUFFLE"] = shuffle_n
    if chlog is not None:
        spark.conf.set(CHANGELOG_KEY, chlog)


def main() -> None:
    if len(sys.argv) < 2:
        print("usage: python tools/stream_ab.py <query> [cycles]", file=sys.stderr)
        sys.exit(2)
    name = sys.argv[1]
    cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    q = REGISTRY[name]
    spark = get_spark("stream-ab")
    caller_provider = spark.conf.get(PROVIDER_KEY, HDFS)
    caller_shuffle = os.environ.get("ZMX_STREAM_SHUFFLE")
    run_one(spark, q, SF_DIR)  # warm-up with the caller's settings, untimed
    times: dict[str, list[float]] = {k: [] for k, *_ in CONFIGS}
    for c in range(cycles):
        for tag, *cfg in CONFIGS:
            apply(spark, *cfg)
            spark.sparkContext.setJobDescription(f"{name} {tag} #{c}")
            times[tag].append(run_one(spark, q, SF_DIR))
            print(f"cycle {c} {tag}: {times[tag][-1]:.2f}s", flush=True)
    rows = {}
    for tag, *cfg in CONFIGS:
        apply(spark, *cfg)
        rows[tag] = sorted(map(tuple, q.fn(spark, SF_DIR).collect()))
    spark.conf.set(PROVIDER_KEY, caller_provider)
    if caller_shuffle is None:
        os.environ.pop("ZMX_STREAM_SHUFFLE", None)
    else:
        os.environ["ZMX_STREAM_SHUFFLE"] = caller_shuffle
    base_tag, base_rows = next(iter(rows.items()))
    bad = [tag for tag, r in rows.items() if r != base_rows]
    if bad:
        print(f"RESULT MISMATCH vs {base_tag} under {bad}!", file=sys.stderr)
        sys.exit(1)
    print(f"== {name} (rows identical across configs: {len(base_rows)}) ==")
    for tag, *_ in CONFIGS:
        ts = times[tag]
        print(f"{tag:>14}: min {min(ts):.2f}s  {[round(t, 2) for t in ts]}")


if __name__ == "__main__":
    main()
