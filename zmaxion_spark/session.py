"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python
exchange), explicit UTC session timezone (oracle parity), and the
``nanosAsLong`` legacy flag kept for older fixture generations whose
``events.ts`` was TIMESTAMP(NANOS) (current data is timestamp[us];
``catalog.normalize_events_ts`` handles both).

``tune(spark)`` applies the runtime-settable subset to a session we
did not create (the driver hands us its own SparkSession), so every
query callable works regardless of who built the session.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

# Confs that are runtime-settable on any session (SQLConf).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read
    # natively; read as long and convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Local fixtures are small; 32 matches local[32]. At cluster scale
    # this would be sized to data volume (AQE coalesces down anyway).
    "spark.sql.shuffle.partitions": os.environ.get("ZMX_SHUFFLE_PARTITIONS", "32"),
    # Dimension tables (region/nation/supplier/part) comfortably fit;
    # raise the auto-broadcast bar so star joins pick BroadcastHashJoin.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}

_TUNED_SESSIONS: set[int] = set()


def tune(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONF to a (possibly foreign) session, once."""
    key = id(spark)
    if key in _TUNED_SESSIONS:
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; keep going
    _TUNED_SESSIONS.add(key)
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` body only. On exit,
    also when the body raises, each key gets its previous value back,
    or is unset again if it had none."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 16g: the heap must leave room
    for the JVM's off-heap use, the Python workers and the OS."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 * 1024, phys // 2**21)}m"


def get_spark(app_name: str = "zmaxion-spark", cpus: int | str | None = None) -> SparkSession:
    """Create (or get) a local session with the engine's standard conf."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("ZMX_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
