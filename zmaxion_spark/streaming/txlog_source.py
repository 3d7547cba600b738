"""The transaction log as a streaming source — SURVEY §2.18 #184.

Closes the loop opened by ``append_batch`` (#178): a TxTable is not
just a sink for streams, it IS a topic — every commit is an ordered,
immutable record batch, and the log's version numbers are exactly
stream offsets. This is how Delta/Iceberg tables serve as streaming
sources, re-expressed through Spark 4's Python DataSource API:

- **Offsets** are ``{"version": N}`` — the committed log head.
- **A micro-batch** is the half-open version range (start, end]; its
  input partitions are ``TxTable.added_files(start, end)`` — the data
  files those commits logically added, so compaction commits are
  invisible to the stream (#183's guarantee, now streaming). The log's
  record layout stays private to ``txlog``.
- **Replay** is exact: the same version range always resolves the
  same immutable files (vacuum permitting), so checkpoint recovery
  re-reads identical bytes.

Scale: partition discovery is O(commits in range) JSON reads on the
driver (metadata only); the DATA moves executor-side — one input
partition per committed file, read via pyarrow. At real scale you'd
split large files by row-group ranges; one-file-one-partition is the
honest version of that at fixture sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from zmaxion_spark.session import tune


class _FilePartition(InputPartition):
    def __init__(self, abs_path: str):
        self.abs_path = abs_path


class _TxLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.root = options["path"]

    def _table(self):
        from zmaxion_spark.txlog import TxTable

        return TxTable(self.root)

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        return {"version": self._table().latest_version()}

    def partitions(self, start: dict, end: dict):
        paths = self._table().added_files(start["version"], end["version"])
        # An empty range still needs one no-op partition (API contract).
        return [_FilePartition(p) for p in paths] or [_FilePartition("")]

    def read(self, part: _FilePartition):
        if not part.abs_path:
            return iter(())
        import pyarrow.parquet as pq

        table = pq.read_table(part.abs_path)
        cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
        return iter(zip(*cols)) if cols else iter(())

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the stream checkpoint


class TxLogStreamDataSource(DataSource):
    """``spark.readStream.format("zmx_txlog").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return "zmx_txlog"

    def schema(self):
        # The table's current schema, from one live file's footer
        # (metadata-only driver read — same cost class as the log).
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        from zmaxion_spark.txlog import TxTable

        import os

        t = TxTable(self.options["path"])
        live = t.live_files()
        if not live:
            raise ValueError(f"cannot infer schema: empty table {t.path}")
        arrow = pq.ParquetFile(os.path.join(t.path, live[0].path)).schema_arrow
        return from_arrow_schema(arrow)

    def streamReader(self, schema):
        return _TxLogStreamReader(self.options)


def stream_txlog(spark: SparkSession, root: str) -> DataFrame:
    """Unbounded view of a TxTable's append history."""
    tune(spark)
    spark.dataSource.register(TxLogStreamDataSource)
    return spark.readStream.format("zmx_txlog").option("path", root).load()
