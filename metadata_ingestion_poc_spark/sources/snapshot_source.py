"""Spark 4 Python Data Source for the snapshot table format: batch
reads with time travel, and a streaming source whose offsets ARE
snapshot versions.

``spark.read.format("snapshot")`` / ``spark.readStream.format(
"snapshot")`` make snapshots.py tables first-class on the read side
(the write side is snapshots.snapshot_write / streaming.snapshot_sink):

- batch: `.option("version", n)` time-travels; default latest. One
  input partition per manifest data file, read executor-side as
  arrow record batches straight out of the parquet footer-defined
  file list — no directory listing, so concurrent commits can never
  tear a read.
- streaming: offsets are `{"version": N}`. Each micro-batch reads
  exactly the files ADDED in (start, end] (snapshot_added_files),
  so a restart from the checkpoint resumes at a version boundary and
  immutable data files make replays byte-identical: source-side
  exactly-once to match snapshot_sink's sink-side. A rewrite commit
  or a vacuumed manifest inside an unread range fails the stream
  rather than double-counting rows (same caveat as Delta's streaming
  source without ignoreChanges; stream append-only tables).

Scale notes: all planning work is O(#files) JSON reads on the
driver; data moves only on executors (pyarrow batch iteration, which
the Python Data Source API transfers as arrow — no row pickling).
On a cluster the package must be importable on workers (ship via
--py-files / pip install), the standard Python-data-source contract.
Column pruning/filter pushdown is not part of the Python DS API in
this Spark version — project early after load if the table is wide.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..snapshots import (
    snapshot_added_files,
    snapshot_manifest,
    snapshot_versions,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _read_file(partition: _FilePartition):
    import pyarrow.parquet as pq

    yield from pq.ParquetFile(partition.path).iter_batches()


def _reject_partitioned(m: dict, table_path: str) -> None:
    """Hive-partitioned snapshots carry column values in dir names,
    which a footer-driven Python DS reader cannot reconstruct — read
    those through snapshots.snapshot_read (basePath handling)."""
    if m.get("partition_by"):
        raise ValueError(
            f"{table_path} is partitioned by {m['partition_by']}; "
            "format('snapshot') reads unpartitioned tables — use "
            "snapshots.snapshot_read for partitioned ones"
        )


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, options):
        self.table_path = options["path"]
        v = options.get("version")
        self.version = int(v) if v is not None else None

    def partitions(self):
        m = snapshot_manifest(self.table_path, self.version)
        _reject_partitioned(m, self.table_path)
        table = Path(self.table_path)
        return [_FilePartition(str(table / f["path"])) for f in m["files"]]

    def read(self, partition):
        return _read_file(partition)


class _SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.table_path = options["path"]
        self.start_version = int(options.get("startingVersion", 0))

    def initialOffset(self):
        return {"version": self.start_version}

    def latestOffset(self):
        versions = snapshot_versions(self.table_path)
        return {"version": versions[-1] if versions else 0}

    def partitions(self, start, end):
        paths = snapshot_added_files(
            self.table_path, start["version"], end["version"]
        )
        if paths:
            # an append-only range shares its end version's layout
            m = snapshot_manifest(self.table_path, end["version"])
            _reject_partitioned(m, self.table_path)
        return [_FilePartition(p) for p in paths]

    def read(self, partition):
        return _read_file(partition)

    def commit(self, end):
        # offsets live in the stream checkpoint; nothing to clean up —
        # retention is vacuum's job, on the table's own schedule
        pass


class SnapshotDataSource(DataSource):
    """format("snapshot") — register with register_snapshot_source."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        v = self.options.get("version")
        m = snapshot_manifest(
            self.options["path"], int(v) if v is not None else None
        )
        if not m["files"]:
            raise ValueError(
                f"version {m['version']} of {self.options['path']} lists "
                "no files — cannot infer a schema"
            )
        first = Path(self.options["path"]) / m["files"][0]["path"]
        return from_arrow_schema(pq.ParquetFile(str(first)).schema_arrow)

    def reader(self, schema):
        return _SnapshotBatchReader(self.options)

    def streamReader(self, schema):
        return _SnapshotStreamReader(self.options)


def register_snapshot_source(spark) -> None:
    """Make format("snapshot") available on this session."""
    spark.dataSource.register(SnapshotDataSource)
