"""Manifest-based snapshot table format: versioned parquet with
atomic commits, time travel, rollback, and vacuum.

The staging.py swap gives crash safety for a single live copy; a
transactional table format (Delta/Iceberg — which this sandbox cannot
run, see README) additionally gives *versions*: readers pin a
snapshot, writers publish a new one atomically, and old snapshots stay
readable until vacuumed. This module provides that contract on plain
parquet + JSON manifests, the Iceberg v1 idea reduced to its core:

- layout::

      table/
        data/v00003-000.parquet     # immutable once written
        _manifests/v00001.json      # full file listing per version
        _manifests/v00002.json
        _manifests/v00003.json

- a commit writes its data files FIRST (under names no manifest
  references yet), then publishes the manifest via write-temp +
  atomic ``os.replace``. A crash at any point leaves every prior
  version intact; the worst case is orphan data files, which vacuum
  removes. The current version is simply the highest manifest — no
  mutable pointer file, so there is no pointer to corrupt.
- data files are IMMUTABLE: an append commit's manifest lists the
  parent's files plus the new ones; readers of version N hold a fixed
  file list and are unaffected by later commits (no directory-listing
  races — the manifest, not the filesystem, defines the table).
- single-writer contract, same as staging.py: two concurrent
  committers can race on the next version number. At cluster scale
  the publish step becomes a conditional put / rename-if-absent on
  the object store, which is exactly where Delta/Iceberg hook in.

Manifests are tiny (one JSON entry per file), so every metadata
operation here is O(#files) driver work with no Spark job; only
read/write move data, and reads hand Spark an explicit file list so
partition pruning and row-group skipping work as on any parquet scan.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _manifest_dir(table: Path) -> Path:
    return table / _MANIFEST_DIR


def _data_dir(table: Path) -> Path:
    return table / _DATA_DIR


def _manifest_path(table: Path, version: int) -> Path:
    return _manifest_dir(table) / f"v{version:05d}.json"


def _batch_marker_path(table: Path) -> Path:
    # Retained batch_id ledger (batch_id → version). Manifests are the
    # primary idempotency record, but vacuum deletes expired manifests
    # — without this file a foreachBatch replay of a batch OLDER than
    # the retention window would re-commit and silently duplicate
    # table contents. Vacuum folds expired manifests' batch_ids in
    # here BEFORE deleting them and never drops the file.
    return _manifest_dir(table) / "_batch_ids.json"


def _read_batch_markers(table: Path) -> dict:
    p = _batch_marker_path(table)
    if p.exists():
        with open(p) as f:
            return json.load(f)
    return {}


def snapshot_versions(table_path: str) -> list[int]:
    """All committed versions, ascending. Empty for a fresh path."""
    mdir = _manifest_dir(Path(table_path))
    if not mdir.exists():
        return []
    out = []
    for p in mdir.glob("v*.json"):
        try:
            out.append(int(p.stem[1:]))
        except ValueError:
            continue
    return sorted(out)


def _read_manifest(table: Path, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _publish(path: Path, obj) -> None:
    """Write `obj` as JSON at `path` atomically (temp file, fsync,
    ``os.replace``): readers see the old file or the new one."""
    tmp = path.with_name(f"_tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _next_version(table: Path) -> int:
    versions = snapshot_versions(str(table))
    return versions[-1] + 1 if versions else 1


def _commit(
    table: Path,
    parent: int | None,
    mode: str,
    files: list[dict],
    partition_by: list[str],
    batch_id: int | str | None = None,
) -> int:
    """Publish version latest + 1 listing `files` and return it; every
    commit records every manifest field."""
    version = _next_version(table)
    _publish(
        _manifest_path(table, version),
        {
            "version": version,
            "parent": parent,
            "mode": mode,
            "files": files,
            "total_rows": sum(f["rows"] for f in files),
            "partition_by": partition_by,
            "batch_id": None if batch_id is None else str(batch_id),
        },
    )
    return version


def snapshot_manifest(table_path: str, version: int | None = None) -> dict:
    """The manifest dict of `version` (default: latest). Keys:
    version, parent, mode, files [{path, rows}], total_rows,
    partition_by, batch_id (older manifests may lack the last two)."""
    table = Path(table_path)
    versions = snapshot_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"version {v} not in {versions} at {table_path}"
        )
    return _read_manifest(table, v)


def snapshot_write(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    batch_id: int | str | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Commit `df` as a new snapshot; returns the new version.

    mode="append" keeps the parent version's files; "overwrite"
    starts the file list fresh (parent files stay on disk, readable
    via time travel, until vacuum). The commit is atomic at the
    manifest-publish step.

    `batch_id` makes the commit idempotent for at-least-once
    replayers (foreachBatch): if any manifest already records this
    batch_id, the write is a no-op returning that version. Combined
    with the atomic publish this gives exactly-once table contents —
    a replay after a crash BEFORE publish rewrites the same data
    files and publishes once; a replay after publish is skipped. The
    id is only meaningful within one checkpoint lineage (same
    contract as streaming/admission.py's markers).

    `partition_by` hive-partitions the data files (data/col=val/...);
    snapshot_read reconstructs the partition columns via basePath and
    filters on them prune at file-listing time — the 100 TB layout
    lever. Append commits must keep the parent's partitioning
    (changing it silently would poison pruning); overwrite may change
    it.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode}")
    partition_by = list(partition_by) if partition_by else []
    table = Path(table_path)
    _manifest_dir(table).mkdir(parents=True, exist_ok=True)
    _data_dir(table).mkdir(parents=True, exist_ok=True)

    versions = snapshot_versions(table_path)
    if batch_id is not None:
        for v in versions:
            m = _read_manifest(table, v)
            if m.get("batch_id") == str(batch_id):
                return v
        # batch committed in a version vacuum has since expired: the
        # retained ledger still remembers it — replay stays a no-op
        # even past the retention window (the returned version may no
        # longer be readable; only the idempotency contract matters).
        marker = _read_batch_markers(table).get(str(batch_id))
        if marker is not None:
            return marker
    parent = versions[-1] if versions else None
    new_version = _next_version(table)
    if mode == "append" and parent is not None:
        parent_parts = _read_manifest(table, parent).get("partition_by", [])
        if partition_by != parent_parts:
            raise ValueError(
                f"append with partition_by={partition_by} onto a table "
                f"partitioned by {parent_parts}; match the parent or "
                "overwrite"
            )

    # 1. write data files into a scratch dir (unique name: a crashed
    #    commit's scratch can never collide with a later retry)
    scratch = table / f"_scratch-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(scratch))
    produced = sorted(
        p for p in scratch.rglob("part-*.parquet") if p.is_file()
    )

    # 2. move them under the data dir with version-prefixed names,
    #    preserving partition subdirs — no manifest references these
    #    yet, so a crash here only strands orphans (vacuum's job).
    #    Row counts come from the parquet footers — no Spark job.
    import pyarrow.parquet as pq

    files = []
    for i, src in enumerate(produced):
        dst_dir = _data_dir(table) / src.parent.relative_to(scratch)
        dst_dir.mkdir(parents=True, exist_ok=True)
        dst = dst_dir / f"v{new_version:05d}-{i:03d}.parquet"
        shutil.move(str(src), str(dst))
        files.append(
            {
                "path": str(dst.relative_to(table)),
                "rows": pq.ParquetFile(dst).metadata.num_rows,
            }
        )
    shutil.rmtree(scratch)

    if mode == "append" and parent is not None:
        files = _read_manifest(table, parent)["files"] + files
    # 3. publish — the ONLY step that changes what readers see
    return _commit(table, parent, mode, files, partition_by, batch_id)


def snapshot_read(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """DataFrame over a pinned snapshot (default: latest).

    The file list is fixed at call time — later commits/compactions
    never change what this DataFrame reads (data files are immutable
    and vacuum refuses to break un-vacuumed versions).
    """
    m = snapshot_manifest(table_path, version)
    if not m["files"]:
        # a version listing no files has no footer to take a schema
        # from, so there is nothing typed to read
        raise ValueError(
            f"version {m['version']} of {table_path} lists no files"
        )
    paths = [str(Path(table_path) / f["path"]) for f in m["files"]]
    return _scan(spark, table_path, m, paths)


def _scan(
    spark: SparkSession, table_path: str, m: dict, paths: list[str]
) -> DataFrame:
    reader = spark.read
    if m.get("partition_by"):
        # basePath reconstructs the hive partition columns from the
        # dir names; filters on them prune at file-listing time
        reader = reader.option("basePath", str(Path(table_path) / _DATA_DIR))
    return reader.parquet(*paths)


def snapshot_added_files(
    table_path: str, from_version: int, to_version: int | None = None
) -> list[str]:
    """Paths of the data files ADDED after `from_version` (0: before
    the first commit) up to `to_version` (default latest).

    A rewrite commit (overwrite/rollback/compact) in the range raises
    ValueError: its added files are not added rows. A version in the
    range whose manifest vacuum expired raises FileNotFoundError: the
    range can no longer be checked for rewrites.
    """
    table = Path(table_path)
    versions = snapshot_versions(table_path)
    latest = versions[-1] if versions else 0
    to_v = latest if to_version is None else to_version
    if to_v < from_version:
        raise ValueError(f"to_version {to_v} < from_version {from_version}")
    span = range(max(from_version, 1), to_v + 1)
    known = set(versions)
    for v in span:
        if v not in known:
            raise FileNotFoundError(
                f"version {v} not in {versions} at {table_path}"
            )
    manifests = [_read_manifest(table, v) for v in span]
    base: set[str] = set()
    if from_version:
        base = {f["path"] for f in manifests.pop(0)["files"]}
    for m in manifests:
        # A parent-less commit (first version, even if written with
        # mode='overwrite') rewrote nothing — every file it lists is
        # added data, so it is append-equivalent here.
        if m["mode"] != "append" and m.get("parent") is not None:
            raise ValueError(
                f"version {m['version']} of {table_path} is "
                f"mode={m['mode']}; incremental reads cover append-only "
                "ranges (read the snapshots and diff by key, or restart "
                "a stream from a fresh checkpoint after the rewrite)"
            )
    return [
        str(table / f["path"])
        for f in (manifests[-1]["files"] if manifests else [])
        if f["path"] not in base
    ]


def snapshot_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows in files ADDED after `from_version` up to `to_version`
    (default latest) — incremental reads from file-level lineage.

    For append-only commits this is exactly the new data, so a
    downstream job processes only the delta instead of rescanning the
    table (the 100 TB incremental-ETL contract; same idea as Delta's
    CDF restricted to appends); ranges raise as snapshot_added_files.
    """
    added = snapshot_added_files(table_path, from_version, to_version)
    if not added:
        # empty-but-typed frame with the table's schema
        return snapshot_read(spark, table_path, to_version).limit(0)
    m = snapshot_manifest(table_path, to_version)
    return _scan(spark, table_path, m, added)


def snapshot_rollback(table_path: str, version: int) -> int:
    """Publish a NEW version with `version`'s exact file list and
    partitioning.

    Roll-forward-style rollback (as in Delta RESTORE): history is
    preserved, nothing is deleted, and the rollback itself is one
    atomic manifest publish.
    """
    m = snapshot_manifest(table_path, version)
    return _commit(
        Path(table_path), m["version"], "rollback", m["files"],
        m.get("partition_by", []),
    )


def snapshot_compact(
    spark: SparkSession, table_path: str, target_files: int = 1
) -> int:
    """Rewrite the latest snapshot into `target_files` files as a new
    version (mode=overwrite). Time travel to pre-compaction versions
    still works — their files are untouched until vacuum."""
    m = snapshot_manifest(table_path)
    df = snapshot_read(spark, table_path).coalesce(target_files)
    return snapshot_write(
        df,
        table_path,
        mode="overwrite",
        partition_by=m.get("partition_by"),
    )


def snapshot_vacuum(table_path: str, keep_last: int = 1) -> dict:
    """Drop all but the newest `keep_last` versions and delete data
    files no kept version references (plus orphans from crashed
    commits).

    Deletion order is crash-safe: expired manifests go first (so no
    readable version can ever reference a missing file), then
    unreferenced data files, then leftover scratch dirs. A crash
    mid-vacuum leaves only extra files, never a broken version.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    table = Path(table_path)
    versions = snapshot_versions(table_path)
    kept, expired = versions[-keep_last:], versions[:-keep_last]

    # Fold expiring batch_ids into the retained ledger FIRST, fsync,
    # then delete manifests — a crash in between leaves both records
    # (harmless); the reverse order could lose the idempotency marker.
    markers = _read_batch_markers(table)
    known = len(markers)
    for v in expired:
        bid = _read_manifest(table, v).get("batch_id")
        if bid is not None:
            markers.setdefault(bid, v)
    if len(markers) > known:
        _publish(_batch_marker_path(table), markers)

    for v in expired:
        os.remove(_manifest_path(table, v))

    referenced = set()
    for v in kept:
        referenced.update(f["path"] for f in _read_manifest(table, v)["files"])
    removed = []
    for p in sorted(_data_dir(table).rglob("*.parquet")):
        rel = str(p.relative_to(table))
        if rel not in referenced:
            os.remove(p)
            removed.append(rel)
    # empty partition dirs left behind by removals
    for d in sorted(
        (p for p in _data_dir(table).rglob("*") if p.is_dir()),
        key=lambda p: len(p.parts),
        reverse=True,
    ):
        if not any(d.iterdir()):
            d.rmdir()
    for scratch in table.glob("_scratch-*"):
        shutil.rmtree(scratch)
    return {
        "kept_versions": kept,
        "expired_versions": expired,
        "removed_files": removed,
    }
