"""Crash-safe staging-directory swap for single-writer table rewrite.

The naive rewrite (`rmtree(live); move(staging, live)`) has a crash
window where NO complete copy of the table exists on disk. This module
closes it:

- the staging dir is only trusted once it carries a ``_COMMITTED``
  marker (written after the full Spark write succeeds);
- the live dir is renamed ASIDE (``__old``) before staging moves in,
  so at every instant at least one complete copy exists;
- :func:`recover` repairs any interrupted state (finish the swap if
  staging was committed, restore the old dir otherwise) and is called
  by writers before they touch the table and by readers before load.

Marker files/dirs all start with ``_`` so Spark's file-listing treats
them as hidden and never reads them as data.

The ``_COMMITTED`` marker may carry a record of the table plus the
data files the commit wrote. Every staged table (the HUB, the rollup,
the admitted corpus, a compacted table) is rewritten by
``writer.rewrite_table``, which stores the table's schema there, so
``writer.read_table`` needs no schema-inference job. The record is
trusted only while the table still holds exactly those files.

Batch ledgers (``_folded/``, ``_admitted/``: one empty file per
batch id) are such subdirectories and belong to the table, so
:func:`commit_swap` carries them into every rewrite; a writer adds
only its new id to staging.

Single-writer contract (same as the reference's POC writer): two
concurrent writers to the same path can still race. Within one
``framework.run`` the lanes guarantee one writer per target: sources
that share a RAW, HUB or quarantine path run in one lane, one after
another. Across processes nothing guards the path; at cluster scale
this pattern is replaced by a transactional table format (Delta —
see writer.py), which provides the same swap via its commit log.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

COMMIT_MARKER = "_COMMITTED"
# Spark's own bookkeeping: a write's scratch and a file sink's log,
# which names data files a rewrite replaces — never carried over
_SPARK_DIRS = ("_temporary", "_spark_metadata")


def staging_dir(target: Path) -> Path:
    return target.with_name(target.name + "__staging")


def _old_dir(target: Path) -> Path:
    return target.with_name(target.name + "__old")


def _is_committed(staging: Path) -> bool:
    return (staging / COMMIT_MARKER).exists()


def recover(target: Path) -> None:
    """Repair an interrupted swap so `target` is a complete table.

    Idempotent; call before any read of or write to `target`.
    """
    staging, old = staging_dir(target), _old_dir(target)
    if target.exists():
        # live table intact — staging/old are leftovers of a swap that
        # either finished (old) or never started committing (staging).
        if staging.exists():
            shutil.rmtree(staging)
        if old.exists():
            shutil.rmtree(old)
        return
    if staging.exists() and _is_committed(staging):
        # crash between rename-aside and move-in: finish the swap.
        shutil.move(str(staging), str(target))
        if old.exists():
            shutil.rmtree(old)
        return
    if old.exists():
        # crash with an uncommitted/absent staging: restore the old copy.
        shutil.move(str(old), str(target))
        if staging.exists():
            shutil.rmtree(staging)
        return
    # no live, no committed staging, no old: table never existed (or an
    # initial write crashed mid-flight) — drop any partial staging.
    if staging.exists():
        shutil.rmtree(staging)


def batch_ids(path: str, ledger: str) -> set[str]:
    """Batch ids in the `ledger` subdirectory of the table at `path`."""
    marker_dir = Path(path) / ledger
    if not marker_dir.exists():
        return set()
    return {p.name for p in marker_dir.iterdir()}


def data_files(table: Path) -> list[str]:
    """Sorted names in `table` that Spark reads as data: every name
    not starting with ``_`` or ``.``."""
    return sorted(p.name for p in table.iterdir() if p.name[0] not in "_.")


def commit_record(table: Path) -> dict | None:
    """The record the last :func:`commit_swap` wrote into `table`'s
    marker, while `table` still holds exactly the data files it lists.
    None when the marker is absent, empty or torn, or when a file was
    added or removed since."""
    try:
        record = json.loads((table / COMMIT_MARKER).read_text())
        current = data_files(table)
    except (OSError, ValueError):
        return None
    if isinstance(record, dict) and record.get("files") == current:
        return record
    return None


def commit_swap(target: Path, staging: Path, record: dict | None = None) -> None:
    """Replace `target` with a fully-written `staging` dir.

    Merges the live dir's ``_`` subdirectories (not Spark's own) into
    staging, marks staging committed, renames the live dir aside,
    moves staging in, then drops the old copy — every crash point
    leaves a state :func:`recover` completes.

    A `record` (a JSON-able dict) is written into the marker with
    ``files``, the :func:`data_files` of staging, added. The marker's
    existence alone is the commit: a torn record still recovers, and
    :func:`commit_record` then returns None.
    """
    for d in target.glob("_*"):
        if d.is_dir() and d.name not in _SPARK_DIRS:
            shutil.copytree(d, staging / d.name, dirs_exist_ok=True)
    marker = staging / COMMIT_MARKER
    if record is None:
        marker.touch()
    else:
        marker.write_text(json.dumps({**record, "files": data_files(staging)}))
    old = _old_dir(target)
    if old.exists():
        shutil.rmtree(old)
    if target.exists():
        shutil.move(str(target), str(old))
    shutil.move(str(staging), str(target))
    if old.exists():
        shutil.rmtree(old)
