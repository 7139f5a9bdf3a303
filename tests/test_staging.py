"""Crash-safety of the staging-dir swap (staging.py).

Simulates every crash point of commit_swap by reconstructing the
on-disk state it leaves behind, then asserts recover() restores a
complete table with either the old or the new contents — never a
missing or half-written one — and with the batch ledger that belongs
to those contents: the old ledger, or the old ledger plus the new id.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from metadata_ingestion_poc_spark.staging import (
    COMMIT_MARKER,
    batch_ids,
    commit_record,
    commit_swap,
    recover,
    staging_dir,
)

LEDGER = "_folded"


def _mk_table(path: Path, tag: str, ledger: tuple[str, ...] = ()) -> None:
    path.mkdir(parents=True)
    (path / "part-0.parquet").write_text(tag)
    for bid in ledger:
        (path / LEDGER).mkdir(exist_ok=True)
        (path / LEDGER / bid).touch()


def _read_tag(path: Path) -> str:
    return (path / "part-0.parquet").read_text()


# live table: batch 0 folded; staging: the rewrite that folds batch 1
_LEDGER_AFTER = {"old": {"0"}, "new": {"0", "1"}}


def test_commit_swap_happy_path(tmp_path):
    live = tmp_path / "t"
    _mk_table(live, "old")
    stg = staging_dir(live)
    _mk_table(stg, "new")
    commit_swap(live, stg)
    assert _read_tag(live) == "new"
    assert not stg.exists()
    assert not (tmp_path / "t__old").exists()


def test_commit_swap_carries_ledgers(tmp_path):
    # every _-prefixed subdir of the live table is merged into the new
    # one (with what the writer put in staging), except Spark's own
    live = tmp_path / "t"
    _mk_table(live, "old", ledger=("0", "1"))
    (live / "_admitted").mkdir()
    (live / "_admitted" / "7").touch()
    (live / "_temporary" / "0").mkdir(parents=True)
    (live / "_spark_metadata").mkdir()
    (live / "_spark_metadata" / "0").write_text("part-0.parquet")
    stg = staging_dir(live)
    _mk_table(stg, "new", ledger=("2",))
    commit_swap(live, stg)
    assert _read_tag(live) == "new"
    assert batch_ids(str(live), LEDGER) == {"0", "1", "2"}
    assert batch_ids(str(live), "_admitted") == {"7"}
    assert not (live / "_temporary").exists()
    assert not (live / "_spark_metadata").exists()
    assert batch_ids(str(live), "_none") == set()


def test_commit_swap_initial_write(tmp_path):
    live = tmp_path / "t"
    stg = staging_dir(live)
    _mk_table(stg, "v1")
    commit_swap(live, stg)
    assert _read_tag(live) == "v1"


def test_recover_crash_before_commit_marker(tmp_path):
    # crash during the staging write: staging exists, no marker.
    live = tmp_path / "t"
    _mk_table(live, "old")
    stg = staging_dir(live)
    _mk_table(stg, "half-written")
    recover(live)
    assert _read_tag(live) == "old"
    assert not stg.exists()


def test_recover_crash_after_rename_aside(tmp_path):
    # crash between move(live, old) and move(staging, live):
    # live missing, staging committed, old holds the previous copy.
    live = tmp_path / "t"
    stg = staging_dir(live)
    old = tmp_path / "t__old"
    _mk_table(old, "old")
    _mk_table(stg, "new")
    (stg / COMMIT_MARKER).touch()
    recover(live)
    assert _read_tag(live) == "new"
    assert not stg.exists() and not old.exists()


def test_recover_crash_after_move_in(tmp_path):
    # crash before the final rmtree(old): live is new, old leftover.
    live = tmp_path / "t"
    _mk_table(live, "new")
    old = tmp_path / "t__old"
    _mk_table(old, "old")
    recover(live)
    assert _read_tag(live) == "new"
    assert not old.exists()


def test_recover_rename_aside_with_uncommitted_staging(tmp_path):
    # pathological: live renamed aside, then staging write was found
    # incomplete (no marker) — must restore the old copy.
    live = tmp_path / "t"
    old = tmp_path / "t__old"
    stg = staging_dir(live)
    _mk_table(old, "old")
    _mk_table(stg, "half")
    recover(live)
    assert _read_tag(live) == "old"
    assert not stg.exists()


def test_recover_initial_write_crash(tmp_path):
    # initial load died mid-write: only an uncommitted staging exists.
    live = tmp_path / "t"
    stg = staging_dir(live)
    _mk_table(stg, "half")
    recover(live)
    assert not live.exists() and not stg.exists()


def test_recover_is_idempotent(tmp_path):
    live = tmp_path / "t"
    stg = staging_dir(live)
    _mk_table(stg, "new")
    (stg / COMMIT_MARKER).touch()
    recover(live)
    recover(live)
    assert _read_tag(live) == "new"


# real-process crash: the child runs commit_swap and SIGKILLs ITSELF
# (no cleanup handlers, no atexit — the same torn state a machine
# loss leaves) at a chosen point in the move sequence; the parent
# then runs recover() and must find a complete table.
_CRASH_CHILD = """
import os, shutil, sys
sys.path.insert(0, {repo!r})
from pathlib import Path
from metadata_ingestion_poc_spark import staging as st

target = Path(sys.argv[1])
crash = sys.argv[2]
orig_move = shutil.move
orig_copytree = shutil.copytree

def copytree(src, dst, **kw):
    orig_copytree(src, dst, **kw)
    if crash == "after_ledger":
        os.kill(os.getpid(), 9)

def move(src, dst):
    if crash == "before_aside":
        os.kill(os.getpid(), 9)
    orig_move(src, dst)
    if crash == "after_aside" and str(dst).endswith("__old"):
        os.kill(os.getpid(), 9)
    if crash == "after_movein" and str(dst) == str(target):
        os.kill(os.getpid(), 9)

orig_write_text = Path.write_text

def write_text(self, data, *a, **kw):
    if crash == "torn_record":
        with open(self, "w") as f:
            f.write(data[: len(data) // 2])
        os.kill(os.getpid(), 9)
    return orig_write_text(self, data, *a, **kw)

Path.write_text = write_text
shutil.move = move
shutil.copytree = copytree
record = {{"schema": "s"}} if len(sys.argv) > 3 else None
st.commit_swap(target, st.staging_dir(target), record)
"""


@pytest.mark.parametrize(
    "crash,expect",
    [
        # killed after the ledger copy, before the marker: staging is
        # uncommitted, so the old copy (and its ledger) survives
        ("after_ledger", "old"),
        # killed after the marker but before any move: old copy survives
        ("before_aside", "old"),
        # killed between rename-aside and move-in — the window where no
        # live dir exists; committed staging must complete the swap
        ("after_aside", "new"),
        # killed between move-in and old-copy cleanup
        ("after_movein", "new"),
    ],
)
def test_sigkill_mid_swap_recovers(tmp_path, crash, expect):
    repo = str(Path(__file__).resolve().parents[1])
    live = tmp_path / "t"
    _mk_table(live, "old", ledger=("0",))
    stg = staging_dir(live)
    _mk_table(stg, "new", ledger=("1",))

    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD.format(repo=repo),
         str(live), crash],
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == -9, (
        f"child should die by SIGKILL, got {proc.returncode}: "
        f"{proc.stderr.decode()}"
    )
    if crash == "after_aside":
        assert not live.exists(), "precondition: crash left no live dir"

    recover(live)
    assert live.exists()
    assert _read_tag(live) == expect
    assert batch_ids(str(live), LEDGER) == _LEDGER_AFTER[expect]
    assert not staging_dir(live).exists()
    assert not (tmp_path / "t__old").exists()
    # a second writer arriving later must see a normal table
    recover(live)
    assert _read_tag(live) == expect


@pytest.mark.parametrize(
    "crash,expect",
    [
        # killed half-way through writing the record: the marker exists
        # but is torn, and the live table is intact, so it survives
        ("torn_record", "old"),
        ("before_aside", "old"),
        ("after_aside", "new"),
        ("after_movein", "new"),
    ],
)
def test_sigkill_mid_swap_with_record_recovers(tmp_path, crash, expect):
    # the same kills with a record in the marker: the record changes
    # nothing about which copy survives, and survives with the new one
    repo = str(Path(__file__).resolve().parents[1])
    live = tmp_path / "t"
    _mk_table(live, "old", ledger=("0",))
    stg = staging_dir(live)
    _mk_table(stg, "new", ledger=("1",))

    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD.format(repo=repo),
         str(live), crash, "record"],
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == -9, (
        f"child should die by SIGKILL, got {proc.returncode}: "
        f"{proc.stderr.decode()}"
    )
    recover(live)
    assert _read_tag(live) == expect
    assert batch_ids(str(live), LEDGER) == _LEDGER_AFTER[expect]
    assert not staging_dir(live).exists()
    assert not (tmp_path / "t__old").exists()
    want = {"schema": "s", "files": ["part-0.parquet"]} if expect == "new" else None
    assert commit_record(live) == want


def test_torn_record_still_commits(tmp_path):
    # the marker's existence is the commit: a rewrite whose record is
    # torn (the rename reached the disk, the marker's bytes did not)
    # completes the swap, and the record is then ignored
    live, old = tmp_path / "t", tmp_path / "t__old"
    _mk_table(old, "old", ledger=("0",))
    stg = staging_dir(live)
    _mk_table(stg, "new", ledger=("0", "1"))
    (stg / COMMIT_MARKER).write_text('{"schema": {"fields": [')
    recover(live)
    assert _read_tag(live) == "new"
    assert batch_ids(str(live), LEDGER) == _LEDGER_AFTER["new"]
    assert not old.exists()
    assert commit_record(live) is None


def test_commit_record_tracks_the_data_files(tmp_path):
    # a record holds only while the table has exactly the data files it
    # lists; hidden names (Spark's _SUCCESS, .crc files, ledgers) and
    # a marker without a record do not count
    live = tmp_path / "t"
    _mk_table(live, "old")
    stg = staging_dir(live)
    _mk_table(stg, "new", ledger=("1",))
    (stg / ".part-0.parquet.crc").touch()
    (stg / "_SUCCESS").touch()
    commit_swap(live, stg, {"schema": "s"})
    assert commit_record(live) == {"schema": "s", "files": ["part-0.parquet"]}
    (live / "part-1.parquet").write_text("foreign")
    assert commit_record(live) is None
    (live / "part-1.parquet").unlink()
    (live / "part-0.parquet").unlink()
    assert commit_record(live) is None

    _mk_table(stg, "newer")
    commit_swap(live, stg)
    assert (live / COMMIT_MARKER).exists()
    assert commit_record(live) is None


def test_every_crash_point_leaves_a_recoverable_table(tmp_path):
    # exhaustive: replay commit_swap's step sequence, crash after each
    # step, recover, and assert a complete table with old or new data.
    steps = ["ledger", "marker", "rename_aside", "move_in", "cleanup"]
    for crash_after in range(len(steps) + 1):
        root = tmp_path / f"case{crash_after}"
        root.mkdir()
        live, old = root / "t", root / "t__old"
        _mk_table(live, "old", ledger=("0",))
        stg = staging_dir(live)
        _mk_table(stg, "new", ledger=("1",))
        for step in steps[:crash_after]:
            if step == "ledger":
                shutil.copytree(live / LEDGER, stg / LEDGER,
                                dirs_exist_ok=True)
            elif step == "marker":
                (stg / COMMIT_MARKER).touch()
            elif step == "rename_aside":
                shutil.move(str(live), str(old))
            elif step == "move_in":
                shutil.move(str(stg), str(live))
            elif step == "cleanup":
                shutil.rmtree(str(old))
        recover(live)
        assert live.exists(), f"table lost at crash point {crash_after}"
        tag = _read_tag(live)
        expect = "old" if crash_after < 3 else "new"
        assert tag == expect, f"crash point {crash_after}: got {tag}"
        assert batch_ids(str(live), LEDGER) == _LEDGER_AFTER[expect], (
            f"crash point {crash_after}: ledger does not match {tag} data"
        )
