"""Pins for the entry file's scratch-space lifecycle: one flock-held
``fbs_*`` root per process, removed at exit; the first allocation
removes the roots of dead owners and nothing else.

Ownership is per process, so most pins run real subprocesses, each
with its own private TMPDIR as the sweep domain."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

import pytest

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parents[1]

OWNER = """
import os, time
import __spark_entry__ as e
d = e._scratch_dir("owner", "sf")
os.makedirs(d)
with open(os.path.join(d, "part"), "w") as fh:
    fh.write("x")
print(e._SCRATCH_ROOT, flush=True)
time.sleep(300)
"""

ALLOC = """
import json, os
import __spark_entry__ as e
a = e._scratch_dir("x", "/data/sf1/")
b = e._scratch_dir("x", "/data/sf1/")
print(json.dumps({"a": a, "b": b, "root": e._SCRATCH_ROOT,
                  "exist": [os.path.exists(a), os.path.exists(b)]}))
"""

# a sweeper removes the new root after its .lock is opened but before
# the owner's flock lands; the owner must notice and make another root
RACE = """
import fcntl, json, os, shutil
import __spark_entry__ as e
real_flock = fcntl.flock
swept = []
def flock(fd, op):
    if not swept:
        swept.append(os.path.dirname(os.readlink(f"/proc/self/fd/{fd}")))
        shutil.rmtree(swept[0])
    return real_flock(fd, op)
fcntl.flock = flock
d = e._scratch_dir("race", "sf")
fcntl.flock = real_flock
root = e._SCRATCH_ROOT
fd = os.open(os.path.join(root, ".lock"), os.O_RDWR)
try:
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    locked = False
except BlockingIOError:
    locked = True
print(json.dumps({"swept": swept[0], "root": root, "dir": d,
                  "root_exists": os.path.isdir(root), "locked": locked}))
"""


ONCE = """
import json, os, sys
import __spark_entry__ as e
tmp = sys.argv[1]
os.makedirs(os.path.join(tmp, "fbs_dead_a"))
e._SCRATCH_TABLES.append("placeholder_table")  # registered before any root
e._scratch_dir("x", "sf")
first = os.path.exists(os.path.join(tmp, "fbs_dead_a"))
os.makedirs(os.path.join(tmp, "fbs_dead_b"))
e._scratch_dir("x", "sf")
second = os.path.exists(os.path.join(tmp, "fbs_dead_b"))
e._SCRATCH_TABLES.clear()
print(json.dumps({"a_kept": first, "b_kept": second}))
"""


def _env(tmp: Path) -> dict:
    return {**os.environ, "TMPDIR": str(tmp), "PYTHONPATH": str(REPO)}


def _run(code: str, tmp: Path, *args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", code, *args], env=_env(tmp), check=True,
        capture_output=True, text=True, timeout=120,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _age(paths, hours: float = 25) -> None:
    old = time.time() - hours * 3600
    for p in paths:
        os.utime(p, (old, old))


def _tree(root: str) -> list:
    out = []
    for dirpath, _, files in os.walk(root):
        out += [dirpath, *(os.path.join(dirpath, f) for f in files)]
    return out


@pytest.fixture
def owners(tmp_path):
    """Starts live processes that each hold a non-empty root; calling
    the fixture returns (proc, root). All are killed at teardown."""
    procs = []

    def start():
        proc = subprocess.Popen(
            [sys.executable, "-c", OWNER], env=_env(tmp_path),
            stdout=subprocess.PIPE, text=True,
        )
        procs.append(proc)
        root = proc.stdout.readline().strip()
        assert root and os.listdir(root), "owner made no root"
        return proc, root

    try:
        yield start
    finally:
        for proc in procs:
            proc.kill()
            proc.wait()
            proc.stdout.close()


def _kill(proc) -> None:
    proc.send_signal(signal.SIGKILL)
    proc.wait()


def test_sweep_removes_stale_keeps_fresh(owners, tmp_path):
    """Of two roots, the one whose owner was killed goes and the one
    whose owner is alive stays."""
    dead, dead_root = owners()
    _, live_root = owners()
    _kill(dead)
    _run(ALLOC, tmp_path)
    assert not os.path.exists(dead_root), "killed owner's root not swept"
    assert os.path.isdir(live_root), (
        "live owner's root swept: a concurrent run's scratch destroyed"
    )
    assert os.listdir(tmp_path) == [os.path.basename(live_root)]


def test_sweep_keeps_stale_dir_with_fresh_heartbeat(owners, tmp_path):
    """Nested writes never refresh the root's own mtime, so its age
    says nothing about liveness. A live owner's root with an old mtime
    and fresh contents survives: the held flock is the heartbeat."""
    _, root = owners()
    _age([root])
    before = sorted(os.listdir(root))
    _run(ALLOC, tmp_path)
    assert os.path.isdir(root), "live owner's old root swept"
    assert sorted(os.listdir(root)) == before


def test_sweep_removes_stale_heartbeat_dead_owner(owners, tmp_path):
    """A SIGKILLed owner runs no cleanup; its root, .lock included, is
    removed by the next process that allocates."""
    proc, root = owners()
    _kill(proc)
    _age(_tree(root))
    assert len(os.listdir(root)) == 2, "root should hold .lock + a dir"
    _run(ALLOC, tmp_path)
    assert not os.path.exists(root), "killed owner's root not swept"
    assert os.listdir(tmp_path) == [], "allocating process left its root"


def test_sweep_keeps_stale_heartbeat_live_owner(owners, tmp_path):
    """Even when everything in it, .lock included, is 25 h old, a root
    is kept while its owner lives (a long session that stopped
    allocating hours ago)."""
    _, root = owners()
    before = sorted(os.listdir(root))
    _age(_tree(root))
    _run(ALLOC, tmp_path)
    assert os.path.isdir(root), "live owner's root swept"
    assert sorted(os.listdir(root)) == before


def test_sweep_once_flag_is_independent_of_registration_order(tmp_path):
    """A table registered before the first allocation does not skip the
    sweep; the sweep runs once, when the root is made, not on every
    allocation."""
    got = _run(ONCE, tmp_path, str(tmp_path))
    assert got["a_kept"] is False, "first allocation skipped the sweep"
    assert got["b_kept"] is True, "sweep ran again on a later allocation"


def test_sweep_ignores_foreign_tempdir_entries(tmp_path):
    foreign = tmp_path / "other_dir"
    foreign.mkdir()
    (foreign / ".lock").write_text("")  # an unlocked lock file
    (tmp_path / "other.txt").write_text("x")
    (tmp_path / "fbs_note.txt").write_text("x")  # fbs_ but not a dir
    _run(ALLOC, tmp_path)
    assert sorted(os.listdir(tmp_path)) == [
        "fbs_note.txt", "other.txt", "other_dir",
    ]
    assert os.listdir(foreign) == [".lock"]


def test_allocations_share_one_root_with_fresh_paths(tmp_path):
    got = _run(ALLOC, tmp_path)
    assert got["a"] != got["b"]
    assert os.path.dirname(got["a"]) == os.path.dirname(got["b"]) == got["root"]
    assert os.path.dirname(got["root"]) == str(tmp_path)
    assert os.path.basename(got["root"]).startswith("fbs_")
    assert os.path.basename(got["a"]).startswith("x_sf1_")
    assert got["exist"] == [False, False], "allocated paths must not exist"


def test_root_swept_before_lock_is_replaced(tmp_path):
    got = _run(RACE, tmp_path)
    assert got["root"] != got["swept"]
    assert not os.path.exists(got["swept"])
    assert got["root_exists"] and got["locked"], "replacement root not held"
    assert os.path.dirname(got["dir"]) == got["root"]


def test_cleanup_drops_registered_tables(spark, tmp_path, monkeypatch):
    """_cleanup_scratch DROPs the registered tables (a location-only
    rmtree leaves dangling catalog entries), removes the root, and
    the next allocation makes a new root."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(entry, "_SCRATCH_ROOT", None)
    monkeypatch.setattr(entry, "_SCRATCH_LOCK", None)
    monkeypatch.setattr(entry, "_SCRATCH_TABLES", [])
    name = f"scratch_pin_{uuid.uuid4().hex[:10]}"
    try:
        path = entry._scratch_dir("cleanup", "sf")
        root = entry._SCRATCH_ROOT
        spark.range(3).write.option("path", path).saveAsTable(name)
        entry._SCRATCH_TABLES.append(name)
        entry._cleanup_scratch()
        assert not spark.catalog.tableExists(name)
        assert not os.path.exists(root)
        assert entry._SCRATCH_TABLES == []
        again = entry._scratch_dir("cleanup", "sf")
        assert entry._SCRATCH_ROOT not in (None, root)
        assert os.path.dirname(again) == entry._SCRATCH_ROOT
        assert os.path.isdir(entry._SCRATCH_ROOT)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        entry._cleanup_scratch()
