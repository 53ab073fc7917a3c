"""One commit primitive: every metadata file the engine publishes goes
through `engine.io.atomic_write` (temp file in the same directory, fsync,
`os.replace`, directory fsync).

Pinned here:

1. the primitive itself: content, the temp-name shape, `read_pointer`;
2. a write killed inside its rename, with the temp file torn, leaves the
   manifest and the tombstone set readable with their earlier rows (the
   old `._tmp-*.parquet` temp names were listed as commits);
3. a `SnapStore.begin` killed while it hardlinks the tree leaves a
   snapshot with its meta, which the staging sweep removes, and a WAP
   run then succeeds (the meta used to be written after the links); one
   killed before it renames its hidden staging dir in leaves a dir the
   sweep removes too;
4. a source scan: no file under `engine/` calls `os.replace`,
   `os.rename` or `pq.write_table` outside `io.py`'s primitive, apart
   from the named directory publishes.
"""

from __future__ import annotations

import ast
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.checkpoint import Manifest  # noqa: E402
from engine.forget import TombstoneStore  # noqa: E402
from engine.io import atomic_write, read_pointer  # noqa: E402
from engine.snapstore import SnapStore  # noqa: E402

ENGINE = Path(__file__).resolve().parent.parent / "engine"


class _Crash(RuntimeError):
    pass


def _torn_rename(monkeypatch):
    """os.rename and os.replace truncate their source to half and raise,
    as a process killed mid-rename with its temp file half on disk."""

    def torn(src, dst, *a, **kw):
        os.truncate(src, os.path.getsize(src) // 2)
        raise _Crash(src)

    monkeypatch.setattr(os, "rename", torn)
    monkeypatch.setattr(os, "replace", torn)


def test_atomic_write_and_read_pointer(tmp_path):
    p = str(tmp_path / "_CURRENT")
    assert read_pointer(p) is None
    atomic_write(p, "snap-1\n")
    assert read_pointer(p) == "snap-1"
    atomic_write(p, b"snap-2")
    assert read_pointer(p) == "snap-2"
    assert os.listdir(tmp_path) == ["_CURRENT"]
    atomic_write(p, "")
    assert read_pointer(p) is None


def test_torn_temp_names_are_hidden_and_never_parquet(tmp_path, monkeypatch):
    _torn_rename(monkeypatch)
    with pytest.raises(_Crash):
        atomic_write(str(tmp_path / "commit-1.parquet"), b"x" * 64)
    monkeypatch.undo()
    (left,) = os.listdir(tmp_path)
    assert left.startswith(".commit-1.parquet.tmp-")
    assert not left.endswith(".parquet")


def test_torn_manifest_commit_keeps_earlier_rows(tmp_path, monkeypatch):
    # read_pandas is driver-side and never touches the session
    m = Manifest(None, str(tmp_path / "_manifest"))
    m.commit([{"run_id": "r1", "stage": "hourly", "partition_key": "day=a"}])
    before = Manifest(None, m.path).read_pandas()
    _torn_rename(monkeypatch)
    with pytest.raises(_Crash):
        m.commit([{"run_id": "r2", "stage": "hourly", "partition_key": "day=b"}])
    monkeypatch.undo()
    after = Manifest(None, m.path).read_pandas()
    assert after.to_dict("records") == before.to_dict("records")
    assert Manifest(None, m.path).compact()["rows_after"] == 1


def test_torn_tombstone_append_keeps_earlier_ids(tmp_path, monkeypatch):
    ts = TombstoneStore(str(tmp_path))
    assert not ts.has_any()
    _torn_rename(monkeypatch)
    with pytest.raises(_Crash):
        ts.append(["conv-b"])
    monkeypatch.undo()
    assert not ts.has_any()
    assert ts.ids() == []
    ts.append(["conv-a"])
    _torn_rename(monkeypatch)
    with pytest.raises(_Crash):
        ts.append(["conv-c"])
    monkeypatch.undo()
    assert ts.ids() == ["conv-a"]


def test_begin_killed_before_its_rename_is_swept(tmp_path, monkeypatch):
    store = SnapStore(str(tmp_path / "t"))
    store.publish(store.begin())
    before = store.snapshot_ids()

    def no_rename(src, dst):
        raise _Crash(src)

    monkeypatch.setattr(os, "rename", no_rename)
    with pytest.raises(_Crash):
        store.begin()
    monkeypatch.undo()
    assert store.clean_stale_staging() == []
    assert os.listdir(os.path.join(store.root, "_snaps")) == before


def test_begin_killed_while_linking_is_swept(spark, tmp_path, monkeypatch):
    from engine.pipeline import TierPipeline
    from engine.synth import synth_transcripts

    t0 = synth_transcripts(spark, n_convs=3, hot_turns=30).localCheckpoint()
    root = str(tmp_path / "root")
    pipe = TierPipeline(spark, root, snapshots=True, wap=True, lease=False)
    pipe.run(t0, run_id="r1")
    store = SnapStore(pipe.table_path("hourly"))
    before = store.snapshot_ids()

    def no_link(src, dst):
        raise _Crash(src)

    monkeypatch.setattr(os, "link", no_link)
    with pytest.raises(_Crash):
        store.begin()
    monkeypatch.undo()
    (partial,) = set(store.snapshot_ids()) - set(before)
    assert not store.meta(partial).get("published")
    assert store.clean_stale_staging() == [partial]
    assert store.snapshot_ids() == before

    # a second partial snapshot, left for the WAP run's own sweep
    monkeypatch.setattr(os, "link", no_link)
    with pytest.raises(_Crash):
        store.begin()
    monkeypatch.undo()
    res = TierPipeline(spark, root, snapshots=True, wap=True, lease=False).run(
        t0, run_id="r2"
    )
    assert all(n == 0 for n in res["stages"].values()), res
    assert store.snapshot_ids() == before


# -- the guard ---------------------------------------------------------------

#: directory publishes, which rename a whole tree in and stay outside the
#: file primitive: (file, enclosing function)
DIR_RENAMES = {
    ("snapstore.py", "_stage"),  # a new snapshot dir, meta inside
    ("snapstore.py", "adopt"),  # partition dirs into the adopt snapshot
    ("resultcache.py", "serve"),  # a finished cache entry dir
}
#: the primitive and the one in-memory parquet serializer beside it
PRIMITIVE = {("io.py", "atomic_write"), ("io.py", "parquet_bytes")}


def _commit_calls(path: Path):
    """(function, call) for each os.replace / os.rename / pq.write_table
    call in the module at `path`."""
    tree = ast.parse(path.read_text())
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            owner = node.func.value
            name = owner.id if isinstance(owner, ast.Name) else None
            if (name, node.func.attr) in {
                ("os", "replace"),
                ("os", "rename"),
                ("pq", "write_table"),
            }:
                out.append((func, f"{name}.{node.func.attr}"))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_every_engine_commit_goes_through_atomic_write():
    stray = []
    seen = set()
    for path in sorted(ENGINE.rglob("*.py")):
        for func, call in _commit_calls(path):
            key = (path.name, func)
            seen.add(key)
            if key in DIR_RENAMES | PRIMITIVE:
                continue
            stray.append(f"{path.relative_to(ENGINE)}:{func}: {call}")
    assert stray == [], "file commits must use engine.io.atomic_write"
    # the allowlist names real call sites: a stale entry would let a
    # rename regrow under its name
    assert DIR_RENAMES | PRIMITIVE <= seen, (DIR_RENAMES | PRIMITIVE) - seen


def test_guard_flags_a_hand_rolled_commit(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os\nimport pyarrow.parquet as pq\n"
        "def save(t, p):\n"
        "    pq.write_table(t, p + '.tmp')\n"
        "    os.replace(p + '.tmp', p)\n"
    )
    assert _commit_calls(src) == [
        ("save", "pq.write_table"),
        ("save", "os.replace"),
    ]

