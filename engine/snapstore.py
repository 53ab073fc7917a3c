"""Snapshot-versioned parquet table store — the Iceberg-semantics half of
the io seam (SURVEY.md §7.1) that the parquet emulation was missing, and
the one storage path of every pipeline table.

Earlier versions also had a plain parquet mode that overwrote partition
directories in place: compaction briefly removed the table path (unsafe
against concurrent readers) and a re-roll destroyed the previous state of
the partition. A real Iceberg catalog avoids both with snapshot commits;
this module provides the same guarantees on a plain filesystem, cheaply.
A table such a version left behind is adopted as its first snapshot
(`adopt`); `TierPipeline(snapshots=False)` now only means "keep one
snapshot per table".

Layout::

    <table_root>/
      _CURRENT                  # text file: id of the published snapshot
      _snaps/<snap_id>/         # one immutable data tree per snapshot
          meta.json             # {id, parent, op}
          bucket_date=.../part-*.parquet

A new snapshot begins as a **hardlink copy-on-write** of the current one
(`os.link` per file — O(#files) metadata ops, zero data copied; the same
trick Iceberg gets from manifest reuse), the writer mutates only the
partitions it touches (Spark's dynamic partition overwrite unlinks the
staged hardlinks, never the published files), and `publish` flips the
`_CURRENT` pointer with `io.atomic_write` (fsync, `os.replace`, directory
fsync). Consequences:

- **readers are never torn**: a reader resolves `_CURRENT` once and then
  only ever sees that immutable snapshot tree, regardless of concurrent
  re-rolls, retention drops, or compactions;
- **time travel**: `read(spark, as_of=<id>)` replays any retained snapshot;
- **rollback**: re-publish an older snapshot id (pointer flip, no data IO);
- **expire**: deleting old snapshot trees frees data exactly when the last
  hardlink to a file disappears (Iceberg's `expire_snapshots`);
- **changelog**: `diff(a, b)` lists partitions added/removed/rewritten
  between two snapshots by comparing (file name, inode) inventories —
  hardlinked (shared) files compare equal without reading data.

At 100-TB scale the equivalent structure is object-store manifests rather
than hardlinks, but the *semantics* — CoW partition trees + atomic pointer
swap + snapshot GC — are exactly what the engine's manifest-driven
incremental re-rolls need for safe concurrent readers; only the metadata
operation cost model differs (per-file metadata op here, per-manifest-entry
there). Driver-side loops below touch snapshot *metadata* (file inventory),
never data rows.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession

from .io import atomic_write, read_pointer

_SNAPS = "_snaps"
_CURRENT = "_CURRENT"


#: published-snapshot read memo: session -> {snapshot dir -> JVM DataFrame}.
#: Safe because published snapshot trees are immutable (CoW — every write,
#: drop or compaction begins a NEW snapshot id); each session's memo is
#: bounded by a clear-on-cap. Weakly keyed so a dropped session's entries
#: go with it; the values are JVM handles because a Python DataFrame
#: would hold its session and keep the key alive.
_READ_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_READ_CACHE_CAP = 512


class SnapshotError(RuntimeError):
    pass


class SnapStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, _SNAPS), exist_ok=True)

    # -- pointer -----------------------------------------------------------
    @property
    def _current_file(self) -> str:
        return os.path.join(self.root, _CURRENT)

    def current_id(self) -> str | None:
        return read_pointer(self._current_file)

    def snapshot_path(self, snap_id: str) -> str:
        return os.path.join(self.root, _SNAPS, snap_id)

    def snapshot_ids(self) -> list[str]:
        """All retained snapshot ids, oldest first (ids sort by creation)."""
        d = os.path.join(self.root, _SNAPS)
        return sorted(s for s in os.listdir(d) if not s.startswith("."))

    def meta(self, snap_id: str) -> dict:
        with open(os.path.join(self.snapshot_path(snap_id), "meta.json")) as f:
            return json.load(f)

    # -- named tags (Iceberg tag refs) ----------------------------------------
    @property
    def _tags_dir(self) -> str:
        return os.path.join(self.root, "_tags")

    def tag(self, name: str, snap_id: str | None = None) -> str:
        """Pin a retained snapshot under a stable name (compliance audits,
        'last-good' serving refs). Tagged snapshots survive `expire` at any
        keep_last. One file per tag, written with `atomic_write` —
        re-tagging is atomic."""
        if "/" in name or name.startswith("."):
            raise SnapshotError(f"bad tag name {name!r}")
        sid = snap_id or self.current_id()
        if sid is None or not os.path.isdir(self.snapshot_path(sid)):
            raise SnapshotError(f"cannot tag unknown snapshot {sid!r}")
        os.makedirs(self._tags_dir, exist_ok=True)
        atomic_write(os.path.join(self._tags_dir, name), sid)
        return sid

    def tags(self) -> dict[str, str]:
        if not os.path.isdir(self._tags_dir):
            return {}
        return {
            n: read_pointer(os.path.join(self._tags_dir, n))
            for n in os.listdir(self._tags_dir)
            if not n.startswith(".")
        }

    def untag(self, name: str) -> None:
        try:
            os.unlink(os.path.join(self._tags_dir, name))
        except FileNotFoundError:
            raise SnapshotError(f"no such tag {name!r}") from None

    def resolve(self, ref: str) -> str:
        """A snapshot id, or a tag name → its pinned id."""
        t = self.tags()
        if ref in t:
            return t[ref]
        if os.path.isdir(self.snapshot_path(ref)):
            return ref
        raise SnapshotError(f"{ref!r} is neither a tag nor a retained snapshot")

    # -- write path ----------------------------------------------------------
    def _new_id(self) -> str:
        # Monotonic prefix: max existing prefix + 1, NOT the count of retained
        # snapshots — after expire() shrinks the set, a count-derived prefix
        # would reuse low numbers and break snapshot_ids()' oldest-first
        # ordering (making expire(keep_last=N) GC genuinely newer snapshots).
        prefixes = [
            int(s.split("-", 1)[0])
            for s in self.snapshot_ids()
            if s.split("-", 1)[0].isdigit()
        ]
        nxt = (max(prefixes) + 1) if prefixes else 0
        return f"{nxt:08d}-{uuid.uuid4().hex[:8]}"

    def _stage(self, **meta) -> str:
        """Create a new snapshot dir holding only its meta.json and return
        its id. The meta is written into a hidden `.<id>` dir that is then
        renamed in, so a crash never leaves a snapshot without its meta."""
        sid = self._new_id()
        hidden = os.path.join(self.root, _SNAPS, f".{sid}")
        os.makedirs(hidden)
        with open(os.path.join(hidden, "meta.json"), "w") as f:
            json.dump({"id": sid, **meta}, f)
        os.rename(hidden, self.snapshot_path(sid))
        return sid

    def begin(self, op: str = "write") -> str:
        """Start a snapshot: CoW-hardlink the current tree into a fresh
        snapshot dir and return its id (unpublished until `publish`)."""
        parent = self.current_id()
        sid = self._stage(parent=parent, op=op)
        if parent is not None:
            _hardlink_tree(self.snapshot_path(parent), self.snapshot_path(sid))
        return sid

    def publish(self, snap_id: str) -> None:
        """Atomically flip `_CURRENT` to `snap_id` (`atomic_write`: readers
        see either the old pointer or the new one, never a torn file)."""
        if not os.path.isdir(self.snapshot_path(snap_id)):
            raise SnapshotError(f"unknown snapshot {snap_id!r}")
        meta = self.meta(snap_id)
        if not meta.get("published"):
            meta["published"] = True
            atomic_write(
                os.path.join(self.snapshot_path(snap_id), "meta.json"),
                json.dumps(meta),
            )
        atomic_write(self._current_file, snap_id)

    def clean_stale_staging(self) -> list[str]:
        """Delete snapshots that were staged but never published (a crashed
        write-audit-publish run's leftovers), and the hidden `.<id>` dirs of
        `_stage` calls killed before their rename. Never touches the current
        snapshot or anything that was ever published (rollback targets)."""
        snaps = os.path.join(self.root, _SNAPS)
        for d in os.listdir(snaps):
            if d.startswith("."):
                shutil.rmtree(os.path.join(snaps, d))
        cur = self.current_id()
        doomed = [
            s
            for s in self.snapshot_ids()
            if s != cur
            and not (m := self.meta(s)).get("published")
            and m.get("op") != "adopt"  # holds the only copy of its data
        ]
        for s in doomed:
            shutil.rmtree(self.snapshot_path(s))
        return doomed

    def adopt(self) -> str | None:
        """Make a plain partitioned parquet tree at the table root (the
        `k=v/part-*.parquet` layout earlier versions wrote in place) this
        table's first snapshot: each partition directory is renamed into a
        snapshot with op 'adopt', which then publishes. No data is copied.
        A table root without such a tree while `<root>__old` holds one (a
        plain in-place compaction that crashed between its two renames) is
        adopted from `<root>__old`.

        Crash-resumable: the unpublished adopt snapshot records its source,
        a retry moves the remaining directories into it, and
        `clean_stale_staging` never sweeps it. Returns the published id, or
        None when the table already has a snapshot or nothing to adopt."""
        if self.current_id() is not None:
            return None
        pending = [s for s in self.snapshot_ids() if self.meta(s).get("op") == "adopt"]
        if pending:
            sid = pending[-1]
            src = self.root + self.meta(sid)["source"]
        else:
            src = next(
                (d for d in (self.root, self.root + "__old") if _partition_dirs(d)),
                None,
            )
            if src is None:
                return None
            sid = self._stage(parent=None, op="adopt", source=src[len(self.root):])
        dst = self.snapshot_path(sid)
        for d in _partition_dirs(src):
            os.rename(os.path.join(src, d), os.path.join(dst, d))
        self.publish(sid)
        if src != self.root:
            shutil.rmtree(src)
        return sid

    def abort(self, snap_id: str) -> None:
        """Discard an unpublished staging snapshot."""
        if snap_id == self.current_id():
            raise SnapshotError("refusing to abort the published snapshot")
        shutil.rmtree(self.snapshot_path(snap_id), ignore_errors=True)

    def drop_partitions(self, dirnames: list[str], op: str = "drop") -> str:
        """Publish a new snapshot without the named partition directories
        (e.g. ``['bucket_date=2026-01-05']``). Prior snapshots retain them —
        this is how retention deletes stay time-travelable."""
        sid = self.begin(op)
        for d in dirnames:
            shutil.rmtree(os.path.join(self.snapshot_path(sid), d), ignore_errors=True)
        self.publish(sid)
        return sid

    def rollback(self, snap_id: str) -> None:
        """Point the table back at a retained snapshot (pointer flip only)."""
        self.publish(snap_id)

    def expire(
        self, keep_last: int = 1, protected: set[str] | None = None
    ) -> list[str]:
        """GC: delete all but the newest `keep_last` retained snapshots (the
        published one is always kept). File data is freed when its last
        hardlink goes. `protected` ids are never deleted regardless of age —
        callers pass snapshot ids still referenced by sealed run barriers
        (read_consistent / rollback_run targets) or by an incremental
        consumer's _CONSUMED pointer, so keep_last=1 cannot strand a
        rollback target or silently degrade a consumer to full rebuild."""
        keep_last = max(1, keep_last)
        protected = (protected or set()) | set(self.tags().values())
        ids = self.snapshot_ids()
        cur = self.current_id()
        doomed = [s for s in ids[:-keep_last] if s != cur and s not in protected]
        for s in doomed:
            shutil.rmtree(self.snapshot_path(s))
        return doomed

    # -- read path -----------------------------------------------------------
    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame:
        """DataFrame over the published (or `as_of`) snapshot. The returned
        plan is pinned to that snapshot's immutable file tree: concurrent
        publishes never change what this reader sees.

        PUBLISHED snapshots are memoized per (session, snapshot dir): their
        trees are immutable by construction (every mutation begins a NEW
        snapshot), so the DataFrame — and crucially its already-computed
        file listing — can be reused by every later consult. A resume run
        re-reads each tier a handful of times per stage; without the memo
        each read re-listed hundreds of partition dirs. Staged (unpublished)
        snapshots are never cached: WAP writes mutate them in place."""
        sid = self.resolve(as_of) if as_of is not None else self.current_id()
        if sid is None:
            raise SnapshotError(f"{self.root}: no published snapshot")
        path = self.snapshot_path(sid)
        if not os.path.isdir(path):
            raise SnapshotError(f"{self.root}: snapshot {sid!r} expired or unknown")
        memo = _READ_CACHE.setdefault(spark, {})
        cached = memo.get(path)
        if cached is not None:
            return DataFrame(cached, spark)
        df = spark.read.option("basePath", path).parquet(*_data_dirs(path))
        if self.meta(sid).get("published"):
            if len(memo) >= _READ_CACHE_CAP:
                memo.clear()
            memo[path] = df._jdf
        return df

    # -- changelog -----------------------------------------------------------
    def diff(self, snap_a: str, snap_b: str) -> dict[str, list[str]]:
        """Partition-level changelog a→b: ``added`` / ``removed`` /
        ``rewritten`` partition dirnames. Shared (hardlinked) files compare
        equal by (name, inode) without touching data — the CDC seam an
        incremental downstream consumer reads instead of re-scanning."""
        inv_a = _partition_inventory(self.snapshot_path(snap_a))
        inv_b = _partition_inventory(self.snapshot_path(snap_b))
        return {
            "added": sorted(set(inv_b) - set(inv_a)),
            "removed": sorted(set(inv_a) - set(inv_b)),
            "rewritten": sorted(
                p for p in set(inv_a) & set(inv_b) if inv_a[p] != inv_b[p]
            ),
        }

    def read_changes(
        self, spark: SparkSession, since: str, until: str | None = None
    ) -> DataFrame:
        """Rows of every partition added or rewritten after `since` (up to
        `until`, default: published) — partition-pruned to the changed set."""
        until = until or self.current_id()
        d = self.diff(since, until)
        changed = d["added"] + d["rewritten"]
        base = self.snapshot_path(until)
        if not changed:
            return self.read(spark, as_of=until).limit(0)
        return spark.read.option("basePath", base).parquet(
            *(os.path.join(base, p) for p in changed)
        )


def _data_dirs(snap_path: str) -> list[str]:
    """Partition dirs of a snapshot (excludes meta.json); reading these with
    a basePath keeps partition-column discovery + pruning intact while
    tolerating the non-data meta file at the root."""
    dirs = [
        os.path.join(snap_path, d)
        for d in os.listdir(snap_path)
        if os.path.isdir(os.path.join(snap_path, d))
    ]
    return dirs or [snap_path]  # empty snapshot: let Spark raise its usual error


def _partition_dirs(path: str) -> list[str]:
    """The `k=v` partition directory names directly under `path`."""
    try:
        return sorted(
            e.name for e in os.scandir(path) if "=" in e.name and e.is_dir()
        )
    except FileNotFoundError:
        return []


def _hardlink_tree(src: str, dst: str) -> None:
    for dirpath, dirnames, filenames in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        target = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(target, exist_ok=True)
        for fn in filenames:
            if rel == "." and fn == "meta.json":
                continue  # each snapshot writes its own meta
            os.link(os.path.join(dirpath, fn), os.path.join(target, fn))


def _partition_inventory(snap_path: str) -> dict[str, frozenset]:
    """partition dirname -> frozenset of (relative file name, inode)."""
    out: dict[str, frozenset] = {}
    for d in os.listdir(snap_path):
        full = os.path.join(snap_path, d)
        if not os.path.isdir(full):
            continue
        files = []
        for dirpath, _dn, filenames in os.walk(full):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                files.append((os.path.relpath(p, full), os.stat(p).st_ino))
        out[d] = frozenset(files)
    return out
