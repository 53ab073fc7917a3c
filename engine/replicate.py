"""Incremental cross-root replication (SURVEY.md §2 L — lifecycle): keep a
disaster-recovery / read-serving replica of a pipeline root in
sync by shipping PARTITION DIFFS, never full tables — the cross-region
copy a 100-TB deployment runs after every batch.

How a sync works, per table:

1. The primary's `SnapStore.diff(consumed, current)` (hardlink-inode
   partition inventory — no data reads) names the partitions added,
   rewritten, or removed since the last shipped snapshot.
2. The replica stages a CoW snapshot of ITS current tree, copies exactly
   the changed partition directories from the primary snapshot (the only
   bytes that move — at scale this is the object-store/cross-region
   transfer), removes the dropped ones, and publishes with the same atomic
   pointer flip every other writer uses. Replica readers are therefore
   never torn and keep their own time travel.
3. The consumed primary-snapshot id is recorded AFTER the publish
   (tmp+rename). Crash anywhere: an unpublished staged snapshot is swept
   by `clean_stale_staging`, the pointer still names the last good sync,
   and the retry re-copies the same diff idempotently.
4. If the consumed snapshot was `expire`d on the primary before the next
   sync (GC race), the diff base is gone — the sync degrades to a full
   re-copy of the current snapshot and re-arms incrementally after
   (same fallback contract as the incremental changelog consumer).

The replica is pull-based and read-only: it never writes back, and its
`_SYNCED_FROM` pointer is per table, so a partially-synced multi-table
replica is visible as such (use the primary's run barrier /
`read_consistent` semantics on the primary if cross-table consistency of
the replica matters — sync() ships tables in one pass, so steady-state
drift is one batch at most).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .io import atomic_write, read_pointer
from .snapstore import SnapStore


class Replica:
    """A pull-based replica of every table under a `TierPipeline` root."""

    def __init__(self, spark: SparkSession, primary, root: str):
        self.spark = spark
        self.primary = primary
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- per-table plumbing ---------------------------------------------------
    def _store(self, table: str) -> SnapStore:
        return SnapStore(os.path.join(self.root, table))

    def _synced_file(self, table: str) -> str:
        return os.path.join(self.root, table, "_SYNCED_FROM")

    def synced_from(self, table: str) -> str | None:
        return read_pointer(self._synced_file(table))

    def _record_synced(self, table: str, sid: str) -> None:
        atomic_write(self._synced_file(table), sid)

    # -- sync -----------------------------------------------------------------
    def _copy_partition(self, src_snap: str, staged: str, dirname: str) -> None:
        dst = os.path.join(staged, dirname)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(os.path.join(src_snap, dirname), dst)

    def _sync_table(self, table: str) -> dict:
        src = self.primary._store(self.primary.table_path(table))
        cur = src.current_id()
        if cur is None:
            return {"mode": "absent", "copied": [], "removed": []}
        rep = self._store(table)
        rep.clean_stale_staging()
        consumed = self.synced_from(table)
        if consumed == cur:
            return {"mode": "noop", "copied": [], "removed": []}

        src_snap = src.snapshot_path(cur)
        mode = "incremental"
        if (
            consumed is None
            or rep.current_id() is None
            or not os.path.isdir(src.snapshot_path(consumed))
        ):
            # first sync, or the diff base was expired on the primary (GC
            # race) — full re-copy of the current snapshot
            mode = "full"
            copied = sorted(
                d
                for d in os.listdir(src_snap)
                if os.path.isdir(os.path.join(src_snap, d))
            )
            removed = []
            if rep.current_id() is not None:
                removed = sorted(
                    set(
                        d
                        for d in os.listdir(
                            rep.snapshot_path(rep.current_id())
                        )
                        if os.path.isdir(
                            os.path.join(rep.snapshot_path(rep.current_id()), d)
                        )
                    )
                    - set(copied)
                )
        else:
            d = src.diff(consumed, cur)
            copied = sorted(d["added"] + d["rewritten"])
            removed = d["removed"]
            if not copied and not removed:
                self._record_synced(table, cur)
                return {"mode": "noop", "copied": [], "removed": []}

        sid = rep.begin(f"sync:{cur}")
        try:
            staged = rep.snapshot_path(sid)
            for dirname in copied:
                self._copy_partition(src_snap, staged, dirname)
            for dirname in removed:
                shutil.rmtree(os.path.join(staged, dirname), ignore_errors=True)
        except Exception:
            rep.abort(sid)
            raise
        rep.publish(sid)
        self._record_synced(table, cur)
        return {"mode": mode, "copied": copied, "removed": removed}

    def sync(self) -> dict:
        """Ship every table's diff; returns per-table
        {'mode': full|incremental|noop|absent, 'copied': [...], 'removed': [...]}.
        Tables the primary retired (TierPipeline.RETIRED_TABLES) are
        deleted from the replica."""
        for name in self.primary.RETIRED_TABLES:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return {
            t: self._sync_table(t) for t in self.primary.TABLE_NAMES
        }

    # -- reads ------------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        return self._store(table).read(self.spark)

    def verify(self, table: str) -> bool:
        """Row-set parity replica vs primary (test/ops helper)."""
        a = self.primary._read_path(self.primary.table_path(table))
        b = self.read(table).select(*a.columns)
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
