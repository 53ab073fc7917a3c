"""EP2 — the full tiering batch job (SURVEY.md §3):

    ingest -> dedup/order -> hourly -> daily -> monthly -> compress ->
    (retention) with a manifest commit after every stage.

Each stage materializes to its table and commits per-partition lineage rows
carrying an order-insensitive *input fingerprint*, deliberately mirroring the
reference's write-GeoTIFF-then-skip-on-rerun checkpoint idiom generalized to
mutable inputs: a rerun recomputes a partition iff it is uncommitted OR its
input fingerprint changed (late/backfilled rows — J4). Because each stage
fingerprints its own input tier, one late raw row cascades exactly the
affected day → its month in the monthly tier and in the chunks, and
nothing else.

Resume granularity per stage:
    hourly/daily  -> bucket_date (day)      key 'day=YYYY-MM-DD'
    monthly       -> month                   key 'month=YYYY-MM'
    compress      -> chunk_month (month)     key 'month=YYYY-MM'   (a chunk
                     is one month of one conversation's metric series, so
                     a month's chunks read only that month's hourly rows;
                     one task writes each month directory)

Roots of earlier versions keyed the chunks by conv_bucket (manifest keys
'cb=<n>'); the first write-side operation re-keys them (`_migrate_chunks`).

Gap-fill (LOCF / linear) is not a stage: no read path needs a materialized
filled series, so `TierEngine.serve_gapfill` fills the range it is asked
for at read time (engine/rewrite.py serve_gapfill). Earlier versions also
wrote a `gapfill` table and, optionally, a conv_id-bucketed copy of the
hourly tier; the first run sealed on such a root, or the first `forget`,
deletes both (`RETIRED_TABLES`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import io as eio
from .bucket import dedup_turns, mask_valid
from .checkpoint import (
    DELETED_SNAPSHOT,
    Manifest,
    new_run_id,
    pending_rows,
    stale_keys,
    work_manifest,
)
from .codec.chunks import make_chunks
from .gapfill import hourly_series
from .rollup import (
    FAMILIES,
    STATE_COLS,
    densify_hourly_locf,
    observed_state,
    rollup_hourly,
    rollup_up,
    tier_view,
)

N_CONV_BUCKETS = 64

#: hourly/daily tier-state content columns hashed into stage fingerprints
_STATE_HASH_COLS = ["conv_id", "bucket_start", *STATE_COLS]

#: the chunks table's partition column: the month of `chunk_start`
CHUNK_PART = "chunk_month"


def _chunk_month():
    return F.date_format("chunk_start", "yyyy-MM")


def _day_month():
    """An hourly row's month, from its bucket_date partition column (a
    month filter then prunes hourly day directories)."""
    return F.date_format("bucket_date", "yyyy-MM")


def _conv_bucket(col="conv_id", n=N_CONV_BUCKETS):
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


class TierPipeline:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        salted: bool | str = False,
        n_salts: int = 16,
        auto_salt_opts: dict | None = None,
        fill_method: str = "locf",
        fill_tiers: bool = True,
        snapshots: bool = False,
        sketch_cols: list[str] | None = None,
        hist_cols: dict | None = None,
        firstlast_cols: list[str] | None = None,
        sumsq_cols: list[str] | None = None,
        sumprod_cols: list | None = None,
        freq_cols: list[str] | None = None,
        hh_cols: dict[str, int] | None = None,
        kmv_cols: dict[str, int] | None = None,
        session_gaps: list[int] | None = None,
        statedur_cols: list[str] | None = None,
        twa_cols: list[str] | None = None,
        qsk_cols: list[str] | None = None,
        topn_cols: dict[str, int] | None = None,
        botn_cols: dict[str, int] | None = None,
        wap: bool = False,
        wap_audit=None,
        hourly_layout: int = 1,
        lease: bool = True,
        lease_ttl_s: float = 3600.0,
    ):
        args = locals()  # the state-family keywords, by name (FAMILIES)
        self.spark = spark
        self.root = root
        if salted not in (True, False, "auto"):
            raise ValueError("salted must be True, False, or 'auto'")
        self.salted = salted
        #: choose_salted() thresholds for salted='auto' (ratio_threshold,
        #: min_hot_rows, frac, seed) — defaults are the production sizing
        self.auto_salt_opts = dict(auto_salt_opts or {})
        self.n_salts = n_salts
        self.fill_method = fill_method
        #: write flagged intra-day LOCF rows into the hourly tier
        #: (SURVEY §1.2 filled/fill_method on tier rows)
        self.fill_tiers = fill_tiers
        #: every table is snapshot-versioned (engine/snapstore.py): each
        #: stage write / retention drop / compaction publishes an immutable
        #: CoW snapshot behind an atomic pointer, so concurrent readers are
        #: never torn. `snapshots` decides how much history a table keeps:
        #: True keeps every snapshot until `expire_snapshots` (time travel,
        #: rollback); False expires each table down to its current snapshot
        #: and the last sealed run's barrier after every write-side
        #: operation (`_trim_history`)
        self.snapshots = snapshots
        #: optional mergeable tier-state families (engine/rollup.py
        #: FAMILIES): each keyword's normalised spec, under its own name.
        #: A spec is part of the day-stage fingerprint token, so enabling or
        #: disabling a family on an existing root triggers a one-time
        #: manifest-gated incremental backfill of every tier — schema
        #: evolution as just another fingerprint change.
        for fam in FAMILIES:
            setattr(self, fam.kwarg, fam.normalise(args[fam.kwarg]))
        #: write-audit-publish: a run writes every
        #: stage into STAGED (unpublished) snapshots with manifest commits
        #: deferred; at the seal, `wap_audit(pipe)` (if given) inspects the
        #: staged state — reads inside the run resolve to it — and then all
        #: tables publish + the manifest lands. A crash or audit failure
        #: leaves published tables AND the manifest untouched.
        self.wap = wap
        self.wap_audit = wap_audit
        #: hourly tier partition SPEC version (VERDICT r3 #7 — Iceberg
        #: partition-spec evolution): 1 = day dirs only, 2 = day/conv_bucket
        #: sub-partitioning (conv-scoped reads prune within a day; retention
        #: and compaction keep day granularity). The layout version folds
        #: into the day-stage fingerprint, so switching it on an existing
        #: root is a one-time manifest-gated re-roll of every day — and
        #: because tier-state fingerprints hash rows, not layout, the
        #: daily/monthly/compress stages do NOT cascade. Retained
        #: pre-migration snapshots keep their old layout and stay readable
        #: via time travel.
        if hourly_layout not in (1, 2):
            raise ValueError("hourly_layout must be 1 or 2")
        self.hourly_layout = hourly_layout
        #: single-writer mutual exclusion around run(): two concurrent runs
        #: on one root would double-write pending partitions (engine/lease.py)
        self.use_lease = lease
        self.lease_ttl_s = lease_ttl_s
        self._wap_active = False
        self._staged: dict[str, str] = {}
        self._buffered_rows: list[dict] = []
        self.manifest = Manifest(spark, os.path.join(root, "_manifest"))
        #: right-to-be-forgotten tombstones (engine/forget.py): ingest
        #: anti-joins the input against this set, so a deletion re-rolls
        #: exactly the affected days via the ordinary fingerprint machinery
        #: and tombstoned conversations can never resurrect from late data
        from .forget import TombstoneStore

        self.tombstones = TombstoneStore(root)

    @property
    def _day_token(self) -> str:
        """Day-stage fingerprint configuration token: the enabled state
        families' specs + hourly partition-spec version. Empty at the
        defaults, keeping historical fingerprints byte-identical."""
        parts = [f.token(s) for f in FAMILIES if (s := getattr(self, f.kwarg))]
        if self.hourly_layout != 1:
            parts.append(f"layout:{self.hourly_layout}")
        return "|".join(parts)

    def hourly_partition_cols(self) -> list[str]:
        return (
            ["bucket_date"]
            if self.hourly_layout == 1
            else ["bucket_date", "conv_bucket"]
        )

    def _tier_hash_cols(self) -> list:
        """Fingerprint columns for tier-state inputs (daily/monthly):
        the state columns plus each enabled family's hash expressions
        (engine/rollup.py FAMILIES). The compress fingerprint deliberately
        stays family-free (_STATE_HASH_COLS): chunks don't read family
        state, so family-only changes must not re-roll them."""
        return _STATE_HASH_COLS + [
            e
            for f in FAMILIES
            if (s := getattr(self, f.kwarg))
            for e in f.hash_cols(s)
        ]

    # -- paths -------------------------------------------------------------
    def tier_path(self, tier: str) -> str:
        return os.path.join(self.root, "tiers", tier)

    @property
    def chunks_path(self) -> str:
        return os.path.join(self.root, "chunks")

    def table_path(self, name: str) -> str:
        if name in ("hourly", "daily", "monthly"):
            return self.tier_path(name)
        if name in ("chunks", "compress"):
            return self.chunks_path
        raise KeyError(name)

    def _store(self, path: str):
        """The table's SnapStore. A plain parquet tree an earlier version
        wrote there is adopted as its first snapshot on first access."""
        from .snapstore import SnapStore

        store = SnapStore(path)
        store.adopt()
        return store

    def _read_path(self, path: str) -> DataFrame:
        # inside a WAP run, reads resolve to this run's staged state so
        # later stages (and the audit) see the in-flight snapshots
        return self._store(path).read(self.spark, as_of=self._staged.get(path))

    def read_table(self, name: str) -> DataFrame:
        """Snapshot-aware read of any pipeline table by logical name."""
        return self._read_path(self.table_path(name))

    def tier_data_path(self, tier: str) -> str:
        """The concrete directory holding the tier's CURRENT files: its
        published snapshot dir. This is the anchor a FileIndex
        (engine/fileindex.py) indexes: snapshot flips keep relpaths and
        hardlinked (size, mtime) identity, so unchanged partitions' index
        rows survive pointer advances."""
        p = self.tier_path(tier)
        store = self._store(p)
        cur = store.current_id()
        if cur is None:
            from .snapstore import SnapshotError

            raise SnapshotError(f"{p}: no published snapshot to index")
        return store.snapshot_path(cur)

    def read_tier(self, tier: str) -> DataFrame:
        return self._read_path(self.tier_path(tier))

    @staticmethod
    def _tree_partition_cols(root: str) -> list[str] | None:
        """Partition column names of an existing parquet tree, outermost
        first, read along its first k=v directory path (None when absent or
        empty). Detects a partition-SPEC mismatch between what is on disk
        and what this pipeline is configured to write — a change of column
        at the same depth as well as a change of depth."""
        cols: list[str] = []
        d = root
        while True:
            try:
                sub = sorted(
                    e for e in os.listdir(d)
                    if "=" in e and os.path.isdir(os.path.join(d, e))
                )
            except FileNotFoundError:
                return None
            if not sub:
                return cols or None
            cols.append(sub[0].split("=", 1)[0])
            d = os.path.join(d, sub[0])

    @staticmethod
    def _clear_partition_dirs(root: str) -> None:
        import shutil

        for d in os.listdir(root):
            if "=" in d and os.path.isdir(os.path.join(root, d)):
                shutil.rmtree(os.path.join(root, d))

    def _write_table(
        self, df: DataFrame, path: str, partition_cols: list[str]
    ) -> None:
        out = df
        if "bucket_date" in partition_cols and "bucket_date" not in df.columns:
            out = out.withColumn("bucket_date", F.to_date("bucket_start"))
        store = self._store(path)
        # WAP: reuse this run's staged snapshot for the path (a stale-input
        # drop may have staged it already); never publish until the seal
        sid = self._staged.get(path) if self._wap_active else None
        fresh = sid is None
        if fresh:
            sid = store.begin(
                ("wap-staged" if self._wap_active else "write")
                + ":" + ",".join(partition_cols)  # records the spec per snapshot
            )
        try:
            # spec evolution: the staged CoW tree inherits the OLD layout's
            # files (dynamic overwrite replaces only the leaf partitions the
            # new data touches, and Spark refuses to read conflicting
            # partition columns) — clear them so the new snapshot is
            # homogeneous under the new spec; prior snapshots keep the old
            # layout and stay readable via time travel
            snap = store.snapshot_path(sid)
            cols = self._tree_partition_cols(snap)
            if cols is not None and cols != list(partition_cols):
                self._clear_partition_dirs(snap)
            (
                eio.spread_partitions(out, partition_cols)
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_cols)
                .mode("overwrite")
                .parquet(snap)
            )
        except Exception:
            if fresh:
                store.abort(sid)
            raise
        if self._wap_active:
            self._staged[path] = sid
        else:
            store.publish(sid)

    # -- cross-table run barrier ----------------------------------------------
    TABLE_NAMES = ("hourly", "daily", "monthly", "chunks")
    #: derived tables earlier versions wrote and no reader opens; a sealed
    #: run deletes them from the root (with their changelog pointers)
    RETIRED_TABLES = ("gapfill", "tiers/hourly_bucketed")

    def _commit(self, rows: list[dict]) -> None:
        """Manifest commit, deferred to the seal inside a WAP run so a
        crashed or audit-failed run leaves no fingerprint claims behind."""
        if self._wap_active:
            self._buffered_rows.extend(rows)
        else:
            self.manifest.commit(rows)

    def _begin_wap(self) -> None:
        # sweep leftovers of a previously crashed WAP run (staged-never-
        # published snapshots), then start clean
        for name in self.TABLE_NAMES:
            self._store(self.table_path(name)).clean_stale_staging()
        self._staged = {}
        self._buffered_rows = []
        self._wap_active = True

    def _abort_wap(self) -> None:
        for path, sid in self._staged.items():
            self._store(path).abort(sid)
        self._staged = {}
        self._buffered_rows = []
        self._wap_active = False

    def _finish_run(
        self,
        run_id: str,
        done: dict,
        scans: dict | None = None,
        left: dict | None = None,
    ) -> dict:
        """Seal a run: record each table's published snapshot id under
        stage='snapshot' — the cross-table consistency barrier:
        `read_consistent(run_id)` later pins EVERY table to the ids this
        run ended with, so a reader never mixes an hourly tier from run N+1
        with a daily tier from run N (Iceberg's multi-table transaction
        emulated at run granularity). Then `_trim_history`.

        WAP seal order: audit (over the staged view) → publish every staged
        snapshot → commit the buffered manifest + barrier. Publishes are
        per-table atomic pointer flips; the cross-table window is
        milliseconds of renames, and a crash inside it is safe — the
        manifest lands last, so interrupted work simply re-rolls."""
        if self._wap_active:
            if self.wap_audit is not None:
                self.wap_audit(self)  # raises to veto; staged state visible
            staged, buffered = self._staged, self._buffered_rows
            self._staged, self._buffered_rows = {}, []
            self._wap_active = False
            for path, sid in staged.items():
                self._store(path).publish(sid)
            if buffered:
                self.manifest.commit(buffered)
        rows = []
        for name in self.TABLE_NAMES:
            sid = self._store(self.table_path(name)).current_id()
            if sid is not None:
                rows.append(
                    {
                        "run_id": run_id,
                        "stage": "snapshot",
                        "partition_key": f"table={name}",
                        "input_snapshot_id": sid,
                        "output_snapshot_id": self.table_path(name),
                        "lineage": "run-barrier",
                    }
                )
        if rows:
            self.manifest.commit(rows)
        self._drop_retired_tables()
        self._trim_history()
        return {
            "run_id": run_id,
            "stages": done,
            "scans": scans or {},
            "left": left or {},
        }

    def _trim_history(self) -> None:
        """A `snapshots=False` root keeps no history: every write-side
        operation (a sealed run, a retention drop, a forget sweep, a
        compaction, the chunks migration) ends by expiring each table down
        to its current snapshot and the ones the last sealed run's barrier
        pins. Expiring at the seal, not at each publish, keeps a stage's
        changelog diff base alive within and across runs."""
        if not self.snapshots:
            from .retention import expire_snapshots

            expire_snapshots(self, keep_last=1)

    def _drop_retired_tables(self) -> None:
        """Delete RETIRED_TABLES left on a root by earlier versions: derived
        data nothing reads, whose per-file write and storage cost the root
        would otherwise keep paying for on every snapshot and replica."""
        import shutil

        for name in self.RETIRED_TABLES:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
            try:
                os.remove(self._progress_file(name))
            except FileNotFoundError:
                pass

    def _chunks_dir(self) -> str | None:
        """The directory holding the chunks table's current files (its
        published snapshot); None when there is none."""
        store = self._store(self.chunks_path)
        cur = store.current_id()
        return None if cur is None else store.snapshot_path(cur)

    def _migrate_chunks(self, run_id: str | None = None) -> None:
        """Re-key the chunks table of an earlier version, partitioned by
        conv_bucket with 'cb=<n>' compress keys, by month. Every write-side
        operation (run, forget, retention, compaction) calls this first;
        once done it costs a directory listing and a manifest lookup.

        The old chunk rows are rewritten under the month key, not rebuilt
        from hourly, so the archived series of retention-dropped days
        survive. One manifest commit then closes every live 'cb=' key with
        a DELETED row and commits each hourly month's current fingerprint,
        so the next run builds nothing. If a conv_bucket was pending a
        re-roll, the months stay uncommitted and the next run rebuilds
        them from hourly, as it would have rebuilt that bucket. Months only
        the chunks still hold (every hourly day retention-dropped) get the
        DELETED archive row that keeps them out of stale detection. Each
        step is idempotent: a crash anywhere resumes on the next call."""
        path = self.chunks_path
        d = self._chunks_dir()
        migrated = d is not None and self._tree_partition_cols(d) == ["conv_bucket"]
        if migrated:
            self._write_table(
                self.read_table("chunks")
                .drop("conv_bucket")
                .withColumn(CHUNK_PART, _chunk_month()),
                path,
                [CHUNK_PART],
            )
        old_keys = sorted(
            k
            for k, s in self.manifest.latest_map("compress").items()
            if k.startswith("cb=") and s != DELETED_SNAPSHOT
        )
        if not old_keys:
            if migrated:
                self._trim_history()
            return
        run_id = run_id or new_run_id()
        hourly = observed_state(self.read_tier("hourly"))
        cb_work = work_manifest(
            hourly, F.col("conv_bucket").cast("string"), _STATE_HASH_COLS, "cb"
        ).collect()
        current = not pending_rows(cb_work, self.manifest, "compress") and not (
            stale_keys({r["partition_key"] for r in cb_work}, self.manifest,
                       "compress")
        )
        work = work_manifest(
            hourly, _day_month(), _STATE_HASH_COLS, "month"
        ).collect()
        d = self._chunks_dir()
        held = sorted(
            e.split("=", 1)[1] for e in os.listdir(d)
            if e.startswith(f"{CHUNK_PART}=")
        ) if d is not None and os.path.isdir(d) else []
        rows_out = self._rows_out(path, CHUNK_PART, held)
        rows = [
            {"run_id": run_id, "stage": "compress", "partition_key": k,
             "lineage": "chunks-migration",
             "input_snapshot_id": DELETED_SNAPSHOT}
            for k in old_keys
        ]
        if current:
            rows += [
                {"run_id": run_id, "stage": "compress",
                 "partition_key": r["partition_key"],
                 "rows_in": r["rows_in"],
                 "rows_out": rows_out.get(r["partition_key"][6:], 0),
                 "lineage": "chunks-migration",
                 "input_snapshot_id": r["input_snapshot_id"],
                 "output_snapshot_id": path}
                for r in work
            ]
        live = {r["partition_key"] for r in work}
        rows += [
            {"run_id": run_id, "stage": "compress", "partition_key": f"month={m}",
             "lineage": "hourly-retention-archive",
             "input_snapshot_id": DELETED_SNAPSHOT}
            for m in held
            if f"month={m}" not in live
        ]
        # the next compress scan must be full: the pointer vouched for
        # conv_bucket keys, not for the months just committed
        try:
            os.remove(self._progress_file("compress"))
        except FileNotFoundError:
            pass
        self.manifest.commit(rows)
        self._trim_history()

    def run_snapshots(self, run_id: str | None = None) -> dict[str, str]:
        """table name -> snapshot id pinned at the end of `run_id` (default:
        the most recently sealed run). Barrier rows of RETIRED_TABLES, which
        runs of earlier versions sealed, are skipped. Driver-side over the
        memoized manifest frame: no Spark job."""
        m = self.manifest.read_pandas()
        m = m[m["stage"] == "snapshot"]
        if run_id is None:
            if len(m) == 0:
                raise ValueError("no sealed runs in manifest")
            run_id = m.sort_values("committed_at", kind="stable")["run_id"].iloc[-1]
        m = m[m["run_id"] == run_id]
        return {
            name: sid
            for key, sid in zip(m["partition_key"], m["input_snapshot_id"])
            if (name := key.split("=", 1)[1]) in self.TABLE_NAMES
        }

    def read_consistent(self, run_id: str | None = None) -> dict[str, DataFrame]:
        """Every pipeline table pinned to one run's snapshot ids — a
        mutually consistent cross-table view regardless of later runs,
        retention drops, or compactions (valid until those snapshots are
        expired)."""
        return {
            name: self._store(self.table_path(name)).read(self.spark, as_of=sid)
            for name, sid in self.run_snapshots(run_id).items()
        }

    #: fingerprint sentinel committed by rollback_run: matches no real work
    #: fingerprint, so every partition the undone runs had committed re-rolls
    ROLLED_BACK = "<rolled-back>"

    def rollback_run(self, run_id: str) -> dict[str, str]:
        """Restore every table to the snapshot ids sealed by `run_id` —
        pointer flips only, zero data IO (Iceberg `rollback_to_snapshot`,
        run-granular) — and RE-ARM the resume manifest: a bare pointer flip
        would leave newer fingerprint commits claiming states the tables no
        longer hold, so the next run would wrongly skip those partitions.
        Every (stage, partition) committed after the target barrier gets a
        ROLLED_BACK sentinel fingerprint; the next run re-rolls exactly
        those. Refuses when a retention drop or month-freeze happened after
        the barrier (rolling data back under retention bookkeeping would
        resurrect dropped partitions with live 'dropped' manifest state)
        and when any target snapshot was expired (a `snapshots=False` root
        keeps only its last barrier) — in both cases before anything
        changed. Returns the restored table→snapshot-id map."""
        from .snapstore import SnapshotError

        snaps = self.run_snapshots(run_id)
        if not snaps:
            raise ValueError(f"run {run_id!r} sealed no snapshot barrier")
        stores = {n: self._store(self.table_path(n)) for n in snaps}
        expired = sorted(
            n for n, sid in snaps.items()
            if not os.path.isdir(stores[n].snapshot_path(sid))
        )
        if expired:
            raise SnapshotError(
                f"cannot roll back to run {run_id!r}: snapshots of "
                f"{', '.join(expired)} expired"
            )
        m = self.manifest.read_pandas()
        barrier_ts = m.loc[
            (m["stage"] == "snapshot") & (m["run_id"] == run_id), "committed_at"
        ].max()
        newer = m[m["committed_at"] > barrier_ts]
        blockers = int(newer["stage"].isin(["retention", "frozen"]).sum())
        if blockers:
            raise ValueError(
                "refusing to roll back across retention/freeze events "
                f"({blockers} newer lifecycle commits)"
            )
        undone = (
            newer.loc[newer["stage"].isin(self.ALL_STAGES),
                      ["stage", "partition_key"]]
            .drop_duplicates()
            .itertuples(index=False)
        )
        for name, sid in snaps.items():
            stores[name].rollback(sid)
        rb_id = new_run_id()
        rows = [
            {
                "run_id": rb_id,
                "stage": stage,
                "partition_key": key,
                "input_snapshot_id": self.ROLLED_BACK,
                "lineage": f"rollback-of:{run_id}",
            }
            for stage, key in undone
        ]
        # reseal the barrier at the restored ids so read_consistent()
        # defaults to the rolled-back state
        rows += [
            {
                "run_id": rb_id,
                "stage": "snapshot",
                "partition_key": f"table={name}",
                "input_snapshot_id": sid,
                "output_snapshot_id": self.table_path(name),
                "lineage": "run-barrier",
            }
            for name, sid in snaps.items()
        ]
        self.manifest.commit(rows)
        return snaps

    # -- stage driver --------------------------------------------------------
    # -- changelog-pruned work manifests ---------------------------------------
    def _progress_file(self, stage: str) -> str:
        return os.path.join(self.root, "_progress", f"{stage}.upstream")

    def _reconciled(self, stage: str) -> tuple[str, str] | None:
        pointer = eio.read_pointer(self._progress_file(stage)) or ""
        sid, _, token = pointer.partition(" ")
        return (sid, token) if sid else None

    def _record_reconciled(self, stage: str, sid: str) -> None:
        os.makedirs(os.path.dirname(self._progress_file(stage)), exist_ok=True)
        eio.atomic_write(self._progress_file(stage), f"{sid} {self._day_token}")

    def _changed_upstream_days(self, stage: str, upstream: str) -> list[str] | None:
        """The O(changed)-not-O(table) resume scan: day values of
        `upstream` partitions added/rewritten/removed since `stage` last
        reconciled, from the snapshot changelog's inode inventory — no data
        reads. Unchanged partitions are PROVABLY fingerprint-identical (their
        files are the same inodes), so the work manifest only needs to
        re-fingerprint the changed ones. Returns None when pruning is
        unsound and the caller must fall back to the full scan: WAP (stages
        read staged snapshots, not the published diff base), no pointer
        yet, pointer token drift (a state-column migration must
        re-fingerprint everything), expired diff base (GC race), or a
        rollback sentinel awaiting heal (its day may be bit-unchanged
        upstream yet still must re-roll)."""
        if self.wap:
            return None
        store = self._store(self.table_path(upstream))
        cur = store.current_id()
        if cur is None:
            return None
        rec = self._reconciled(stage)
        if rec is None or rec[1] != self._day_token:
            return None
        sid = rec[0]
        if not os.path.isdir(store.snapshot_path(sid)):
            return None
        # rollback sentinel awaiting heal? — driver-side latest-map lookup
        # (no Spark job; the manifest is a memoized local table)
        if self.ROLLED_BACK in self.manifest.latest_map(stage).values():
            return None
        if sid == cur:
            return []
        d = store.diff(sid, cur)
        # a removed day changes its month: the month-keyed stages must
        # re-fingerprint it (a day-keyed stage finds no rows for it and
        # leaves it to stale detection)
        return sorted(
            {p.split("=", 1)[1]
             for p in d["added"] + d["rewritten"] + d["removed"]}
        )

    def _upstream_day_inventory(self, upstream: str) -> list[str]:
        """Every day value present in `upstream`'s current snapshot — a
        directory listing, no data reads; feeds stale detection when the
        work manifest is pruned (absence from a pruned work manifest must
        not read as deletion)."""
        store = self._store(self.table_path(upstream))
        snap = store.snapshot_path(store.current_id())
        return sorted(
            d.split("=", 1)[1]
            for d in os.listdir(snap)
            if os.path.isdir(os.path.join(snap, d))
        )

    def _run_stage(
        self,
        stage: str,
        run_id: str,
        work: DataFrame,  # work_manifest: partition_key, rows_in, input_snapshot_id
        build,  # pending key list -> output DF
        out_path: str,
        partition_cols: list[str],
        lineage: str,
        protect: set[str] | None = None,
        inventory: list[str] | None = None,
        budget: int | None = None,
        left: dict | None = None,
        deferred: dict | None = None,
        hold: set[str] | None = None,
    ) -> int:
        """Run one stage exactly once per pending partition.

        Cost model (the whole point of this structure): the stage transform
        is computed a single time — by the write. Per-key rows_in and the
        input fingerprint come from the `work` manifest scan (one shuffle-
        light partial aggregate over the input); rows_out comes from the
        parquet footers of the partitions just written, read driver-side
        (`_rows_out`: no Spark job). Nothing collects the transformed data
        to the driver.

        `budget` bounds the pending batch: at most `budget` keys (sorted by
        partition_key — oldest-first: every stage is keyed by day or
        month) are built this run; the remainder stays
        PENDING in the manifest and `left[stage]` reports the deferral so
        the caller knows to run again; `deferred[stage]` lists the deferred
        keys. Pending keys in `hold` (months an upstream stage deferred days
        of this run) that were built before wait like budget-deferred ones:
        rebuilt now, they would be rebuilt again once those days land. A
        key never built is built at once, so every table exists from the
        first increment on. Stale-input drops are never budgeted or held
        (they are metadata-priced and deferring a deletion is a correctness
        hazard, not a cost saving).

        Resume-algebra cost (round 6): the work manifest is evaluated by
        exactly ONE Spark job (the collect below, or the caller's when it
        passes pre-collected rows); stale detection and the pending/latest
        comparison run driver-side against the memoized local manifest —
        previously each stage paid the input aggregation twice plus four
        metadata-join jobs, which dominated a no-op resume.
        """
        t0 = time.monotonic()
        work_rows = work if isinstance(work, list) else work.collect()
        self._drop_stale(
            stage, run_id, work_rows, out_path, partition_cols[0], lineage,
            protect, inventory=inventory,
        )
        pending = pending_rows(work_rows, self.manifest, stage)
        if hold:
            built = self.manifest.latest_map(stage)
            hold = {k for k in hold if k in built}
            n_held = sum(r["partition_key"] in hold for r in pending)
            pending = [r for r in pending if r["partition_key"] not in hold]
            if n_held and left is not None:
                left[stage] = n_held
        if not pending:
            return 0
        if budget is not None:
            pending.sort(key=lambda r: r["partition_key"])
            if len(pending) > budget:
                if left is not None:
                    left[stage] = left.get(stage, 0) + len(pending) - budget
                if deferred is not None:
                    deferred[stage] = [
                        r["partition_key"] for r in pending[budget:]
                    ]
                pending = pending[:budget]
        keys = [r["partition_key"] for r in pending]
        out = build(keys)
        self._write_table(out, out_path, partition_cols)
        rows_out = self._rows_out(
            out_path, partition_cols[0], [k.split("=", 1)[1] for k in keys]
        )
        wall = int((time.monotonic() - t0) * 1000)
        self._commit(
            [
                {
                    "run_id": run_id,
                    "stage": stage,
                    "partition_key": r["partition_key"],
                    "rows_in": r["rows_in"],
                    "rows_out": rows_out.get(r["partition_key"].split("=", 1)[1], 0),
                    "wall_ms": wall,
                    "lineage": lineage,
                    "input_snapshot_id": r["input_snapshot_id"],
                    "output_snapshot_id": out_path,
                }
                for r in pending
            ]
        )
        return len(keys)

    def _rows_out(self, path: str, part: str, vals: list[str]) -> dict[str, int]:
        """Rows now in each `part=<val>` partition of the table at `path`
        (this run's staged snapshot inside WAP), from the parquet file
        footers."""
        store = self._store(path)
        snap = store.snapshot_path(self._staged.get(path) or store.current_id())
        return eio.partition_row_counts(snap, part, vals)

    def _drop_stale(
        self,
        stage: str,
        run_id: str,
        work_rows: list,
        out_path: str,
        part: str,
        lineage: str,
        protect: set[str] | None = None,
        inventory: list[str] | None = None,
    ) -> int:
        """Invalidate committed outputs whose input partitions vanished
        (ADVICE r2): a fully-deleted input day or month produces no
        work row, so `pending_partitions` never re-rolls it — drop its output
        partition directory and commit a DELETED_SNAPSHOT row. Resurrection
        re-rolls automatically (the sentinel matches no real fingerprint).
        Driver-side loop is bounded by partition count, never data.
        `protect` exempts keys deliberately absent from the work manifest
        (frozen months finalized by daily retention).

        One CoW snapshot drops the whole stale batch atomically; the
        pre-drop state stays time-travelable until expired. In WAP the drop
        lands in this run's staged snapshot (created here if the stage
        hasn't staged yet) and publishes only at the seal."""
        if inventory is not None:
            # pruned work manifests omit unchanged partitions — absence
            # must not read as deletion, so stale detection runs against
            # the upstream's FULL key inventory (already-prefixed
            # partition_key strings from a directory listing)
            keys = set(inventory)
        else:
            keys = {r["partition_key"] for r in work_rows}
        stale = stale_keys(keys, self.manifest, stage)
        if protect:
            stale = [k for k in stale if k not in protect]
        if not stale:
            return 0
        doomed_dirs = [f"{part}={key.split('=', 1)[1]}" for key in stale]
        rows = [
            {
                "run_id": run_id,
                "stage": stage,
                "partition_key": key,
                "rows_in": 0,
                "rows_out": 0,
                "lineage": lineage,
                "input_snapshot_id": DELETED_SNAPSHOT,
                "output_snapshot_id": out_path,
            }
            for key in stale
        ]
        store = self._store(out_path)
        if self._wap_active:
            import shutil

            sid = self._staged.get(out_path)
            if sid is None:
                sid = store.begin("wap-staged")
                self._staged[out_path] = sid
            for d in doomed_dirs:
                shutil.rmtree(
                    os.path.join(store.snapshot_path(sid), d),
                    ignore_errors=True,
                )
        else:
            store.drop_partitions(doomed_dirs, op="stale-input")
        self._commit(rows)
        return len(rows)

    def _retention_dropped(self, lineage: str) -> set[str]:
        """Partition keys removed from `lineage`'s table by a retention
        drop (manifest stage='retention') — protected from _drop_stale.
        Driver-side over the memoized manifest frame: no Spark job."""
        m = self.manifest.read_pandas()
        hit = (m["stage"] == "retention") & (m["lineage"] == lineage)
        return set(m.loc[hit, "partition_key"])

    # -- stages --------------------------------------------------------------
    ALL_STAGES = ("hourly", "daily", "monthly", "compress")

    def run(
        self,
        t0: DataFrame,
        run_id: str | None = None,
        stages=None,
        budget: int | None = None,
    ) -> dict:
        """Run the batch job. `stages` limits execution to a prefix of
        ALL_STAGES (used by tests to simulate a kill between stages; a later
        run resumes from the manifest); a "gapfill" entry, the stage earlier
        versions ran before compress, is accepted and ignored. Gap-fill is
        served on read (`TierEngine.serve_gapfill`). In WAP mode the whole
        run stages unpublished and seals atomically in `_finish_run`; any
        exception — including an audit veto — aborts with published tables
        and the manifest untouched.

        `budget` caps how many pending partitions EACH stage builds this
        run (oldest-first); the rest stays pending and is reported in the
        result's `left` map. The monthly tier and the chunks build a month
        when its first days land and again in the run in which its last
        deferred day lands, not in every increment between. This is how a
        10^12-turn historical backfill runs: bounded, checkpointed
        increments that each publish a consistent prefix, instead of one
        job that must survive to the end.
        Repeated budgeted runs converge to the exact state of one unbudgeted
        run (fingerprints, not budget bookkeeping, decide what is pending).

        A run lease (engine/lease.py) serializes writers per root: a second
        concurrent run raises LeaseHeldError instead of double-writing the
        same pending partitions; crashed holders are broken as stale.

        Outside WAP mode the monthly stage and the series stage (compress)
        run concurrently, so a monthly failure does not stop the series
        stage from committing; the run then raises the monthly error
        (chaining a series error, if both failed)."""
        if budget is not None and budget < 1:
            raise ValueError("budget must be >= 1 partition per stage")
        if self.use_lease:
            with self.lease():
                return self._run_locked(t0, run_id, stages, budget)
        return self._run_locked(t0, run_id, stages, budget)

    def run_until_complete(
        self,
        t0: DataFrame,
        budget: int,
        max_runs: int = 1000,
        run_id: str | None = None,
    ) -> list[dict]:
        """Drive budgeted runs until nothing is left pending (a bounded
        backfill orchestrator: each iteration is one crash-recoverable
        increment). Returns every run's result dict, in order.

        Scale note: every increment re-fingerprints the RAW input (one
        count+hash agg pass — the external-input late-data contract;
        derived stages prune via the snapshot changelog), so R increments
        cost R raw fingerprint scans on top of the bounded build work.
        That pass is a cheap columnar aggregation, but at extreme scale
        size `budget` so increments are few-and-large rather than
        many-and-tiny. Do NOT feed partial time slices to successive
        calls: a day absent from the presented input reads as vanished
        and its committed partitions are dropped as stale — the input
        contract is always the full (append-only growing) table."""
        results = []
        for i in range(max_runs):
            rid = f"{run_id}-{i:04d}" if run_id else None
            res = self.run(t0, run_id=rid, budget=budget)
            results.append(res)
            if not res["left"]:
                return results
        raise RuntimeError(
            f"backfill did not converge within {max_runs} budgeted runs"
        )

    def lease(self):
        """The root's writer lease — lifecycle operations running OUTSIDE
        run() (retention sweeps, compaction) can serialize against runs
        with ``with pipe.lease(): ...``."""
        from .lease import RunLease

        return RunLease(self.root, ttl_s=self.lease_ttl_s)

    def compact_manifest(self, prune_superseded: bool = False) -> dict:
        """Rewrite the manifest's accumulated commit files into one (see
        Manifest.compact). Serialized against runs by the writer lease —
        a reader racing the rename/unlink window could otherwise see
        duplicated rows (harmless but unclean) or a torn file list."""
        if self.use_lease:
            with self.lease():
                return self.manifest.compact(prune_superseded)
        return self.manifest.compact(prune_superseded)

    def _run_locked(
        self,
        t0: DataFrame,
        run_id: str | None = None,
        stages=None,
        budget: int | None = None,
    ) -> dict:
        self._migrate_chunks(run_id)
        if self.wap:
            self._begin_wap()
            try:
                return self._run_impl(t0, run_id, stages, budget)
            except Exception:
                self._abort_wap()
                raise
        return self._run_impl(t0, run_id, stages, budget)

    def _run_impl(
        self,
        t0: DataFrame,
        run_id: str | None = None,
        stages=None,
        budget: int | None = None,
    ) -> dict:
        stages = tuple(stages or self.ALL_STAGES)
        run_id = run_id or new_run_id()
        t0 = dedup_turns(mask_valid(t0))
        if self.tombstones.has_any():
            # forgotten conversations (engine/forget.py) filter out BEFORE
            # the work manifest, so only days that actually contained them
            # see a fingerprint change; the broadcast anti-join adds no
            # shuffle (the tombstone set is erasure-request-sized)
            t0 = t0.join(
                F.broadcast(self.tombstones.read(self.spark)),
                "conv_id",
                "left_anti",
            )
        t0 = t0.withColumn("bucket_date", F.to_date("ts"))
        # ONE dedup pass per run: dedup_turns is a full-width window shuffle
        # of the raw input, and without pinning it both the day fingerprint
        # scan AND build_hourly would re-execute it (the build's day filter
        # cannot push below the cross-day dedup window). localCheckpoint
        # materializes the deduped rows once; every later consumer filters
        # the pinned partitions (guide §5 — cut lineage when an intermediate
        # is reused; the ingest-once production shape).
        t0 = t0.localCheckpoint()
        done = {}
        scans: dict[str, str] = {}
        # stage -> pending keys deferred past this run's budget. A stage
        # that deferred work must NOT advance its changelog-pruning
        # reconcile pointer below: the pointer asserts "everything changed
        # up to this upstream snapshot is reflected here", which a
        # truncated batch hasn't done — advancing it would prune the
        # deferred keys out of the next run's work manifest forever.
        left: dict[str, int] = {}
        # stage -> the day keys its budget deferred. The month stages hold
        # back rebuilds of the months of those days: while a backfill is
        # still landing a month's days, every increment would otherwise
        # rebuild that month's monthly rows and chunks from a partial
        # input. A month is built when its first days land and again in
        # the run in which its last day lands.
        deferred: dict[str, list[str]] = {}

        def held_months(*upstream: str) -> set[str]:
            return {
                f"month={k.split('=', 1)[1][:7]}"
                for s in upstream
                for k in deferred.get(s, [])
            }

        # 1. raw -> hourly, keyed by day. The state-family specs are part of
        # the fingerprint: turning a family on/off re-rolls each day once.
        day_work = work_manifest(
            t0,
            F.col("bucket_date").cast("string"),
            ["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            "day",
            extra_token=self._day_token,
        )

        def build_hourly(keys):
            days = [k.split("=", 1)[1] for k in keys]
            inp = t0.filter(F.col("bucket_date").cast("string").isin(days))
            salted = self.salted
            if salted == "auto":
                # measurement-driven dispatch (engine/autoskew.py): both
                # paths are bit-identical, so the decision never enters a
                # fingerprint — only cost is at stake. Reported per run.
                from .autoskew import choose_salted

                salted, st = choose_salted(inp, **self.auto_salt_opts)
                scans["salt_auto"] = (
                    f"{'salted' if salted else 'plain'}"
                    f" ratio={st['ratio']:.1f} hot_est={st['hot_est']}"
                )
            roll = rollup_hourly(
                inp,
                n_salts=self.n_salts if salted else None,
                **{f.kwarg: getattr(self, f.kwarg) for f in FAMILIES},
            )
            if self.fill_tiers:
                roll = densify_hourly_locf(roll)
            return roll.withColumns(
                {
                    "bucket_date": F.to_date("bucket_start"),
                    "conv_bucket": _conv_bucket(),
                }
            )

        done["hourly"] = self._run_stage(
            "hourly", run_id, day_work, build_hourly,
            self.tier_path("hourly"), self.hourly_partition_cols(), "raw",
            budget=budget, left=left, deferred=deferred,
        )
        if "daily" not in stages:
            return self._finish_run(run_id, done, scans, left)

        # 2. hourly -> daily, keyed by day (observed rows only: gap-filled
        # tier rows carry copied state and must not feed upward aggregation).
        # Days the RETENTION policy removed from the hourly tier are
        # protected from the stale-input cascade: their input vanished by
        # policy, not by data deletion, and their committed daily rollup is
        # exactly what retention preserves.
        hourly = observed_state(self.read_tier("hourly"))
        changed_h = self._changed_upstream_days("daily", "hourly")
        daily_inv = None
        work_src = hourly
        if changed_h is not None:
            daily_inv = [
                f"day={v}" for v in self._upstream_day_inventory("hourly")
            ]
            work_src = hourly.filter(
                F.col("bucket_date").cast("string").isin(changed_h)
            )
            scans["daily"] = f"pruned:{len(changed_h)}/{len(daily_inv)}"
        else:
            scans["daily"] = "full"
        daily_work = work_manifest(
            work_src, F.col("bucket_date").cast("string"),
            self._tier_hash_cols(), "day",
        )
        retained_days = self._retention_dropped("hourly")

        def build_daily(keys):
            days = [k.split("=", 1)[1] for k in keys]
            inp = hourly.filter(F.col("bucket_date").cast("string").isin(days))
            return rollup_up(inp, "daily").withColumns(
                {
                    "bucket_date": F.to_date("bucket_start"),
                    "conv_bucket": _conv_bucket(),
                }
            )

        done["daily"] = self._run_stage(
            "daily", run_id, daily_work, build_daily,
            self.tier_path("daily"), ["bucket_date"], "hourly",
            protect=retained_days,
            inventory=daily_inv,
            budget=budget, left=left, deferred=deferred,
        )
        if not self.wap and not left.get("daily"):
            cur_h = self._store(self.table_path("hourly")).current_id()
            if cur_h is not None:
                self._record_reconciled("daily", cur_h)
        if "monthly" not in stages:
            return self._finish_run(run_id, done, scans, left)

        # 3. daily -> monthly, keyed by month. Months finalized by daily
        # retention are FROZEN: their daily days are gone, so a re-roll
        # would aggregate a partial month — excluded from the work manifest
        # (never pending, never stale-dropped) and surfaced to the caller.
        from .retention import frozen_months

        daily = self.read_tier("daily")
        month_of = F.date_format("bucket_start", "yyyy-MM")
        changed_d = self._changed_upstream_days("monthly", "daily")
        month_inv = None
        month_src = daily
        if changed_d is not None:
            changed_months = sorted({d[:7] for d in changed_d})
            month_inv = sorted(
                {f"month={d[:7]}"
                 for d in self._upstream_day_inventory("daily")}
            )
            month_src = daily.filter(month_of.isin(changed_months))
            scans["monthly"] = (
                f"pruned:{len(changed_months)}/{len(month_inv)}"
            )
        else:
            scans["monthly"] = "full"
        month_work = work_manifest(
            month_src, month_of, self._tier_hash_cols(), "month"
        )
        frozen = frozen_months(self.manifest)
        month_work = month_work.collect()
        if frozen:
            pend_frozen = {
                r["partition_key"].split("=", 1)[1]
                for r in pending_rows(month_work, self.manifest, "monthly")
            } & frozen
            if pend_frozen:
                done["frozen_skipped"] = sorted(pend_frozen)
            frozen_keys = {f"month={m}" for m in frozen}
            month_work = [
                r for r in month_work if r["partition_key"] not in frozen_keys
            ]

        def build_monthly(keys):
            months = [k.split("=", 1)[1] for k in keys]
            inp = daily.filter(month_of.isin(months))
            return rollup_up(inp, "monthly").withColumns(
                {
                    "bucket_month": F.date_format("bucket_start", "yyyy-MM"),
                    "conv_bucket": _conv_bucket(),
                }
            )

        def monthly_stage() -> int:
            n = self._run_stage(
                "monthly", run_id, month_work, build_monthly,
                self.tier_path("monthly"), ["bucket_month"], "daily",
                protect={f"month={m}" for m in frozen},
                inventory=month_inv,
                budget=budget, left=left,
                hold=held_months("hourly", "daily"),
            )
            if not self.wap and not left.get("monthly"):
                cur_d = self._store(self.table_path("daily")).current_id()
                if cur_d is not None:
                    self._record_reconciled("monthly", cur_d)
            return n

        if "compress" not in stages:
            done["monthly"] = monthly_stage()
            return self._finish_run(run_id, done, scans, left)

        # 4. compress, keyed by month (observed rows only): a chunk is one
        # month of one (conv, metric) series, so a month's chunks read only
        # that month's hourly days. The work manifest is pruned to the
        # months of changed hourly days, like the monthly stage.
        def series_stage() -> dict:
            hourly = observed_state(self.read_tier("hourly"))
            changed = self._changed_upstream_days("compress", "hourly")
            inv = None
            src = hourly
            if changed is not None:
                months = sorted({d[:7] for d in changed})
                inv = sorted(
                    {f"month={d[:7]}"
                     for d in self._upstream_day_inventory("hourly")}
                )
                src = hourly.filter(_day_month().isin(months))
                scans["series"] = f"pruned:{len(months)}/{len(inv)}"
            else:
                scans["series"] = "full"
            # an unchanged hourly snapshot needs no scan at all
            work = [] if changed == [] else work_manifest(
                src, _day_month(), _STATE_HASH_COLS, "month"
            )

            def build_compress(keys):
                months = [k.split("=", 1)[1] for k in keys]
                inp = hourly.filter(_day_month().isin(months))
                return make_chunks(hourly_series(inp), tier="hourly").withColumn(
                    CHUNK_PART, _chunk_month()
                )

            n = self._run_stage(
                "compress", run_id, work, build_compress,
                self.chunks_path, [CHUNK_PART], "hourly",
                inventory=inv,
                budget=budget, left=left,
                hold=held_months("hourly"),
            )
            if not self.wap and not left.get("compress"):
                cur_h = self._store(self.table_path("hourly")).current_id()
                if cur_h is not None:
                    self._record_reconciled("compress", cur_h)
            return {"compress": n}

        # The monthly stage reads only the DAILY tier; the series stage
        # reads only the HOURLY tier and writes its own table — the two
        # legs share no data dependency, so overlap them (guide §2.6:
        # Spark's scheduler runs concurrent driver-thread jobs fine, and
        # the second leg's tasks back-fill the first leg's stragglers).
        # Shared driver state is thread-safe by construction: manifest
        # commits are one-immutable-file-per-commit, done/scans/left
        # writes touch disjoint keys, and the tables/stores are disjoint
        # paths. WAP runs keep the serial order: staged-snapshot
        # bookkeeping (_staged/_buffered_rows) is
        # deliberately not made concurrent.
        if self.wap:
            done["monthly"] = monthly_stage()
            done.update(series_stage())
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                mf = ex.submit(monthly_stage)
                sf = ex.submit(series_stage)
                # wait on both legs; when both fail, the monthly error
                # (first in stage order) propagates with the series error
                # as its __context__
                try:
                    series_done = sf.result()
                finally:
                    done["monthly"] = mf.result()
            done.update(series_done)

        return self._finish_run(run_id, done, scans, left)

    # -- EP3: SQL over continuous aggregates ---------------------------------
    def register_views(self):
        for tier in ("hourly", "daily", "monthly"):
            if self._store(self.tier_path(tier)).current_id() is None:
                continue
            tier_view(self.read_tier(tier), tier).createOrReplaceTempView(
                f"tiers_{tier}"
            )
