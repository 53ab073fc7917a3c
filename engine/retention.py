"""Retention + compaction (SURVEY.md L1/L2).

BASELINE.json:6: "Retention policies drop raw tiers after downsampling while
continuous aggregates remain queryable via Spark SQL."

Safety rule (SURVEY.md §7.3): a partition may be dropped only when its
*entire* downstream lineage is manifest-committed — e.g. an hourly
bucket_date partition needs its 'daily' day commit AND the 'monthly' commit
of its month AND the current compress commit of its month (the month's
chunks keep the dropped days' series: `serve_series` and `serve_gapfill`
decode them).
A drop publishes a snapshot of the table without the partition (Iceberg
``DELETE FROM ... WHERE``); the files go when that partition's last
snapshot is expired (``expire_snapshots``, which a ``snapshots=False``
pipeline runs after every drop). The manifest records the drop so resume
never re-creates it. Compaction, too, publishes one new snapshot: there is
no in-place rewrite and nothing to heal after a crash.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .checkpoint import DELETED_SNAPSHOT, Manifest, pending_rows, work_manifest
from .io import read_pointer
from .pipeline import _STATE_HASH_COLS, CHUNK_PART, TierPipeline, _day_month
from .rollup import observed_state


class RetentionError(RuntimeError):
    pass


def _existing_parts(pipe: TierPipeline, table_path: str, dirnames: list[str]) -> list[str]:
    """Partition dirnames present in the table's published snapshot."""
    store = pipe._store(table_path)
    cur = store.current_id()
    if cur is None:
        return []
    base = store.snapshot_path(cur)
    return [d for d in dirnames if os.path.isdir(os.path.join(base, d))]


def _remove_parts(pipe: TierPipeline, table_path: str, dirnames: list[str]) -> None:
    """Drop partition dirs: one CoW snapshot without them — concurrent
    readers keep their pinned view and the pre-drop state stays
    time-travelable until expired."""
    if dirnames:
        pipe._store(table_path).drop_partitions(dirnames, op="retention")


def _committed(manifest: Manifest, stage: str) -> set[str]:
    """Key values ever committed for `stage`. Driver-side over the memoized
    manifest frame: no Spark job."""
    m = manifest.read_pandas()
    return {k.split("=", 1)[1] for k in m.loc[m["stage"] == stage, "partition_key"]}


def droppable_hourly_days(pipe: TierPipeline, older_than: str) -> list[str]:
    """Days strictly older than `older_than` (YYYY-MM-DD) whose full lineage
    chain is committed: the day's daily rollup, its month's monthly rollup
    and its month's chunks (latest compress commit a real fingerprint)."""
    m = pipe.manifest
    daily = _committed(m, "daily")
    monthly = _committed(m, "monthly")
    hourly = _committed(m, "hourly")
    chunked = {
        k.split("=", 1)[1]
        for k, s in m.latest_map("compress").items()
        if k.startswith("month=") and s not in Manifest.SENTINELS
    }
    return [
        day
        for day in sorted(hourly)
        if day < older_than
        and day in daily
        and day[:7] in monthly
        and day[:7] in chunked
    ]


def drop_hourly_partitions(
    pipe: TierPipeline, days: list[str], run_id: str, force: bool = False
) -> list[str]:
    """L1: delete hourly bucket_date partitions. Refuses (RetentionError)
    when a requested day's lineage is not fully committed, unless forced."""
    pipe._migrate_chunks(run_id)
    safe = set(droppable_hourly_days(pipe, older_than="9999-12-31"))
    for day in days:
        if day not in safe and not force:
            raise RetentionError(
                f"refusing to drop hourly day={day}: downstream rollup not "
                "manifest-committed"
            )
    table = pipe.tier_path("hourly")
    existing = _existing_parts(pipe, table, [f"bucket_date={d}" for d in days])
    dropped = [d.split("=", 1)[1] for d in existing]
    if dropped:
        # the manifest records the drop before the snapshot loses the
        # days: a crash in between leaves them present, so a rerun drops
        # them again (the repeated rows are idempotent), while a crash
        # after the publish leaves nothing for a rerun to redo
        pipe.manifest.commit(
            [
                {
                    "run_id": run_id,
                    "stage": "retention",
                    "partition_key": f"day={d}",
                    "lineage": "hourly",
                }
                for d in dropped
            ]
            + _series_recommit_rows(pipe, run_id, dropped)
        )
        _remove_parts(pipe, table, existing)
        pipe._trim_history()
    return dropped


def _series_recommit_rows(
    pipe: TierPipeline, run_id: str, dropped: list[str]
) -> list[dict]:
    """For an hourly retention drop of the `dropped` days, the compress
    manifest rows that re-commit their months with fingerprints computed
    over the REMAINING hourly days. Without this the next run's fingerprint
    diff would read the horizon truncation as late data and re-roll those
    months' chunks from the partial input — overwriting archived
    full-month chunks with truncated ones. With it, an unchanged input
    skips cleanly; genuinely new post-drop data in such a month still
    re-rolls it (which then regenerates from the remaining days only —
    documented loss of pre-horizon series points, and so of served
    gap-fill rows, for that actively-changing month)."""
    months = sorted({d[:7] for d in dropped})
    hourly = observed_state(pipe.read_tier("hourly")).filter(
        ~F.col("bucket_date").cast("string").isin(dropped)
    )
    work = work_manifest(
        hourly.filter(_day_month().isin(months)), _day_month(),
        _STATE_HASH_COLS, "month",
    ).collect()
    work_keys = {r["partition_key"] for r in work}
    committed = _committed(pipe.manifest, "compress")
    rows = [
        {
            "run_id": run_id,
            "stage": "compress",
            "partition_key": r["partition_key"],
            "rows_in": r["rows_in"],
            "lineage": "hourly-retention-recommit",
            "input_snapshot_id": r["input_snapshot_id"],
        }
        for r in work
        if r["partition_key"].split("=", 1)[1] in committed
    ]
    # months whose EVERY hourly day was dropped have no work row left;
    # the DELETED sentinel (archive lineage) exempts their chunk
    # partitions from the stale-input cascade — the archived series
    # outlives its raw tier, which is the entire point of retention —
    # while still re-rolling the month if data for it ever arrives again.
    rows += [
        {
            "run_id": run_id,
            "stage": "compress",
            "partition_key": f"month={m}",
            "lineage": "hourly-retention-archive",
            "input_snapshot_id": DELETED_SNAPSHOT,
        }
        for m in months
        if m in committed and f"month={m}" not in work_keys
    ]
    return rows


def droppable_daily_days(pipe: TierPipeline, older_than: str) -> list[str]:
    """Daily bucket_date partitions strictly older than `older_than` whose
    month has a committed monthly rollup — the tier-lifecycle completion
    (VERDICT r2 item 9): hourly days drop once daily+monthly+series stages
    commit (L1), daily days drop once their month commits."""
    m = pipe.manifest
    daily = _committed(m, "daily")
    monthly = _committed(m, "monthly")
    return [
        d for d in sorted(daily) if d < older_than and d[:7] in monthly
    ]


def drop_daily_partitions(
    pipe: TierPipeline, days: list[str], run_id: str, force: bool = False
) -> list[str]:
    """Drop daily bucket_date partitions whose month is monthly-committed,
    and FREEZE those months: a monthly re-roll needs every sibling day of
    the month, so once any day is retention-dropped the month's aggregate
    is final — late raw data for a frozen month is refused (recorded in the
    pipeline result as `frozen_skipped`), never silently rolled up from a
    partial month. This is the continuous-aggregate finalization rule:
    retention of the lower tier freezes the upper one."""
    pipe._migrate_chunks(run_id)
    safe = set(droppable_daily_days(pipe, older_than="9999-12-31"))
    for day in days:
        if day not in safe and not force:
            raise RetentionError(
                f"refusing to drop daily day={day}: monthly rollup not "
                "manifest-committed"
            )
    table = pipe.tier_path("daily")
    existing = _existing_parts(pipe, table, [f"bucket_date={d}" for d in days])
    _remove_parts(pipe, table, existing)
    dropped = [d.split("=", 1)[1] for d in existing]
    if dropped:
        rows = [
            {
                "run_id": run_id,
                "stage": "retention",
                "partition_key": f"day={d}",
                "lineage": "daily",
            }
            for d in dropped
        ]
        rows += [
            {
                "run_id": run_id,
                "stage": "frozen",
                "partition_key": f"month={m}",
                "lineage": "daily-retention",
            }
            for m in sorted({d[:7] for d in dropped})
        ]
        pipe.manifest.commit(rows)
        pipe._trim_history()
    return dropped


def frozen_months(manifest: Manifest) -> set[str]:
    """Months finalized by daily retention — excluded from monthly re-rolls.
    Driver-side over the memoized manifest frame: no Spark job."""
    m = manifest.read_pandas()
    return {k.split("=", 1)[1] for k in m.loc[m["stage"] == "frozen", "partition_key"]}


def droppable_chunk_months(pipe: TierPipeline) -> list[str]:
    """Months of the chunks table ('compress') safe to expire: committed
    AND not pending (a month whose hourly input changed is mid re-roll —
    dropping it would race the rewrite). Retention of cold chunk months;
    if an expired month's hourly input changes, the fingerprint diff
    re-rolls it and the partition reappears — that resurrection is the
    intended semantics for activity-based retention."""
    hourly = observed_state(pipe.read_tier("hourly"))
    work = work_manifest(hourly, _day_month(), _STATE_HASH_COLS, "month")
    pending = {
        r["partition_key"]
        for r in pending_rows(work.collect(), pipe.manifest, "compress")
    }
    m = pipe.manifest.read_pandas()
    return sorted(
        k.split("=", 1)[1]
        for k in set(m.loc[m["stage"] == "compress", "partition_key"])
        if k.startswith("month=") and k not in pending
    )


def drop_chunk_months(
    pipe: TierPipeline,
    months: list[str],
    run_id: str,
    force: bool = False,
) -> list[str]:
    """Expire month partitions (YYYY-MM) of the chunks ('compress') table.
    Refuses while the month is pending re-roll unless forced; the drop is
    manifest-recorded (stage='retention') and survives reruns — an
    unchanged input fingerprint keeps the partition dropped, a changed one
    regenerates it."""
    pipe._migrate_chunks(run_id)
    safe = set(droppable_chunk_months(pipe))
    for month in months:
        if month not in safe and not force:
            raise RetentionError(
                f"refusing to drop compress month={month}: month is pending "
                "re-roll or was never committed"
            )
    table_path = pipe.chunks_path
    existing = _existing_parts(
        pipe, table_path, [f"{CHUNK_PART}={m}" for m in months]
    )
    _remove_parts(pipe, table_path, existing)
    dropped = [d.split("=", 1)[1] for d in existing]
    if dropped:
        pipe.manifest.commit(
            [
                {
                    "run_id": run_id,
                    "stage": "retention",
                    "partition_key": f"month={m}",
                    "lineage": "compress",
                }
                for m in dropped
            ]
        )
        pipe._trim_history()
    return dropped


def compact_partition(
    pipe: TierPipeline,
    tier: str,
    n_files: int = 1,
    sort_by: tuple[str, ...] = (),
    rowgroup_bytes: int | None = None,
    zorder: tuple[str, str] | None = None,
) -> None:
    """L2: rewrite a tier table — or the 'compress' (chunks) series table,
    keyed by chunk_month — into ~n_files per partition
    (small-file compaction; Iceberg's rewrite_data_files equivalent).

    `sort_by` is Iceberg's rewrite-with-sort-order: rows are clustered by
    the given columns WITHIN each output file, so parquet row-group min/max
    stats become disjoint ranges on the leading sort column and a point
    lookup (`conv_id = X`) or series range scan skips every non-matching
    row group at footer level — the read-side payoff that makes periodic
    compaction worth its write cost on a 100-TB series store.
    `rowgroup_bytes` tunes parquet.block.size for the rewrite (smaller row
    groups = finer skipping granularity at slightly more footer overhead).

    `zorder` (mutually exclusive with `sort_by`) is the multi-dimensional
    variant — Iceberg's rewrite ZORDER strategy: rows cluster on a Morton
    interleave of the two columns' rank positions (engine/zorder.py), so
    row-group min/max stats prune on EITHER dimension (conv point lookups
    AND cross-conversation time-range scans), where a linear sort prunes
    only its leading column.

    Shuffle key is (partition value, salt∈[0,n_files)) so every partition
    spreads over ~n_files independent tasks/files — plain
    repartition(n, part_col) would funnel each partition value through ONE
    task and serialize unrelated partitions through n tasks.

    The rewrite reads the published snapshot and writes a fresh one, then
    an atomic pointer flip publishes it — the Iceberg rewrite_data_files +
    snapshot-commit shape. Concurrent readers keep their pinned
    pre-compaction view, no path is ever absent, and a crash before the
    flip leaves the table as it was.
    """
    pipe._migrate_chunks()
    if tier == "compress":
        path, part_cols = pipe.chunks_path, [CHUNK_PART]
    elif tier == "monthly":
        path, part_cols = pipe.tier_path(tier), ["bucket_month"]
    elif tier == "hourly":
        # respect the pipeline's partition-spec version: compacting an
        # evolved (day, conv_bucket) tier must not silently rewrite it
        # back to day-only dirs
        path, part_cols = pipe.tier_path(tier), pipe.hourly_partition_cols()
    else:
        path, part_cols = pipe.tier_path(tier), ["bucket_date"]
    salt = F.pmod(F.xxhash64("conv_id"), F.lit(n_files))
    if zorder and sort_by:
        raise ValueError("zorder and sort_by are mutually exclusive")

    def _rewrite(df, dest):
        cols = df.columns
        if zorder:
            from .zorder import with_zorder_key

            df = with_zorder_key(df, zorder)
        out = df.repartition(*[F.col(c) for c in part_cols], salt)
        if zorder:
            out = out.sortWithinPartitions(*part_cols, "__z").select(*cols)
        elif sort_by:
            out = out.sortWithinPartitions(*part_cols, *sort_by)
        w = out.write.option("partitionOverwriteMode", "dynamic")
        if rowgroup_bytes:
            w = w.option("parquet.block.size", rowgroup_bytes)
        w.partitionBy(*part_cols).mode("overwrite").parquet(dest)

    store = pipe._store(path)
    df = store.read(pipe.spark)
    sid = store.begin("compact")
    try:
        _rewrite(df, store.snapshot_path(sid))
    except Exception:
        store.abort(sid)
        raise
    store.publish(sid)
    pipe._trim_history()


def retention_status(pipe: TierPipeline) -> dict:
    """Summary for ops: per-stage committed partition counts + dropped days.
    Driver-side over the memoized manifest frame: no Spark job."""
    m = pipe.manifest.read_pandas()
    return {
        str(stage): int(n)
        for stage, n in m.groupby("stage")["partition_key"].nunique().items()
    }


def expire_snapshots(
    pipe: TierPipeline,
    keep_last: int = 1,
    protect_runs: list[str] | None = None,
    consumers: list | None = None,
) -> dict[str, list[str]]:
    """Iceberg `expire_snapshots`: GC retained snapshot trees across every
    pipeline table, keeping the newest `keep_last` per table (the published
    one always survives). File data is freed when its last hardlink goes,
    so a partition rewritten N runs ago but unchanged since keeps exactly
    one physical copy no matter how many snapshots referenced it. A
    `snapshots=False` pipeline calls this with keep_last=1 after every
    write-side operation (`TierPipeline._trim_history`).

    Referenced snapshots are protected even below keep_last (ADVICE r3):
    - the newest sealed run barrier's ids (the default `read_consistent()` /
      `rollback_run` target) always survive;
    - `protect_runs` pins additional sealed runs by id;
    - `consumers` (IncrementalConvSummary instances or their paths) pin each
      consumer's _CONSUMED hourly snapshot so its next refresh stays
      incremental instead of silently degrading to a full rebuild."""
    protected: dict[str, set] = {}

    def _protect(table: str, sid: str | None) -> None:
        if sid:
            protected.setdefault(table, set()).add(sid)

    try:
        for name, sid in pipe.run_snapshots().items():
            _protect(name, sid)
    except ValueError:
        pass  # no sealed runs yet
    for rid in protect_runs or []:
        for name, sid in pipe.run_snapshots(rid).items():
            _protect(name, sid)
    for c in consumers or []:
        if isinstance(c, str):
            _protect("hourly", read_pointer(os.path.join(c, "_CONSUMED")))
        else:
            _protect("hourly", c.consumed_id())
    out = {}
    for name in pipe.TABLE_NAMES:
        store = pipe._store(pipe.table_path(name))
        if store.current_id() is not None:
            out[name] = store.expire(
                keep_last=keep_last, protected=protected.get(name, set())
            )
    return out
