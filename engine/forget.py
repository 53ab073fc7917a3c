"""Right-to-be-forgotten: targeted conversation deletion through every
engine-owned materialization (SURVEY.md §2 L — lifecycle; the transcripts
analogue of a GDPR/CCPA erasure request hitting a 100-TB training-data
pipeline).

Two composing mechanisms, both O(affected partitions), never O(table):

1. **Tombstones** (`TombstoneStore`, `<root>/_tombstones/`): an append-only
   conv_id set, written exactly like manifest commits (immutable parquet
   file + atomic rename). `TierPipeline._run_impl` anti-joins the input
   against it at ingest, which changes the input FINGERPRINT of exactly the
   days that contained a tombstoned conversation — the ordinary resume
   machinery (`pending_partitions`) then re-rolls those days through every
   downstream tier, the stale-input sweep (`stale_partitions`) drops days
   whose rows all belonged to deleted conversations, and untouched days
   keep byte-identical fingerprints and are skipped. No sentinel writes, no
   special cascade: deletion IS an input change. Because the filter runs on
   every ingest, late-arriving data for a tombstoned conversation can never
   resurrect it.

2. **Surgical sweep** (`forget_sweep`): partitions that can no longer be
   re-rolled from raw input — hourly days removed by retention, daily days
   frozen after their month committed — still hold the conversation's tier
   rows. Every engine table is conv-keyed (one row per (conv_id, bucket) /
   (conv_id, chunk)), so a per-partition anti-join rewrite is row-exact:
   no aggregate re-derivation, no contribution subtraction. The sweep
   discovers affected partitions with one semi-join scan per table, then
   rewrites only those partitions into one CoW snapshot per table and
   drops partitions left empty, committing `stage='forget'` manifest rows
   for lineage.

Scale notes: the tombstone set is erasure-request-sized (humans, not data)
— it broadcasts; if it ever outgrew the broadcast threshold, removing the
hint degrades to a shuffled anti-join with identical semantics. The sweep's
driver-side loop is bounded by affected-partition count, never rows.

History: a deletion publishes new snapshots like any write. On a
`snapshots=True` root pre-deletion history remains time-travelable until
`expire_snapshots` purges it — true erasure of history is
`forget_conversations(...)` followed by
`retention.expire_snapshots(pipe, keep_last=1)`. A `snapshots=False` root
runs that expiry itself after the run and after the sweep, except for the
snapshots the last sealed run's barrier pins, which go when the next run
seals. The raw input table
belongs to the caller; this module erases every ENGINE-owned
materialization and guarantees non-resurrection on future ingests.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .io import atomic_write, parquet_bytes

TOMBSTONE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("requested_at", T.TimestampNTZType()),
        T.StructField("note", T.StringType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("requested_at", pa.timestamp("us")),
        ("note", pa.string()),
    ]
)


class TombstoneStore:
    """Append-only conversation tombstone set under a pipeline root.

    Same durability idiom as the checkpoint manifest: each append is one
    immutable parquet file written with `io.atomic_write`, readers take the
    union — a killed append never tears the set (its temp name does not end
    in `.parquet`), and appends from concurrent processes cannot clobber
    each other.
    """

    DIRNAME = "_tombstones"

    def __init__(self, root: str):
        self.path = os.path.join(root, self.DIRNAME)

    def has_any(self) -> bool:
        """Cheap driver-side existence probe — keeps the ingest plan (and
        every historical fingerprint) byte-identical until the first
        deletion request ever lands on this root."""
        if not os.path.isdir(self.path):
            return False
        return any(f.endswith(".parquet") for f in os.listdir(self.path))

    def append(self, conv_ids: list[str], note: str = "") -> str:
        if not conv_ids:
            raise ValueError("no conv_ids to tombstone")
        os.makedirs(self.path, exist_ok=True)
        now = int(time.time() * 1_000_000)
        ids = sorted(set(conv_ids))
        table = pa.table(
            {
                "conv_id": ids,
                "requested_at": pa.array([now] * len(ids), pa.timestamp("us")),
                "note": [note] * len(ids),
            },
            schema=_ARROW_SCHEMA,
        )
        fname = f"tombstone-{now}-{uuid.uuid4().hex[:8]}.parquet"
        atomic_write(os.path.join(self.path, fname), parquet_bytes(table))
        return fname

    def read(self, spark: SparkSession) -> DataFrame:
        """Distinct tombstoned conv_ids (empty DF when none)."""
        if not self.has_any():
            return spark.createDataFrame([], T.StructType([TOMBSTONE_SCHEMA[0]]))
        return (
            spark.read.schema(TOMBSTONE_SCHEMA)
            .parquet(self.path)
            .select("conv_id")
            .distinct()
        )

    def ids(self) -> list[str]:
        """Driver-side sorted id list (tombstones are request-scale)."""
        if not self.has_any():
            return []
        out: set[str] = set()
        for f in os.listdir(self.path):
            if f.endswith(".parquet"):
                out.update(
                    pq.read_table(
                        os.path.join(self.path, f), columns=["conv_id"]
                    )["conv_id"].to_pylist()
                )
        return sorted(out)


def _swept_tables(pipe) -> list[tuple[str, str, list[str]]]:
    """(name, path, partition_cols) for every conv-keyed engine table."""
    from .pipeline import CHUNK_PART

    return [
        ("hourly", pipe.tier_path("hourly"), pipe.hourly_partition_cols()),
        ("daily", pipe.tier_path("daily"), ["bucket_date"]),
        ("monthly", pipe.tier_path("monthly"), ["bucket_month"]),
        ("chunks", pipe.chunks_path, [CHUNK_PART]),
    ]


def _table_exists(pipe, path: str) -> bool:
    return pipe._store(path).current_id() is not None


def forget_sweep(pipe, run_id: str | None = None) -> dict:
    """Surgically rewrite every engine-table partition still holding a
    tombstoned conversation's rows (the non-re-rollable leftovers:
    retention-dropped hourly days, frozen months — plus anything a caller
    wants purged without re-presenting the raw input).

    Per table: one broadcast semi-join scan finds affected partitions, one
    anti-join rewrite replaces exactly those partitions, partitions left
    empty are dropped. Commits `stage='forget'` manifest rows recording the
    removed-row count per partition. Returns
    ``{table: {partition_key: rows_removed}}`` for the partitions touched.
    """
    from .checkpoint import new_run_id

    run_id = run_id or new_run_id()
    if pipe.use_lease:
        with pipe.lease():
            return _sweep_locked(pipe, run_id)
    return _sweep_locked(pipe, run_id)


def _sweep_locked(pipe, run_id: str) -> dict:
    # a retired table is not swept: it goes, with every row it holds
    pipe._drop_retired_tables()
    pipe._migrate_chunks(run_id)
    tomb = pipe.tombstones.read(pipe.spark)
    report: dict = {}
    for name, path, part_cols in _swept_tables(pipe):
        if not _table_exists(pipe, path):
            continue
        df = pipe._read_path(path)
        doomed_stats = (
            df.join(F.broadcast(tomb), "conv_id", "left_semi")
            .groupBy(*part_cols)
            .count()
            .collect()
        )
        if not doomed_stats:
            continue

        def _match(col_vals):
            cond = F.lit(True)
            for c, v in col_vals:
                cond = cond & (F.col(c).cast("string") == F.lit(str(v)))
            return cond

        affected = [
            [(c, r[c]) for c in part_cols] for r in doomed_stats
        ]
        hit = None
        for cv in affected:
            hit = _match(cv) if hit is None else hit | _match(cv)
        sub = df.filter(hit)
        survivors = sub.join(F.broadcast(tomb), "conv_id", "left_anti")
        # dynamic overwrite only touches partitions present in `survivors`;
        # partitions whose every row was tombstoned must drop explicitly
        kept = {
            tuple(str(r[c]) for c in part_cols)
            for r in survivors.select(*part_cols).distinct().collect()
        }
        emptied = [
            cv for cv in affected
            if tuple(str(v) for _, v in cv) not in kept
        ]
        if len(emptied) < len(affected):
            pipe._write_table(survivors, path, part_cols)
        if emptied:
            pipe._store(path).drop_partitions(
                ["/".join(f"{c}={v}" for c, v in cv) for cv in emptied],
                op="forget",
            )
        rows = []
        tbl_report = {}
        for r, cv in zip(doomed_stats, affected):
            key = "/".join(f"{c}={v}" for c, v in cv)
            tbl_report[key] = r["count"]
            rows.append(
                {
                    "run_id": run_id,
                    "stage": "forget",
                    "partition_key": key,
                    "rows_in": r["count"],
                    "rows_out": 0,
                    "lineage": name,
                    "input_snapshot_id": "<forgotten>",
                    "output_snapshot_id": path,
                }
            )
        pipe._commit(rows)
        report[name] = tbl_report
    pipe._trim_history()
    return report


def leftover_conversations(pipe) -> dict:
    """Rows still attributable to tombstoned conversations, per table —
    the erasure verifier (all zeros after `forget_conversations` with the
    input re-presented, or after a sweep for frozen-only leftovers)."""
    tomb = pipe.tombstones.read(pipe.spark)
    out = {}
    for name, path, _ in _swept_tables(pipe):
        if not _table_exists(pipe, path):
            continue
        out[name] = (
            pipe._read_path(path)
            .join(F.broadcast(tomb), "conv_id", "left_semi")
            .count()
        )
    return out


def _sweep_could_matter(pipe) -> bool:
    """The sweep exists for partitions the re-roll can't reach — which can
    only arise after a retention drop or rollback sentinel. With the raw
    input re-presented and a manifest free of those events, every
    partition is re-rollable and was just re-rolled, so the 4-table sweep
    scan is provably redundant (saves ~4 full-table probes per erasure)."""
    m = pipe.manifest.read_pandas()
    if len(m) == 0:
        return False
    return bool(
        (
            (m["stage"] == "retention")
            | (m["input_snapshot_id"] == "<rolled-back>")
        ).any()
    )


def forget_conversations(
    pipe,
    conv_ids: list[str],
    t0: DataFrame | None = None,
    run_id: str | None = None,
    sweep: bool | str = "auto",
    note: str = "",
) -> dict:
    """Erase conversations from every engine-owned table.

    1. Tombstone the ids (future ingests filter them forever).
    2. If the raw input is supplied, re-run the pipeline: affected days
       re-roll through every tier via the ordinary fingerprint machinery
       (O(affected days)); wholly-deleted days drop via the stale sweep.
    3. Sweep partitions the run couldn't reach (retention-dropped /
       frozen) with exact per-partition rewrites. `sweep='auto'` (default)
       runs it only when the re-roll could have missed something: no raw
       input given, or the manifest shows retention/rollback events.

    Tables of earlier versions that nothing reads any more
    (`TierPipeline.RETIRED_TABLES`) are deleted whole, sweep or not.

    Returns {'tombstoned': ids, 'run': run-report|None, 'swept': {...}}.
    """
    pipe.tombstones.append(conv_ids, note=note)
    pipe._drop_retired_tables()
    report: dict = {"tombstoned": sorted(set(conv_ids)), "run": None, "swept": {}}
    if t0 is not None:
        report["run"] = pipe.run(t0, run_id=run_id)
    if sweep == "auto":
        sweep = t0 is None or _sweep_could_matter(pipe)
    if sweep:
        report["swept"] = forget_sweep(pipe, run_id=run_id)
    return report
