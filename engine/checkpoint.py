"""Checkpoint manifest (SURVEY.md A5/L3/L4/F5): per-partition lineage +
row-count metrics, the Spark-native generalization of the reference's
write-GeoTIFF-then-`file.exists()`-skip resume idiom.

Storage: a directory of immutable single parquet files, one per commit,
each written with `io.atomic_write` (temp file, fsync, `os.replace`), so a
killed run never leaves a torn manifest, and its dot-prefixed temp name is
never listed as a commit. Readers take the union of all commit files.
With a real Iceberg catalog the same interface maps onto snapshot commits.

Schema (FIXTURES.md): run_id, stage, partition_key, input_snapshot_id,
output_snapshot_id, rows_in, rows_out, wall_ms, committed_at, lineage.
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

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_key", T.StringType()),
        T.StructField("input_snapshot_id", T.StringType()),
        T.StructField("output_snapshot_id", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("committed_at", T.TimestampNTZType()),
        T.StructField("lineage", T.StringType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_key", pa.string()),
        ("input_snapshot_id", pa.string()),
        ("output_snapshot_id", pa.string()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("wall_ms", pa.int64()),
        ("committed_at", pa.timestamp("us")),
        ("lineage", pa.string()),
    ]
)


class Manifest:
    """T5 checkpoint/lineage manifest over a directory of commit files."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._cache: tuple[tuple[str, ...], DataFrame] | None = None
        self._pdf_cache: tuple[tuple[str, ...], object] | None = None
        # commit file name -> its arrow table; names are unique and files
        # immutable, so a new commit costs one file read, not a re-read of
        # the whole directory
        self._tables: dict[str, pa.Table] = {}

    def read(self) -> DataFrame:
        """The manifest as a LOCAL relation, memoized on the exact commit-
        file set. A run consults the manifest ~a dozen times (pending /
        stale / retention / frozen checks per stage); as a directory scan
        each consult is its own small Spark job — at metadata scale that
        overhead dominates a no-op resume. Reading the (tiny, immutable)
        commit files driver-side once per file-set makes every consult a
        broadcastable local relation, and the key invalidates on any new
        commit — including one from another process."""
        files = tuple(
            sorted(f for f in os.listdir(self.path) if f.endswith(".parquet"))
        )
        if not files:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        if self._cache is not None and self._cache[0] == files:
            return self._cache[1]
        df = self.spark.createDataFrame(
            self.read_pandas(), MANIFEST_SCHEMA
        )
        self._cache = (files, df)
        return df

    def read_pandas(self):
        """The manifest as a pandas frame, memoized on the same commit-file
        key as read(). Driver-side consumers (the resume algebra below) use
        this to answer pending/stale/latest questions with ZERO Spark jobs —
        a no-op resume previously paid ~4 small jobs per stage just to join
        a metadata-scale local relation against itself."""
        files = tuple(
            sorted(f for f in os.listdir(self.path) if f.endswith(".parquet"))
        )
        if self._pdf_cache is not None and self._pdf_cache[0] == files:
            return self._pdf_cache[1]
        if not files:
            import pandas as pd

            pdf = pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in _ARROW_SCHEMA}
            )
        else:
            self._tables = {
                f: self._tables[f]
                if f in self._tables
                else pq.read_table(os.path.join(self.path, f))
                for f in files
            }
            pdf = (
                pa.concat_tables([self._tables[f] for f in files])
                .cast(_ARROW_SCHEMA)
                .to_pandas()
            )
        self._pdf_cache = (files, pdf)
        return pdf

    def latest_map(self, stage: str) -> dict[str, str]:
        """partition_key -> input_snapshot_id of the LATEST commit for
        `stage`, driver-side. The total order is the same one the Spark
        pending/stale joins use — max(committed_at, input_snapshot_id) —
        with identical ASCII string comparison for ties."""
        pdf = self.read_pandas()
        if len(pdf) == 0:
            return {}
        rows = pdf[pdf["stage"] == stage]
        if len(rows) == 0:
            return {}
        latest = (
            rows.sort_values(
                ["committed_at", "input_snapshot_id"], kind="stable"
            )
            .groupby("partition_key", sort=False)
            .tail(1)
        )
        return dict(
            zip(latest["partition_key"], latest["input_snapshot_id"])
        )

    def committed_keys(self, stage: str) -> DataFrame:
        return (
            self.read()
            .filter(F.col("stage") == stage)
            .select("partition_key")
            .distinct()
        )

    #: stages whose FULL history is load-bearing and must survive a pruning
    #: compaction: 'snapshot' rows are the per-run barriers behind
    #: read_consistent/rollback_run/time-travel SQL; 'retention'/'frozen'
    #: rows gate drops, freezes and rollback refusal; 'forget' rows are the
    #: erasure audit trail.
    PRESERVED_STAGES = frozenset({"snapshot", "retention", "frozen", "forget"})

    #: sentinel fingerprints whose presence (even superseded) is consulted
    #: by history scans (e.g. forget's sweep-could-matter check).
    SENTINELS = frozenset({"<deleted>", "<rolled-back>"})

    def compact(self, prune_superseded: bool = False) -> dict:
        """Rewrite the manifest's commit files into ONE file (L2 for the
        manifest itself). A long budgeted backfill or months of incremental
        runs accumulate one parquet file per commit — at 10^12-turn scale
        that is tens of thousands of tiny files, and every `read()` after a
        new commit re-reads them all. Compaction is the small-files fix:
        content-identical by construction (all rows carried verbatim), so
        every consumer — latest-fingerprint resume, run barriers, rollback,
        retention/freeze state — behaves exactly as before.

        With `prune_superseded=True`, ordinary data-stage rows that a newer
        commit for the same (stage, partition_key) supersedes are dropped —
        the resume algebra only ever consults the latest row per key — while
        PRESERVED_STAGES rows and sentinel-fingerprint rows keep their full
        history (they back time travel, rollback refusal and erasure audits).

        Crash-safe, not concurrent-reader-safe: the merged file is renamed
        in before the old files are unlinked, so a crash at any point loses
        nothing (duplicates from a torn compaction are harmless to every
        latest/distinct/set consumer and the next compact() heals them) —
        but run it under the root's writer lease like other lifecycle ops.
        Returns {files_before, files_after, rows_before, rows_after}."""
        files = sorted(
            f for f in os.listdir(self.path) if f.endswith(".parquet")
        )
        if not files:
            return {"files_before": 0, "files_after": 0,
                    "rows_before": 0, "rows_after": 0}
        table = pa.concat_tables(
            [pq.read_table(os.path.join(self.path, f)) for f in files]
        ).cast(_ARROW_SCHEMA)
        rows_before = table.num_rows
        # exact-duplicate rows only ever arise from a compaction that
        # crashed between the merged-file rename and the old-file unlinks;
        # they are semantically idempotent, so dropping them here is what
        # makes re-running compact() heal a torn one.
        df = table.to_pandas().drop_duplicates(ignore_index=True)
        table = pa.Table.from_pandas(
            df, schema=_ARROW_SCHEMA, preserve_index=False
        )
        if prune_superseded:
            keep = df["stage"].isin(self.PRESERVED_STAGES) | df[
                "input_snapshot_id"
            ].isin(self.SENTINELS)
            # latest row per (stage, partition_key) under the same total
            # order pending_partitions uses: max(committed_at, snapshot_id)
            latest_idx = (
                df.sort_values(
                    ["committed_at", "input_snapshot_id"], kind="stable"
                )
                .groupby(["stage", "partition_key"], sort=False)
                .tail(1)
                .index
            )
            df = df.loc[keep | df.index.isin(latest_idx)]
            table = pa.Table.from_pandas(
                df, schema=_ARROW_SCHEMA, preserve_index=False
            )
        now = int(time.time() * 1_000_000)
        fname = f"commit-{now}-{uuid.uuid4().hex[:8]}-compacted.parquet"
        atomic_write(os.path.join(self.path, fname), parquet_bytes(table))
        for f in files:
            os.unlink(os.path.join(self.path, f))
        self._cache = None
        self._pdf_cache = None
        self._tables = {}
        return {
            "files_before": len(files),
            "files_after": 1,
            "rows_before": rows_before,
            "rows_after": table.num_rows,
        }

    def commit(self, rows: list[dict]) -> str:
        """Atomic append of one commit file (driver-side: manifests are tiny
        relative to data — thousands of rows per run at any scale)."""
        now = int(time.time() * 1_000_000)
        for r in rows:
            r.setdefault("committed_at", now)
            r.setdefault("input_snapshot_id", "")
            r.setdefault("output_snapshot_id", "")
            r.setdefault("lineage", "")
            r.setdefault("rows_in", 0)
            r.setdefault("rows_out", 0)
            r.setdefault("wall_ms", 0)
        cols = {
            name: [r[name] for r in rows]
            for name in _ARROW_SCHEMA.names
        }
        table = pa.table(cols, schema=_ARROW_SCHEMA)
        fname = f"commit-{now}-{uuid.uuid4().hex[:8]}.parquet"
        atomic_write(os.path.join(self.path, fname), parquet_bytes(table))
        return fname


def work_manifest(
    df: DataFrame, key_expr, hash_cols: list[str], prefix: str,
    extra_token: str = "",
) -> DataFrame:
    """One cheap aggregation pass over a stage's input producing, per
    partition key: ``partition_key``, ``rows_in`` and an order-insensitive
    content fingerprint (``input_snapshot_id``).

    The fingerprint is count + bit_xor(xxhash64(row)) + Σ(xxhash64(row) mod p)
    — commutative/associative (stable under any partitioning or row order)
    and overflow-safe under ANSI mode. It is the late-data detector (J4): a
    committed partition whose input fingerprint changed is re-rolled, so
    post-watermark stragglers and backfills are never silently dropped.

    `extra_token` folds a configuration literal (e.g. the tier sketch spec)
    into the fingerprint: changing the config re-rolls every partition once
    — schema evolution expressed as an ordinary fingerprint change. The
    empty default leaves historical fingerprints byte-identical.
    """
    h = (
        F.xxhash64(*hash_cols)
        if not extra_token
        else F.xxhash64(*hash_cols, F.lit(extra_token))
    )
    return (
        df.groupBy(key_expr.alias("_k"))
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.bit_xor(h).alias("_hx"),
            F.sum(F.pmod(h, F.lit(1000003))).alias("_hs"),
        )
        .select(
            F.concat(F.lit(prefix + "="), F.col("_k").cast("string")).alias(
                "partition_key"
            ),
            "rows_in",
            F.concat_ws(":", "rows_in", "_hx", "_hs").alias("input_snapshot_id"),
        )
    )


def pending_partitions(
    work_keys: DataFrame, manifest: Manifest, stage: str
) -> DataFrame:
    """L4/F5/J4: resume — keep partition keys that are not yet committed for
    this stage, or whose committed input fingerprint no longer matches the
    current input (late/backfilled data ⇒ re-roll).

    Accepts either a bare ``partition_key`` DF (legacy anti-join semantics)
    or a `work_manifest` DF carrying ``input_snapshot_id``.
    """
    if "input_snapshot_id" not in work_keys.columns:
        committed = manifest.committed_keys(stage)
        return work_keys.join(committed, "partition_key", "left_anti")
    latest = (
        manifest.read()
        .filter(F.col("stage") == stage)
        .groupBy("partition_key")
        .agg(
            F.max(F.struct("committed_at", "input_snapshot_id")).alias("_m")
        )
        .select("partition_key", F.col("_m.input_snapshot_id").alias("_committed_snap"))
    )
    return (
        work_keys.join(latest, "partition_key", "left")
        .filter(
            F.col("_committed_snap").isNull()
            | (F.col("_committed_snap") != F.col("input_snapshot_id"))
        )
        .drop("_committed_snap")
    )


def pending_rows(work_rows: list, manifest: Manifest, stage: str) -> list:
    """Driver-side twin of pending_partitions over ALREADY-COLLECTED work
    rows (each with partition_key / rows_in / input_snapshot_id): returns
    the rows not yet committed or whose committed fingerprint differs —
    zero Spark jobs; the work manifest is evaluated exactly once by the
    caller's collect."""
    latest = manifest.latest_map(stage)
    return [
        r
        for r in work_rows
        if latest.get(r["partition_key"]) != r["input_snapshot_id"]
    ]


def stale_keys(work_keys: set, manifest: Manifest, stage: str) -> list[str]:
    """Driver-side twin of stale_partitions: committed keys (latest commit
    not a deletion) absent from the current work-key set. Sorted for
    deterministic drop/commit order."""
    return sorted(
        k
        for k, s in manifest.latest_map(stage).items()
        if s != DELETED_SNAPSHOT and k not in work_keys
    )


#: sentinel fingerprint committed when a partition's output is dropped
#: because its input vanished; it matches no real work fingerprint, so a
#: later resurrection of the data re-rolls the partition automatically.
DELETED_SNAPSHOT = "<deleted>"


def stale_partitions(
    work_keys: DataFrame, manifest: Manifest, stage: str
) -> DataFrame:
    """Committed partition keys whose input rows have vanished entirely: the
    key appears in the manifest (latest commit not already a deletion) but
    produces no row in the current work manifest. `pending_partitions` can
    never see these — a partition with zero input rows emits no work row —
    so without this anti-join its committed output would persist as stale
    tier data after a full input-partition delete."""
    latest = (
        manifest.read()
        .filter(F.col("stage") == stage)
        .groupBy("partition_key")
        .agg(F.max(F.struct("committed_at", "input_snapshot_id")).alias("_m"))
        .filter(F.col("_m.input_snapshot_id") != DELETED_SNAPSHOT)
        .select("partition_key")
    )
    return latest.join(
        work_keys.select("partition_key"), "partition_key", "left_anti"
    )


def new_run_id() -> str:
    return uuid.uuid4().hex[:16]
