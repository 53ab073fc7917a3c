"""MERGE INTO — CDC upsert/delete apply onto a partitioned table
(SURVEY.md §2 L — lifecycle; the Iceberg/Delta `MERGE INTO` verb
re-expressed Spark-first over the engine's parquet + SnapStore tables).

Semantics (Iceberg's): for each source row, match target rows on the key
columns; matched → update (or delete), not matched → insert. A source with
duplicate keys is REFUSED (Iceberg's cardinality check — one target row
must never receive two conflicting writes in one merge).

Scale shape — the whole point of the operator: a merge touches
O(partitions containing affected keys), never O(table).

1. The touched-partition set is the union of (a) the source rows'
   partition values and (b) the partitions of MATCHED target rows — (b)
   discovered with one broadcast semi-join probe. (b) matters when an
   update MOVES a row across partitions (e.g. a corrected event timestamp
   lands in a different day): the old partition must rewrite to drop the
   stale copy, and partition values alone would miss it.
2. The target is then read RESTRICTED to touched partitions (partition
   pruning does the work), full-outer-joined with the source on the keys,
   and the merged rows dynamic-partition-overwrite exactly those
   partitions. Unmatched target partitions are never read or written.
3. Deletes that EMPTY a partition drop its directory explicitly (dynamic
   overwrite cannot write an absent partition).

With a SnapStore the rewrite + drops land in ONE CoW snapshot published by
an atomic pointer flip — concurrent readers are never torn and the
pre-merge state stays time-travelable. Plain directories get the same
dynamic overwrite non-atomically (documented; every pipeline table is a
SnapStore, the concurrent-reader-safe configuration).

The source is assumed CDC-batch-sized relative to the table (broadcast
probes); if a giant source ever forces it, the joins degrade to shuffles
with identical semantics — nothing here is broadcast-REQUIRED.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .snapstore import SnapStore
from .io import spread_partitions


class MergeError(ValueError):
    """Refused merge: duplicate source keys, schema drift, bad clauses."""


def _check_source_unique(source: DataFrame, on: list[str]) -> None:
    dup = (
        source.groupBy(*on)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key = {k: dup[0][k] for k in on}
        raise MergeError(
            f"source has multiple rows for key {key}; MERGE requires at "
            "most one source row per target key (Iceberg cardinality check)"
        )


def merge_into(
    spark,
    target_path: str,
    source: DataFrame,
    on: list[str],
    partition_cols: list[str],
    when_matched: str = "update",     # 'update' | 'delete'
    when_not_matched: str = "insert",  # 'insert' | 'ignore'
    store: SnapStore | None = None,
) -> dict:
    """Apply `source` onto the table at `target_path`. Returns
    ``{'inserted': n, 'updated': n, 'deleted': n, 'partitions': [...]}``.

    `source` must carry the full target schema (key + value + partition
    columns) for inserts/updates; `when_matched='delete'` needs only keys
    (extra columns ignored).
    """
    if when_matched not in ("update", "delete"):
        raise MergeError(f"when_matched must be update|delete: {when_matched}")
    if when_not_matched not in ("insert", "ignore"):
        raise MergeError(
            f"when_not_matched must be insert|ignore: {when_not_matched}"
        )
    if when_matched == "delete" and when_not_matched == "insert":
        raise MergeError("delete-matched + insert-unmatched is contradictory")
    _check_source_unique(source, on)

    target = (
        store.read(spark) if store is not None else spark.read.parquet(target_path)
    )
    data_cols = target.columns
    if when_matched == "update" or when_not_matched == "insert":
        missing = [c for c in data_cols if c not in source.columns]
        if missing:
            raise MergeError(f"source missing target columns: {missing}")

    keys = source.select(*on).distinct()

    # touched partitions: source-side values ∪ matched target rows' values
    # (two metadata-scale driver lists, bounded by partition count)
    touched = {
        tuple(str(r[c]) for c in partition_cols)
        for r in (
            target.join(F.broadcast(keys), on, "left_semi")
            .select(*partition_cols)
            .distinct()
            .collect()
        )
    }
    if when_not_matched == "insert" or when_matched == "update":
        touched |= {
            tuple(str(r[c]) for c in partition_cols)
            for r in source.select(*partition_cols).distinct().collect()
        }
    if not touched:
        return {"inserted": 0, "updated": 0, "deleted": 0, "partitions": []}

    def _in_touched(df):
        cond = F.lit(False)
        for vals in touched:
            c = F.lit(True)
            for col, v in zip(partition_cols, vals):
                c = c & (F.col(col).cast("string") == F.lit(v))
            cond = cond | c
        return df.filter(cond)

    sub = _in_touched(target)
    # null-safe match flags via a presence literal on each side; source-side
    # value columns are RENAMED (__s_<c>) before the join so the joined
    # frame has flat, unambiguous names — which is what lets it be
    # materialized once (below) instead of re-executing per consumer
    src_cols = [F.col(c) for c in on] + [
        F.col(c).alias(f"__s_{c}")
        for c in source.columns
        if c in data_cols and c not in on
    ]
    sub2 = sub.withColumn("__t", F.lit(1))
    src2 = source.select(*src_cols).withColumn("__s", F.lit(1))
    # ONE execution of the probe-scan + join (guide §5): the stats
    # aggregate, the kept-partition listing and the rewrite below all read
    # this materialized frame — previously each re-ran the full outer join
    # (3 executions). Size is touched-partitions + source: the CDC batch
    # shape this operator is bounded by.
    joined = sub2.join(F.broadcast(src2), on, "full_outer").localCheckpoint()
    is_matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    t_only = F.col("__t").isNotNull() & F.col("__s").isNull()
    s_only = F.col("__t").isNull() & F.col("__s").isNotNull()

    def pick(c):
        if c in on:
            return F.col(c)
        take_source = is_matched if when_matched == "update" else F.lit(False)
        if when_not_matched == "insert":
            take_source = take_source | s_only
        if f"__s_{c}" not in joined.columns:
            # delete-matched sources may carry keys only — the target value
            # is the only candidate
            return F.col(c)
        return (
            F.when(take_source, F.col(f"__s_{c}"))
            .otherwise(F.col(c))
            .alias(c)
        )

    keep = t_only
    if when_matched == "update":
        keep = keep | is_matched
    if when_not_matched == "insert":
        keep = keep | s_only

    stats_row = joined.agg(
        F.sum(F.when(is_matched, 1).otherwise(0)).alias("matched"),
        F.sum(F.when(s_only, 1).otherwise(0)).alias("source_only"),
    ).collect()[0]
    merged = joined.filter(keep).select(*[pick(c) for c in data_cols])

    inserted = stats_row["source_only"] if when_not_matched == "insert" else 0
    updated = stats_row["matched"] if when_matched == "update" else 0
    deleted = stats_row["matched"] if when_matched == "delete" else 0

    # partitions the merged output still populates; emptied ones get dropped
    kept_parts = {
        tuple(str(r[c]) for c in partition_cols)
        for r in merged.select(*partition_cols).distinct().collect()
    }
    emptied = sorted(touched - kept_parts)
    dirnames = [
        "/".join(f"{c}={v}" for c, v in zip(partition_cols, vals))
        for vals in emptied
    ]

    if store is not None:
        sid = store.begin("merge")
        try:
            snap = store.snapshot_path(sid)
            (
                spread_partitions(merged, partition_cols)
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_cols)
                .mode("overwrite")
                .parquet(snap)
            )
            for d in dirnames:
                shutil.rmtree(os.path.join(snap, d), ignore_errors=True)
        except Exception:
            store.abort(sid)
            raise
        store.publish(sid)
    else:
        # plain directory: the write never consumes the files it replaces —
        # `merged` derives from the materialized join, not the target files
        (
            spread_partitions(merged, partition_cols)
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(target_path)
        )
        for d in dirnames:
            shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)

    return {
        "inserted": inserted,
        "updated": updated,
        "deleted": deleted,
        "partitions": sorted("/".join(v) for v in touched),
    }
