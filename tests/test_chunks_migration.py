"""Chunks re-keyed by month on an existing root. Earlier versions
partitioned the chunks table by conv_bucket and committed compress keys
'cb=<n>'. The first write-side operation rewrites those chunk rows under
the month key (not from hourly, so the archived series of retention-dropped
days survive), closes the 'cb=' keys with DELETED rows and commits the
months, so the next run builds nothing."""

from __future__ import annotations

import os
import sys
from datetime import date, timedelta
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.api import TierEngine  # noqa: E402
from engine.checkpoint import DELETED_SNAPSHOT, work_manifest  # noqa: E402
from engine.codec.chunks import make_chunks  # noqa: E402
from engine.gapfill import hourly_series  # noqa: E402
from engine.pipeline import _STATE_HASH_COLS, _conv_bucket  # noqa: E402
from engine.rollup import observed_state  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

CHUNK_KEYS = ["conv_id", "metric", "chunk_start"]


@pytest.fixture(scope="module")
def t0(spark):
    return synth_transcripts(spark, n_convs=40, hot_turns=300).localCheckpoint()


def _cb_fingerprints(pipe, run_id, lineage):
    """compress manifest rows keyed by conv_bucket, as earlier versions
    committed them, over the current observed hourly rows."""
    work = work_manifest(
        observed_state(pipe.read_tier("hourly")),
        F.col("conv_bucket").cast("string"), _STATE_HASH_COLS, "cb",
    ).collect()
    return work, [
        {
            "run_id": run_id,
            "stage": "compress",
            "partition_key": r["partition_key"],
            "rows_in": r["rows_in"],
            "lineage": lineage,
            "input_snapshot_id": r["input_snapshot_id"],
        }
        for r in work
    ]


def _conv_bucket_root(spark, root, snapshots, t0):
    """A root as the conv_bucket-keyed version left it: the tiers, chunks
    partitioned by conv_bucket under 'cb=<n>' keys, the compress changelog
    pointer (snapshot mode), then one hourly day dropped by retention with
    the conv_bucket fingerprints recommitted over the remaining days."""
    eng = TierEngine(spark, root, snapshots=snapshots, lease=False)
    pipe = eng.pipeline
    pipe.run(t0, run_id="old", stages=("hourly", "daily", "monthly"))
    hourly = observed_state(pipe.read_tier("hourly"))
    pipe._write_table(
        make_chunks(hourly_series(hourly), tier="hourly").withColumn(
            "conv_bucket", _conv_bucket()
        ),
        pipe.chunks_path,
        ["conv_bucket"],
    )
    _, rows = _cb_fingerprints(pipe, "old", "hourly")
    pipe.manifest.commit(rows)
    before = {r["partition_key"] for r in rows}
    if snapshots:
        pipe._record_reconciled(
            "compress", pipe._store(pipe.tier_path("hourly")).current_id()
        )

    days = sorted(
        r["d"] for r in pipe.read_tier("hourly")
        .select(F.col("bucket_date").cast("string").alias("d"))
        .distinct().collect()
    )
    victim = days[len(days) // 3]
    part = f"bucket_date={victim}"
    pipe._store(pipe.tier_path("hourly")).drop_partitions([part])
    work, rows = _cb_fingerprints(pipe, "ret", "hourly-retention-recommit")
    # buckets whose every row was on the dropped day keep their chunks
    archived = sorted(before - {r["partition_key"] for r in work})
    pipe.manifest.commit(
        [{"run_id": "ret", "stage": "retention",
          "partition_key": f"day={victim}", "lineage": "hourly"}]
        + rows
        + [{"run_id": "ret", "stage": "compress", "partition_key": k,
            "lineage": "hourly-retention-archive",
            "input_snapshot_id": DELETED_SNAPSHOT} for k in archived]
    )
    return eng, victim


def _chunk_rows(pipe):
    return (
        pipe.read_table("chunks")
        .drop("conv_bucket", "chunk_month")
        .toPandas()
        .sort_values(CHUNK_KEYS, ignore_index=True)
    )


def _series(eng, day):
    hi = (date.fromisoformat(day) + timedelta(days=1)).isoformat()
    return (
        eng.serve_series(f"{day} 00:00:00", f"{hi} 00:00:00")
        .toPandas()
        .sort_values(["conv_id", "bucket_start", "metric"], ignore_index=True)
    )


@pytest.mark.parametrize("snapshots", [False, True], ids=["plain", "snapshot"])
def test_conv_bucket_root_migrates_to_month_keys(spark, t0, tmp_path, snapshots):
    eng, victim = _conv_bucket_root(spark, str(tmp_path / "old"), snapshots, t0)
    pipe = eng.pipeline
    # before the migration the dropped day is served from the old chunks
    series_before = _series(eng, victim)
    assert len(series_before) > 0
    chunks_before = _chunk_rows(pipe)

    res = eng.run(t0)
    assert all(n == 0 for n in res["stages"].values()), res
    parts = sorted(
        e for e in os.listdir(pipe._chunks_dir()) if "=" in e
    )
    assert parts and all(p.startswith("chunk_month=") for p in parts), parts
    pd.testing.assert_frame_equal(_chunk_rows(pipe), chunks_before)
    pd.testing.assert_frame_equal(_series(eng, victim), series_before)

    latest = pipe.manifest.latest_map("compress")
    assert all(
        s == DELETED_SNAPSHOT for k, s in latest.items() if k.startswith("cb=")
    )
    months = {p.split("=", 1)[1] for p in parts}
    assert {k[6:] for k in latest if k.startswith("month=")} == months
    # the migrated months vouch for retention: more days may drop
    from engine.retention import droppable_hourly_days

    assert droppable_hourly_days(pipe, "9999-12-31")
    assert all(n == 0 for n in eng.run(t0)["stages"].values())
