"""Changelog-pruned work manifests (snapshot mode): the daily/monthly
resume scan re-fingerprints only upstream partitions the snapshot
changelog names as changed — O(changed), not O(table) — with full-scan
fallbacks whenever pruning would be unsound."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.pipeline import TierPipeline  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    return synth_transcripts(spark, n_convs=20, hot_turns=150).localCheckpoint()


def _tiers_equal(a, b, tier):
    da = a.read_table(tier)
    db = b.read_table(tier).select(*da.columns)
    assert da.exceptAll(db).count() == 0, tier
    assert db.exceptAll(da).count() == 0, tier


def test_pruned_rescan_tracks_full_scan(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    r1 = pipe.run(t0)
    # first run: no pointer yet -> full scan
    assert r1["scans"]["daily"] == "full"

    # unchanged rerun: zero partitions re-fingerprinted, zero re-rolled
    r2 = pipe.run(t0)
    assert r2["scans"]["daily"].startswith("pruned:0/")
    assert r2["scans"]["monthly"].startswith("pruned:0/")
    assert r2["stages"]["daily"] == 0 and r2["stages"]["monthly"] == 0
    # the series stage re-fingerprints no month either
    assert r2["scans"]["series"].startswith("pruned:0/")
    assert r2["stages"]["compress"] == 0

    # late data for one conversation: only its days re-fingerprint
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    t2 = t0.unionByName(late)
    r3 = pipe.run(t2)
    late_days = (
        late.select(F.to_date("ts").cast("string").alias("d"))
        .distinct()
        .count()
    )
    n_pruned, n_total = map(
        int, r3["scans"]["daily"].split(":")[1].split("/")
    )
    assert n_pruned == late_days and n_pruned < n_total
    assert r3["stages"]["daily"] == late_days
    # the series stage re-fingerprints and rebuilds only the late months
    late_months = (
        late.select(F.date_format("ts", "yyyy-MM").alias("m"))
        .distinct()
        .count()
    )
    n_months, n_all = map(int, r3["scans"]["series"].split(":")[1].split("/"))
    assert n_months == late_months and n_months < n_all
    assert r3["stages"]["compress"] == late_months

    # pruned result == a never-pruned (plain-mode) pipeline, bit-exact
    ref = TierPipeline(spark, str(tmp_path / "ref"))
    ref.run(t2)
    for tier in ("daily", "monthly", "chunks"):
        _tiers_equal(pipe, ref, tier)


def test_pruned_stale_detection_still_drops_deleted_days(spark, tmp_path):
    """A pruned work manifest omits unchanged days — stale detection must
    read absence from the INVENTORY, not the work rows, or every
    unchanged partition would be dropped as vanished."""
    from engine.checkpoint import DELETED_SNAPSHOT

    t0 = synth_transcripts(spark, n_convs=10, hot_turns=80).localCheckpoint()
    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0)
    pipe.run(t0)  # arm the pruning pointer
    days = sorted(
        r["d"]
        for r in t0.select(F.to_date("ts").cast("string").alias("d"))
        .distinct()
        .collect()
    )
    victim = days[len(days) // 2]
    r = pipe.run(t0.filter(F.to_date("ts").cast("string") != victim))
    assert r["scans"]["daily"].startswith("pruned:")
    # the deleted day is sentinel-dropped at the daily stage, nothing else
    sent = (
        pipe.manifest.read()
        .filter(
            (F.col("stage") == "daily")
            & (F.col("input_snapshot_id") == DELETED_SNAPSHOT)
        )
        .collect()
    )
    assert {x["partition_key"] for x in sent} == {f"day={victim}"}
    assert not os.path.exists(
        os.path.join(pipe.tier_data_path("daily"), f"bucket_date={victim}")
    )
    # every other daily partition survived the pruned stale pass
    others = pipe._read_path(pipe.tier_path("daily"))
    assert others.select("bucket_date").distinct().count() == len(days) - 1


def test_state_migration_breaks_the_pointer_token(spark, tmp_path):
    """Enabling a state column must re-fingerprint EVERYTHING once (the
    migration) — the pointer token mismatch forces the full scan."""
    t0 = synth_transcripts(spark, n_convs=10, hot_turns=80).localCheckpoint()
    root = str(tmp_path / "p")
    pipe = TierPipeline(spark, root, snapshots=True)
    pipe.run(t0)
    pipe.run(t0)
    migrated = TierPipeline(spark, root, snapshots=True, freq_cols=["role"])
    r = migrated.run(t0)
    assert r["scans"]["daily"] == "full"
    assert "role_freq" in migrated.read_tier("daily").columns
    # and pruning re-arms under the new token
    r2 = migrated.run(t0)
    assert r2["scans"]["daily"].startswith("pruned:0/")


def test_rollback_and_gc_fall_back_to_full(spark, tmp_path):
    t0 = synth_transcripts(spark, n_convs=10, hot_turns=80).localCheckpoint()
    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0, run_id="r1")
    late = t0.selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    pipe.run(t0.unionByName(late), run_id="r2")
    pipe.rollback_run("r1")
    # rollback sentinels await healing: pruning is unsound, full scan
    r = pipe.run(t0.unionByName(late), run_id="r3")
    assert r["scans"]["daily"] == "full"
    r4 = pipe.run(t0.unionByName(late))
    assert r4["scans"]["daily"].startswith("pruned:0/")

    # GC the pointer's diff base -> full fallback, then re-arms
    from engine.retention import expire_snapshots

    pipe2 = TierPipeline(spark, str(tmp_path / "q"), snapshots=True)
    pipe2.run(t0)  # daily pointer -> hourly snapshot h1
    # hourly advances twice WITHOUT the daily stage (pointer stays at h1)
    pipe2.run(t0.unionByName(late), stages=("hourly",))
    pipe2.run(t0, stages=("hourly",))
    expire_snapshots(pipe2, keep_last=1)  # h1 (the diff base) is GC'd
    r5 = pipe2.run(t0)
    assert r5["scans"]["daily"] == "full"
    # correctness after the fallback: parity with a plain pipeline
    ref = TierPipeline(spark, str(tmp_path / "ref"))
    ref.run(t0)
    _tiers_equal(pipe2, ref, "daily")
    # and pruning re-arms on the next run
    assert pipe2.run(t0)["scans"]["daily"].startswith("pruned:0/")
