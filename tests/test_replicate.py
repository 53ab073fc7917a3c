"""Incremental cross-root replication (engine/replicate.py): full first
sync, diff-only incremental ships, retention-drop propagation, crash
retry convergence, GC-race full-rebuild fallback, forget propagation."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.pipeline import TierPipeline  # noqa: E402
from engine.replicate import Replica  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

TABLES = ("hourly", "daily", "monthly", "chunks")


@pytest.fixture(scope="module")
def t0(spark):
    return synth_transcripts(spark, n_convs=20, hot_turns=150).localCheckpoint()


def _assert_parity(rep):
    for t in TABLES:
        assert rep.verify(t), f"{t}: replica != primary"


def test_full_then_incremental_then_noop(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0)
    rep = Replica(spark, pipe, str(tmp_path / "r"))
    s1 = rep.sync()
    assert all(s1[t]["mode"] == "full" for t in TABLES), s1
    _assert_parity(rep)

    # nothing changed -> every table no-ops, zero copies; tables the
    # primary no longer writes are deleted from the replica
    os.makedirs(os.path.join(rep.root, "gapfill", "conv_bucket=0"))
    os.makedirs(os.path.join(rep.root, "tiers", "hourly_bucketed", "_v", "0"))
    s2 = rep.sync()
    assert all(s2[t]["mode"] == "noop" and not s2[t]["copied"] for t in TABLES)
    assert set(s2) == set(TABLES)
    assert not os.path.exists(os.path.join(rep.root, "gapfill"))
    assert not os.path.exists(os.path.join(rep.root, "tiers", "hourly_bucketed"))

    # late data for ONE conversation: the ship is diff-only
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    pipe.run(t0.unionByName(late))
    s3 = rep.sync()
    assert s3["hourly"]["mode"] == "incremental"
    late_days = {
        f"bucket_date={r['d']}"
        for r in late.select(F.to_date("ts").cast("string").alias("d"))
        .distinct()
        .collect()
    }
    assert set(s3["hourly"]["copied"]) == late_days, s3["hourly"]
    all_days = {
        d for d in s1["hourly"]["copied"]
    }
    assert set(s3["hourly"]["copied"]) < all_days
    _assert_parity(rep)
    # replica keeps its own time travel: pre-sync snapshot still readable
    store = rep._store("hourly")
    ids = store.snapshot_ids()
    assert len(ids) >= 2
    old = store.read(spark, as_of=ids[0])
    assert old.count() > 0


def test_retention_drop_propagates(spark, t0, tmp_path):
    from engine.retention import drop_hourly_partitions, droppable_hourly_days

    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0)
    rep = Replica(spark, pipe, str(tmp_path / "r"))
    rep.sync()
    days = droppable_hourly_days(pipe, "9999-12-31")
    victim = days[0]
    drop_hourly_partitions(pipe, [victim], run_id="ret")
    s = rep.sync()
    assert f"bucket_date={victim}" in s["hourly"]["removed"], s["hourly"]
    _assert_parity(rep)
    assert (
        rep.read("hourly")
        .filter(F.col("bucket_date").cast("string") == victim)
        .count()
        == 0
    )


def test_crash_mid_sync_retries_cleanly(spark, t0, tmp_path, monkeypatch):
    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0, stages=("hourly",))
    rep = Replica(spark, pipe, str(tmp_path / "r"))
    rep.sync()
    before = rep._store("hourly").current_id()
    # new data, then a sync whose copy dies halfway
    pipe.run(t0.limit(0).unionByName(t0), stages=("hourly",))  # no-op content
    late = t0.selectExpr(
        "conv_id", "cast(turn_idx + 200000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 45 minutes as ts",
    )
    pipe.run(t0.unionByName(late), stages=("hourly",))

    calls = {"n": 0}
    real = Replica._copy_partition

    def dying(self, src_snap, staged, dirname):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("network died")
        real(self, src_snap, staged, dirname)

    monkeypatch.setattr(Replica, "_copy_partition", dying)
    with pytest.raises(OSError):
        rep.sync()
    monkeypatch.setattr(Replica, "_copy_partition", real)
    # pointer untouched by the failed attempt; retry converges
    assert rep._store("hourly").current_id() == before
    s = rep.sync()
    assert s["hourly"]["mode"] == "incremental"
    assert rep.verify("hourly")


def test_expired_diff_base_falls_back_to_full(spark, t0, tmp_path):
    from engine.retention import expire_snapshots

    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0, stages=("hourly",))
    rep = Replica(spark, pipe, str(tmp_path / "r"))
    rep.sync()
    late = t0.selectExpr(
        "conv_id", "cast(turn_idx + 300000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 50 minutes as ts",
    )
    pipe.run(t0.unionByName(late), stages=("hourly",))
    expire_snapshots(pipe, keep_last=1)  # GC the replica's diff base
    s = rep.sync()
    assert s["hourly"]["mode"] == "full", s["hourly"]
    assert rep.verify("hourly")
    # and it re-arms incrementally afterwards
    assert rep.sync()["hourly"]["mode"] == "noop"


def test_forget_propagates_to_replica(spark, t0, tmp_path):
    from engine.forget import forget_conversations

    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=True)
    pipe.run(t0)
    rep = Replica(spark, pipe, str(tmp_path / "r"))
    rep.sync()
    doomed = "conv-00000019"
    assert rep.read("hourly").filter(F.col("conv_id") == doomed).count() > 0
    forget_conversations(pipe, [doomed], t0=t0)
    s = rep.sync()
    assert s["hourly"]["mode"] in ("incremental", "full")
    assert rep.read("hourly").filter(F.col("conv_id") == doomed).count() == 0
    _assert_parity(rep)


def test_keep_one_primary_replicates_by_full_sync(spark, t0, tmp_path):
    """A snapshots=False primary keeps no diff base past its next seal, so
    each sync after a run falls back to a full copy, and the replica still
    equals the primary."""
    pipe = TierPipeline(spark, str(tmp_path / "plain"))
    pipe.run(t0)
    rep = Replica(spark, pipe, str(tmp_path / "r"))
    s1 = rep.sync()
    assert all(s1[t]["mode"] == "full" for t in TABLES), s1
    _assert_parity(rep)
    late = t0.filter("conv_id = 'conv-00000000'").selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    pipe.run(t0.unionByName(late))
    s2 = rep.sync()
    assert s2["hourly"]["mode"] == "full", s2
    _assert_parity(rep)
