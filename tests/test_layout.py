"""Partition-spec evolution (VERDICT r3 #7): hourly day → (day,
conv_bucket) sub-partitioning as a layout-version fingerprint change.
Old-layout snapshots stay readable via time travel; the migration re-rolls
every day exactly once and does NOT cascade to the downstream tiers
(tier-state fingerprints hash rows, never layout)."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.pipeline import TierPipeline  # noqa: E402
from engine.snapstore import SnapStore  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    from engine.synth import synth_transcripts

    df = synth_transcripts(spark, n_convs=30, hot_turns=150)
    df.cache().count()
    return df


def _pdf(df, keys=("conv_id", "bucket_start")):
    out = df.toPandas().sort_values(list(keys), ignore_index=True)
    # partition-derived conv_bucket may read back a different int width
    if "conv_bucket" in out.columns:
        out["conv_bucket"] = out["conv_bucket"].astype("int64")
    return out.reindex(sorted(out.columns), axis=1)


def _day_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith("bucket_date="))


def test_layout_evolution_snapshot_mode(spark, t0, tmp_path):
    root = str(tmp_path / "snap")
    v1 = TierPipeline(spark, root, snapshots=True)
    v1.run(t0)
    store = SnapStore(v1.tier_path("hourly"))
    s_old = store.current_id()
    hourly_v1 = _pdf(v1.read_tier("hourly"))
    daily_v1 = _pdf(v1.read_tier("daily"))
    # old layout: day dirs contain files, no sub-partitions
    day0 = os.path.join(store.snapshot_path(s_old), _day_dirs(store.snapshot_path(s_old))[0])
    assert not any(d.startswith("conv_bucket=") for d in os.listdir(day0))

    v2 = TierPipeline(spark, root, snapshots=True, hourly_layout=2)
    res = v2.run(t0)
    # migration: every day re-rolled once; downstream tiers did NOT cascade
    assert res["stages"]["hourly"] > 0
    assert res["stages"]["daily"] == 0
    assert res["stages"]["monthly"] == 0
    s_new = SnapStore(v2.tier_path("hourly")).current_id()
    assert s_new != s_old
    day0n = os.path.join(
        store.snapshot_path(s_new), _day_dirs(store.snapshot_path(s_new))[0]
    )
    subs = [d for d in os.listdir(day0n) if d.startswith("conv_bucket=")]
    assert subs  # evolved spec on disk
    assert not any(f.endswith(".parquet") for f in os.listdir(day0n))
    # rows identical across the spec change
    pd.testing.assert_frame_equal(_pdf(v2.read_tier("hourly")), hourly_v1)
    pd.testing.assert_frame_equal(_pdf(v2.read_tier("daily")), daily_v1)
    # the pre-migration snapshot is still readable, in its OLD layout
    old = store.read(spark, as_of=s_old)
    pd.testing.assert_frame_equal(_pdf(old), hourly_v1)
    # conv-scoped reads prune within a day on the new layout: a conv_bucket
    # filter reaches the scan as a partition filter
    plan = (
        v2.read_tier("hourly")
        .filter(F.col("conv_bucket") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "conv_bucket" in plan and "PartitionFilters" in plan
    # a second v2 run is a no-op (fingerprints stable at the new layout)
    res2 = TierPipeline(spark, root, snapshots=True, hourly_layout=2).run(t0)
    assert res2["stages"]["hourly"] == 0


def test_layout_evolution_plain_mode_and_compaction(spark, t0, tmp_path):
    root = str(tmp_path / "plain")
    v1 = TierPipeline(spark, root)
    v1.run(t0)
    hourly_v1 = _pdf(v1.read_tier("hourly"))
    v2 = TierPipeline(spark, root, hourly_layout=2)
    res = v2.run(t0)
    assert res["stages"]["hourly"] > 0 and res["stages"]["daily"] == 0
    # no old-layout files left mixed into the day dirs
    day0 = os.path.join(
        v2.tier_data_path("hourly"), _day_dirs(v2.tier_data_path("hourly"))[0]
    )
    assert not any(f.endswith(".parquet") for f in os.listdir(day0))
    pd.testing.assert_frame_equal(_pdf(v2.read_tier("hourly")), hourly_v1)
    # compaction keeps the evolved spec
    from engine.retention import compact_partition

    compact_partition(v2, "hourly")
    day0c = os.path.join(
        v2.tier_data_path("hourly"), _day_dirs(v2.tier_data_path("hourly"))[0]
    )
    assert any(d.startswith("conv_bucket=") for d in os.listdir(day0c))
    pd.testing.assert_frame_equal(_pdf(v2.read_tier("hourly")), hourly_v1)
    # downgrade also works (spec change is symmetric)
    v3 = TierPipeline(spark, root)
    res3 = v3.run(t0)
    assert res3["stages"]["hourly"] > 0
    pd.testing.assert_frame_equal(_pdf(v3.read_tier("hourly")), hourly_v1)


@pytest.mark.parametrize("snapshots", [False, True], ids=["plain", "snapshot"])
def test_same_depth_spec_change_clears_old_dirs(spark, tmp_path, snapshots):
    """A partition-spec change at the SAME depth (conv_bucket= to
    chunk_month=, as the chunks re-keying does) must not leave both kinds
    of directory in one table: Spark refuses to read conflicting partition
    columns. The write clears the old spec's directories first."""
    pipe = TierPipeline(spark, str(tmp_path / "r"), snapshots=snapshots)
    df = spark.range(6).select(
        F.col("id").alias("v"),
        (F.col("id") % 3).cast("int").alias("a"),
        F.format_string("m%d", F.col("id") % 2).alias("b"),
    )
    path = os.path.join(pipe.root, "t")
    pipe._write_table(df.drop("b"), path, ["a"])
    pipe._write_table(df.drop("a"), path, ["b"])
    got = pipe._read_path(path)
    assert sorted(got.columns) == ["b", "v"]
    assert sorted(r["v"] for r in got.collect()) == list(range(6))
    store = SnapStore(path)
    d = store.snapshot_path(store.current_id())
    parts = sorted(e for e in os.listdir(d) if "=" in e)
    assert parts == ["b=m0", "b=m1"], parts
