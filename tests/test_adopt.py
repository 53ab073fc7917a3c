"""One storage path: every pipeline table is a SnapStore.

Earlier versions also had a plain mode that overwrote partition directories
in place. A root it wrote (tests/data/plain_root: a cold run, then one
hourly day dropped by retention) is adopted on first access: each table's
`k=v` directories move into a first snapshot with op 'adopt', which then
publishes. `snapshots=False` now only decides how much history a table
keeps: every write-side operation ends by expiring each table down to its
current snapshot and the ones the last sealed run's barrier pins."""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.forget import forget_conversations  # noqa: E402
from engine.pipeline import TierPipeline  # noqa: E402
from engine.retention import (  # noqa: E402
    compact_partition,
    drop_hourly_partitions,
    droppable_hourly_days,
)
from engine.snapstore import SnapStore  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

PLAIN_ROOT = Path(__file__).resolve().parent / "data" / "plain_root"
#: logical table -> its directory under a root
TABLE_DIRS = {
    "hourly": "tiers/hourly",
    "daily": "tiers/daily",
    "monthly": "tiers/monthly",
    "chunks": "chunks",
}
TIER_KEYS = ["conv_id", "bucket_start"]
CHUNK_KEYS = ["conv_id", "metric", "chunk_start"]


@pytest.fixture(scope="module")
def t0(spark):
    # the input tests/data/plain_root was built from
    return synth_transcripts(spark, n_convs=5, hot_turns=60).localCheckpoint()


@pytest.fixture(scope="module")
def plain_rows(spark):
    """Each table's rows as the plain tree holds them, read directly."""
    return {
        name: _rows(spark.read.parquet(str(PLAIN_ROOT / rel)))
        for name, rel in TABLE_DIRS.items()
    }


def _rows(df):
    keys = CHUNK_KEYS if "chunk_start" in df.columns else TIER_KEYS
    return (
        df.toPandas()
        .reindex(sorted(df.columns), axis=1)
        .sort_values(keys, ignore_index=True)
    )


def _plain_root(tmp_path) -> str:
    root = str(tmp_path / "root")
    shutil.copytree(PLAIN_ROOT, root)
    return root


def test_plain_root_adopts_reads_equal_and_next_run_builds_nothing(
    spark, t0, plain_rows, tmp_path
):
    root = _plain_root(tmp_path)
    pipe = TierPipeline(spark, root, lease=False)
    for name in TABLE_DIRS:
        pd.testing.assert_frame_equal(
            _rows(pipe.read_table(name)), plain_rows[name], obj=name
        )
        store = SnapStore(pipe.table_path(name))
        assert store.meta(store.current_id())["op"] == "adopt"
        assert not [e for e in os.listdir(store.root) if "=" in e], name
    res = pipe.run(t0)
    assert all(n == 0 for n in res["stages"].values()), res
    for name in TABLE_DIRS:
        pd.testing.assert_frame_equal(
            _rows(pipe.read_table(name)), plain_rows[name], obj=name
        )


class _Crash(RuntimeError):
    pass


def test_adoption_resumes_after_a_crash_at_every_move(
    spark, plain_rows, tmp_path, monkeypatch
):
    """Kill the adoption of the hourly table right after its k-th rename
    (the adopt snapshot's own directory, then one per partition directory),
    for every k: the staging sweep keeps the half-filled adopt snapshot,
    and the next access finishes it to the same rows."""
    n_moves = 1 + len(
        [e for e in os.listdir(PLAIN_ROOT / "tiers" / "hourly") if "=" in e]
    )
    real_rename = os.rename
    for k in range(1, n_moves + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(PLAIN_ROOT, root)
        pipe = TierPipeline(spark, root, lease=False)
        path = pipe.tier_path("hourly")
        moves = []

        def crashing_rename(src, dst, k=k, moves=moves):
            real_rename(src, dst)
            moves.append(src)
            if len(moves) == k:
                raise _Crash(k)

        monkeypatch.setattr(os, "rename", crashing_rename)
        with pytest.raises(_Crash):
            pipe.read_tier("hourly")
        monkeypatch.undo()
        store = SnapStore(path)
        assert store.current_id() is None
        assert store.clean_stale_staging() == []
        got = _rows(pipe.read_tier("hourly"))
        pd.testing.assert_frame_equal(got, plain_rows["hourly"], obj=f"k={k}")
        assert len(store.snapshot_ids()) == 1, k


def _assert_keep_one(pipe, sealed: bool) -> None:
    """Each table holds its current snapshot and the ones the last sealed
    run's barrier pins, nothing else; right after a seal, only one."""
    pins = pipe.run_snapshots()
    for name in pipe.TABLE_NAMES:
        store = SnapStore(pipe.table_path(name))
        ids = set(store.snapshot_ids())
        assert ids <= {store.current_id(), pins.get(name)}, (name, ids)
        if sealed:
            assert ids == {store.current_id()} == {pins[name]}, (name, ids)


def test_keep_one_root_expires_after_every_write(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "k1"), lease=False)
    pipe.run(t0)
    _assert_keep_one(pipe, sealed=True)

    days = droppable_hourly_days(pipe, "9999-12-31")
    assert drop_hourly_partitions(pipe, days[:1], run_id="ret") == days[:1]
    _assert_keep_one(pipe, sealed=False)

    compact_partition(pipe, "hourly")
    _assert_keep_one(pipe, sealed=False)

    doomed = (
        pipe.read_tier("hourly").select("conv_id").distinct()
        .orderBy(F.desc("conv_id")).first()["conv_id"]
    )
    rep = forget_conversations(pipe, [doomed], t0=t0)
    assert rep["run"] is not None
    _assert_keep_one(pipe, sealed=not rep["swept"])
    assert all(
        pipe.read_table(n).filter(F.col("conv_id") == doomed).count() == 0
        for n in pipe.TABLE_NAMES
    )

    # the changelog diff base survived the expiry: an unchanged rerun
    # prunes its daily scan to nothing and builds nothing
    res = pipe.run(t0)
    assert res["scans"]["daily"].startswith("pruned:0/"), res["scans"]
    assert all(n == 0 for n in res["stages"].values()), res
    _assert_keep_one(pipe, sealed=True)
