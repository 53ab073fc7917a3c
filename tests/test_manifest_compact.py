"""Manifest compaction (round-4 session 8): every commit() writes one
immutable parquet file, so a long budgeted backfill accumulates thousands
of tiny files that every read() must union. Manifest.compact() folds them
into one file; the tests pin:

1. identity: compaction is content-identical (row-for-row) and the next
   run is still a no-op resume;
2. prune_superseded keeps exactly what the consumers need — latest row
   per (stage, partition_key), all run-barrier/retention/forget history,
   all sentinel rows — and late data afterwards still re-rolls;
3. time travel (run_snapshots / read_consistent) survives pruning;
4. a torn compaction (merged file renamed in, old files not yet
   unlinked) loses nothing and the next compact() heals the duplicates.
"""

import os
import shutil
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=40, hot_turns=300)
    df.cache().count()
    return df


def _late(t0, day, bump):
    return t0.unionByName(
        t0.limit(20).withColumns(
            {
                "ts": F.to_timestamp(F.lit(f"{day} 05:00:00")),
                "turn_idx": F.col("turn_idx") + bump,
            }
        )
    )


def _manifest_pdf(pipe) -> pd.DataFrame:
    return (
        pipe.manifest.read()
        .toPandas()
        .sort_values(
            ["stage", "partition_key", "committed_at", "run_id"],
            ignore_index=True,
        )
    )


def _files(pipe) -> list[str]:
    return sorted(
        f for f in os.listdir(pipe.manifest.path) if f.endswith(".parquet")
    )


def _mid_day(pipe):
    return sorted(
        r["bucket_date"]
        for r in pipe.read_tier("hourly").select("bucket_date").distinct().collect()
    )[1]


def test_compact_identity_and_noop_resume(spark, tmp_path, t0):
    pipe = TierPipeline(spark, str(tmp_path / "root"), lease=False)
    pipe.run(t0)
    # late data forces a re-roll so superseded fingerprint rows exist
    pipe.run(_late(t0, _mid_day(pipe), 1_000_000))
    before = _manifest_pdf(pipe)
    n_files = len(_files(pipe))
    assert n_files > 2

    stats = pipe.compact_manifest()
    assert stats["files_before"] == n_files and stats["files_after"] == 1
    assert stats["rows_before"] == stats["rows_after"] == len(before)
    assert len(_files(pipe)) == 1
    pd.testing.assert_frame_equal(_manifest_pdf(pipe), before)

    # resume semantics intact: same input is a complete no-op
    res = pipe.run(_late(t0, _mid_day(pipe), 1_000_000))
    assert all(v == 0 for v in res["stages"].values())


def test_compact_prune_superseded(spark, tmp_path, t0):
    pipe = TierPipeline(
        spark, str(tmp_path / "sroot"), snapshots=True, lease=False
    )
    r1 = pipe.run(t0)
    day = _mid_day(pipe)
    pipe.run(_late(t0, day, 1_000_000))
    before = _manifest_pdf(pipe)
    barrier_rows = before[before["stage"] == "snapshot"]
    assert len(barrier_rows) > 0
    hourly_before = pipe.read_tier("hourly").toPandas()

    stats = pipe.compact_manifest(prune_superseded=True)
    # the re-rolled day's first-run rows are superseded -> strictly fewer
    assert stats["rows_after"] < stats["rows_before"] == len(before)
    after = _manifest_pdf(pipe)
    # every run barrier survives (time travel + rollback targets)
    pd.testing.assert_frame_equal(
        after[after["stage"] == "snapshot"].reset_index(drop=True),
        barrier_rows.reset_index(drop=True),
    )
    # the latest row per (stage, key) survives verbatim
    latest = before.loc[
        before.groupby(["stage", "partition_key"])["committed_at"].idxmax()
    ]
    merged = latest.merge(
        after, how="left", indicator=True,
        on=list(before.columns),
    )
    assert (merged["_merge"] == "both").all()

    # time travel to the FIRST run still resolves after pruning
    snaps = pipe.run_snapshots(r1["run_id"])
    assert set(snaps) >= {"hourly", "daily", "monthly"}

    # resume still exact: no-op on same input, one-day re-roll on new late data
    res = pipe.run(_late(t0, day, 1_000_000))
    assert all(v == 0 for v in res["stages"].values())
    res2 = pipe.run(_late(t0, day, 2_000_000))
    assert res2["stages"]["hourly"] == 1
    assert pipe.read_tier("hourly").count() == len(hourly_before)


def test_compact_torn_then_healed(spark, tmp_path, t0):
    pipe = TierPipeline(spark, str(tmp_path / "torn"), lease=False)
    pipe.run(t0)
    before = _manifest_pdf(pipe)
    old = _files(pipe)
    # simulate the crash window: compaction renamed the merged file in but
    # died before unlinking the old commit files
    saved = tmp_path / "saved"
    saved.mkdir()
    for f in old:
        shutil.copy(os.path.join(pipe.manifest.path, f), saved / f)
    pipe.compact_manifest()
    for f in old:
        shutil.copy(saved / f, os.path.join(pipe.manifest.path, f))
    # duplicated rows are harmless to every latest/distinct consumer
    res = pipe.run(t0)
    assert all(v == 0 for v in res["stages"].values())
    # and the next compact heals them exactly (the no-op run added only its
    # run barrier)
    pipe.compact_manifest()
    assert len(_files(pipe)) == 1
    after = _manifest_pdf(pipe)
    mine = after["run_id"] == res["run_id"]
    assert set(after.loc[mine, "stage"]) == {"snapshot"}
    pd.testing.assert_frame_equal(after[~mine].reset_index(drop=True), before)
