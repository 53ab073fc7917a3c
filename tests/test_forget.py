"""Right-to-be-forgotten (engine/forget.py): targeted conversation deletion
through every engine-owned table.

Invariants pinned here:
- forget(+input re-run) == a fresh pipeline built on the filtered input,
  bit-exact, on every table (tiers, chunks) and on the gap-fill served
  from them;
- only days that contained the deleted conversations re-roll (incremental);
- re-presenting the ORIGINAL input after deletion is a complete no-op — a
  tombstoned conversation can never resurrect from late/backfilled data;
- a day whose every row belonged to deleted conversations drops with the
  stale sentinel;
- retention-frozen partitions (not re-rollable from raw) are erased exactly
  by the surgical sweep;
- snapshot mode: pre-deletion history stays time-travelable until expired,
  after which the data is truly gone.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.forget import (  # noqa: E402
    forget_conversations,
    forget_sweep,
    leftover_conversations,
)
from engine.pipeline import TierPipeline  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    return synth_transcripts(spark, n_convs=40, hot_turns=300).localCheckpoint()


#: quiet-tail conversations (zipf: high cid = few turns, few days touched) —
#: deleting them must re-roll only their days, not the whole table
DOOMED = ["conv-00000037", "conv-00000040"]

_TABLES = ("hourly", "daily", "monthly", "chunks")


def _frames(pipe):
    """Every table, plus the whole-span gap-fill served on read."""
    from engine.rewrite import serve_gapfill

    out = {name: pipe.read_table(name) for name in _TABLES}
    out["gapfill"] = serve_gapfill(
        pipe.read_tier("hourly"),
        pipe.read_table("chunks"), "2000-01-01", "2100-01-01",
        pipe.fill_method,
    )
    return out


def _assert_tables_equal(a: TierPipeline, b: TierPipeline):
    fa, fb = _frames(a), _frames(b)
    for name, da in fa.items():
        db = fb[name]
        assert sorted(da.columns) == sorted(db.columns), name
        db = db.select(*da.columns)
        assert da.exceptAll(db).count() == 0, f"{name}: extra rows vs rebuild"
        assert db.exceptAll(da).count() == 0, f"{name}: missing rows vs rebuild"


def test_forget_matches_filtered_rebuild_and_is_incremental(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "a"))
    pipe.run(t0, run_id="r0")

    rep = forget_conversations(pipe, DOOMED, t0=t0, run_id="r1")
    assert rep["tombstoned"] == sorted(DOOMED)
    assert all(v == 0 for v in leftover_conversations(pipe).values())

    ref = TierPipeline(spark, str(tmp_path / "b"))
    ref.run(t0.filter(~F.col("conv_id").isin(DOOMED)))
    _assert_tables_equal(pipe, ref)

    # incrementality: exactly the days containing the doomed convs re-rolled
    affected = {
        r["d"]
        for r in t0.filter(F.col("conv_id").isin(DOOMED))
        .select(F.to_date("ts").cast("string").alias("d"))
        .distinct()
        .collect()
    }
    all_days = {
        r["d"]
        for r in t0.select(F.to_date("ts").cast("string").alias("d"))
        .distinct()
        .collect()
    }
    assert affected < all_days, "fixture must leave untouched days"
    mf = pipe.manifest.read().filter(
        (F.col("stage") == "hourly") & (F.col("run_id") == "r1")
    )
    rerolled = {r["partition_key"].split("=", 1)[1] for r in mf.collect()}
    assert rerolled == affected


def test_no_resurrection_on_original_replay(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "nr"))
    pipe.run(t0)
    forget_conversations(pipe, DOOMED, t0=t0)
    # the original input (doomed convs present) replays as a complete no-op
    res = pipe.run(t0)
    for stage in ("hourly", "daily", "monthly", "compress"):
        assert res["stages"].get(stage, 0) == 0, res["stages"]
    assert all(v == 0 for v in leftover_conversations(pipe).values())


def test_wholly_deleted_day_drops_with_sentinel(spark, tmp_path):
    from engine.checkpoint import DELETED_SNAPSHOT

    def turn(conv, idx, day_hour):
        return (conv, idx, "user", f"text-{conv}-{idx}", None,
                datetime.fromisoformat(day_hour))

    rows = (
        [turn("conv-solo", i, f"2026-01-02T0{i}:00:00") for i in range(3)]
        + [turn("conv-keep", i, f"2026-01-01T0{i}:30:00") for i in range(4)]
        + [turn("conv-keep", 4 + i, f"2026-01-03T0{i}:15:00") for i in range(2)]
    )
    t0 = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp_ntz",
    )
    pipe = TierPipeline(spark, str(tmp_path / "wd"))
    pipe.run(t0)
    assert os.path.isdir(
        os.path.join(pipe.tier_data_path("hourly"), "bucket_date=2026-01-02")
    )
    forget_conversations(pipe, ["conv-solo"], t0=t0)
    assert not os.path.exists(
        os.path.join(pipe.tier_data_path("hourly"), "bucket_date=2026-01-02")
    )
    sentinels = (
        pipe.manifest.read()
        .filter(
            (F.col("stage") == "hourly")
            & (F.col("input_snapshot_id") == DELETED_SNAPSHOT)
        )
        .collect()
    )
    assert {r["partition_key"] for r in sentinels} == {"day=2026-01-02"}
    assert all(v == 0 for v in leftover_conversations(pipe).values())
    ref = TierPipeline(spark, str(tmp_path / "wd-ref"))
    ref.run(t0.filter(F.col("conv_id") != "conv-solo"))
    _assert_tables_equal(pipe, ref)


def test_sweep_erases_frozen_partitions_without_input(spark, t0, tmp_path):
    """Hourly days retention-dropped and the month frozen: the deletion
    can't re-roll from raw — the surgical sweep rewrites the frozen
    monthly (and remaining) partitions exactly."""
    from engine.retention import (
        drop_daily_partitions,
        droppable_daily_days,
        frozen_months,
    )

    pipe = TierPipeline(spark, str(tmp_path / "fz"))
    pipe.run(t0)
    days = droppable_daily_days(pipe, older_than="9999-12-31")
    victim_month = days[0][:7]
    month_days = [d for d in days if d.startswith(victim_month)]
    drop_daily_partitions(pipe, month_days, run_id="d1")
    assert frozen_months(pipe.manifest) == {victim_month}

    # the doomed convs must actually have rows in the frozen month
    doomed_frozen = (
        pipe._read_path(pipe.tier_path("monthly"))
        .filter(
            (F.col("bucket_month") == victim_month)
            & F.col("conv_id").isin(DOOMED)
        )
        .count()
    )
    assert doomed_frozen > 0, "fixture: doomed convs missing from frozen month"

    pipe.tombstones.append(DOOMED)
    swept = forget_sweep(pipe, run_id="f1")
    assert "monthly" in swept and any(
        k.startswith(f"bucket_month={victim_month}") for k in swept["monthly"]
    )
    assert all(v == 0 for v in leftover_conversations(pipe).values())

    # frozen monthly rows are conv-keyed, so sweeping the doomed convs out
    # equals the monthly a filtered rebuild would produce
    ref = TierPipeline(spark, str(tmp_path / "fz-ref"))
    ref.run(t0.filter(~F.col("conv_id").isin(DOOMED)))
    cur = pipe._read_path(pipe.tier_path("monthly"))
    want = ref._read_path(ref.tier_path("monthly")).select(*cur.columns)
    assert cur.exceptAll(want).count() == 0
    assert want.exceptAll(cur).count() == 0
    # freeze semantics intact: month still frozen after the sweep
    assert frozen_months(pipe.manifest) == {victim_month}
    # manifest carries the erasure lineage
    fg = pipe.manifest.read().filter(F.col("stage") == "forget")
    assert fg.filter(F.col("lineage") == "monthly").count() >= 1


def test_snapshot_history_travels_then_purges(spark, t0, tmp_path):
    from engine.retention import expire_snapshots
    from engine.snapstore import SnapshotError

    pipe = TierPipeline(spark, str(tmp_path / "sn"), snapshots=True)
    pipe.run(t0)
    hpath = pipe.tier_path("hourly")
    store = pipe._store(hpath)
    pre = store.current_id()
    forget_conversations(pipe, DOOMED, t0=t0)
    assert (
        pipe._read_path(hpath).filter(F.col("conv_id").isin(DOOMED)).count() == 0
    )
    # pre-deletion snapshot still shows the conversations (history intact)
    assert (
        store.read(spark, as_of=pre).filter(F.col("conv_id").isin(DOOMED)).count()
        > 0
    )
    # true erasure of history: expire everything but the current snapshot
    expire_snapshots(pipe, keep_last=1)
    with pytest.raises(SnapshotError):
        store.read(spark, as_of=pre)


def test_forget_parity_with_salted_state_cols(spark, tmp_path):
    """Deletion == filtered rebuild holds on the salted path with exact
    mergeable tier state enabled (freq maps + Σx²): re-rolls recompute the
    state from the filtered input, bit-identically."""
    t0 = synth_transcripts(spark, n_convs=20, hot_turns=150).localCheckpoint()
    kw = dict(salted=True, freq_cols=["role"], sumsq_cols=["token_count"])
    pipe = TierPipeline(spark, str(tmp_path / "sa"), **kw)
    pipe.run(t0)
    forget_conversations(pipe, ["conv-00000018"], t0=t0)
    ref = TierPipeline(spark, str(tmp_path / "sa-ref"), **kw)
    ref.run(t0.filter(F.col("conv_id") != "conv-00000018"))
    for name in ("hourly", "daily", "monthly"):
        cur = pipe._read_path(pipe.tier_path(name))
        want = ref._read_path(ref.tier_path(name)).select(*cur.columns)
        # freq map columns aren't exceptAll-comparable: canonicalize to
        # sorted entry arrays first
        for c, dt in cur.dtypes:
            if dt.startswith("map<"):
                cur = cur.withColumn(c, F.sort_array(F.map_entries(c)))
                want = want.withColumn(c, F.sort_array(F.map_entries(c)))
        assert cur.exceptAll(want).count() == 0, name
        assert want.exceptAll(cur).count() == 0, name


def test_stream_cannot_resurrect_tombstoned_conv(spark, tmp_path):
    """Streaming ingest funnels every trigger through pipe.run(), so the
    tombstone anti-join applies per micro-batch: a forgotten conversation
    arriving on the stream never reaches any tier."""
    from engine.streaming import run_stream_into_pipeline
    from engine.synth import synth_transcripts

    t0 = synth_transcripts(spark, n_convs=12, hot_turns=80)
    src = str(tmp_path / "src")
    t0.orderBy("ts").coalesce(1).write.parquet(src + "_one")
    spark.read.parquet(src + "_one").repartitionByRange(6, "ts").write.parquet(src)

    pipe = TierPipeline(spark, str(tmp_path / "sf"))
    doomed = ["conv-00000001"]  # the hot conv: present in every batch
    pipe.tombstones.append(doomed)
    out = run_stream_into_pipeline(
        spark, src, pipe, raw_path=str(tmp_path / "raw")
    )
    assert out["batches"] >= 2, out
    assert all(v == 0 for v in leftover_conversations(pipe).values())
    # everyone else made it through
    assert pipe.read_tier("monthly").select("conv_id").distinct().count() == 11


def test_forget_flows_through_incremental_consumer(spark, tmp_path):
    """Snapshot-mode forget produces an ordinary changelog diff, so the
    downstream incremental serving table drops the conversation with an
    INCREMENTAL refresh (only the affected days consumed), not a rebuild."""
    from engine.incremental import IncrementalConvSummary

    t0 = synth_transcripts(spark, n_convs=12, hot_turns=80).localCheckpoint()
    pipe = TierPipeline(spark, str(tmp_path / "ic"), snapshots=True)
    pipe.run(t0, stages=("hourly",))
    cons = IncrementalConvSummary(pipe, str(tmp_path / "serve"))
    assert cons.refresh()["mode"] == "full"
    doomed = "conv-00000011"
    assert cons.read().filter(F.col("conv_id") == doomed).count() == 1

    forget_conversations(pipe, [doomed], t0=t0)
    r = cons.refresh()
    assert r["mode"] == "incremental", r
    assert cons.read().filter(F.col("conv_id") == doomed).count() == 0
    # the other conversations' summaries are untouched
    assert cons.read().count() == 11
