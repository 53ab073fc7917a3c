"""Resume/idempotency tests (SURVEY.md §5.5): kill-after-stage-k -> rerun ->
identical tier contents, no duplicated partitions; manifest metrics match."""

import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.checkpoint import Manifest, pending_partitions  # noqa: E402
from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import build_tiers, tier_view  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

KEY = ["conv_id", "bucket_start"]


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=60, hot_turns=400)
    df.cache().count()
    return df


def _monthly_view(pipe):
    return (
        tier_view(pipe.read_tier("monthly"), "monthly")
        .toPandas()
        .sort_values(KEY, ignore_index=True)
    )


def test_manifest_atomic_commit(spark, tmp_path):
    m = Manifest(spark, str(tmp_path / "mani"))
    assert m.read().count() == 0
    m.commit([{"run_id": "r1", "stage": "hourly", "partition_key": "day=2026-01-01",
               "rows_in": 10, "rows_out": 3}])
    m.commit([{"run_id": "r1", "stage": "hourly", "partition_key": "day=2026-01-02"}])
    df = m.read()
    assert df.count() == 2
    assert set(
        r["partition_key"] for r in m.committed_keys("hourly").collect()
    ) == {"day=2026-01-01", "day=2026-01-02"}


def test_pending_anti_join(spark, tmp_path):
    m = Manifest(spark, str(tmp_path / "mani2"))
    m.commit([{"run_id": "r", "stage": "s", "partition_key": "day=a"}])
    work = spark.createDataFrame(
        [("day=a",), ("day=b",)], "partition_key string"
    )
    left = [r["partition_key"] for r in pending_partitions(work, m, "s").collect()]
    assert left == ["day=b"]


def test_full_run_matches_direct_rollup(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "p1"))
    res = pipe.run(t0)
    assert all(n > 0 for n in res["stages"].values()), res
    got = _monthly_view(pipe)
    exp = (
        tier_view(build_tiers(t0)["monthly"], "monthly")
        .toPandas()
        .sort_values(KEY, ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        got[exp.columns], exp, check_dtype=False
    )


def test_rerun_is_noop(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "p2"))
    pipe.run(t0)
    before = _monthly_view(pipe)
    res2 = pipe.run(t0)
    assert all(n == 0 for n in res2["stages"].values()), res2
    after = _monthly_view(pipe)
    pd.testing.assert_frame_equal(before, after)


def test_kill_after_stage_then_resume(spark, t0, tmp_path):
    root = str(tmp_path / "p3")
    pipe = TierPipeline(spark, root)
    # simulate a crash after the hourly+daily stages committed
    partial = pipe.run(t0, stages=("hourly", "daily"))
    assert partial["stages"]["hourly"] > 0 and partial["stages"]["daily"] > 0
    # resume: hourly/daily skipped, rest runs
    res = pipe.run(t0)
    assert res["stages"]["hourly"] == 0 and res["stages"]["daily"] == 0
    assert res["stages"]["monthly"] > 0 and res["stages"]["compress"] > 0
    ref = TierPipeline(spark, str(tmp_path / "p3ref"))
    ref.run(t0)
    pd.testing.assert_frame_equal(_monthly_view(pipe), _monthly_view(ref))


def test_incremental_new_days_only(spark, t0, tmp_path):
    """Late-arriving full days are processed; committed days are skipped."""
    pipe = TierPipeline(spark, str(tmp_path / "p4"))
    cutoff = "2026-02-01"
    first = t0.filter(F.to_date("ts") < cutoff)
    pipe.run(first)
    n_days_first = {
        r["partition_key"]
        for r in pipe.manifest.committed_keys("hourly").collect()
    }
    res2 = pipe.run(t0)  # full data: only new days processed
    n_new = res2["stages"]["hourly"]
    all_days = {
        r["partition_key"]
        for r in pipe.manifest.committed_keys("hourly").collect()
    }
    assert n_new == len(all_days) - len(n_days_first) and n_new > 0
    ref = TierPipeline(spark, str(tmp_path / "p4ref"))
    ref.run(t0)
    pd.testing.assert_frame_equal(_monthly_view(pipe), _monthly_view(ref))


def test_pending_fingerprint_diff(spark, tmp_path):
    """A committed key whose input fingerprint changed is pending again."""
    m = Manifest(spark, str(tmp_path / "mani3"))
    m.commit([
        {"run_id": "r", "stage": "s", "partition_key": "day=a",
         "input_snapshot_id": "old-fp"},
        {"run_id": "r", "stage": "s", "partition_key": "day=b",
         "input_snapshot_id": "fp-b"},
    ])
    # a later commit supersedes day=a — the LATEST snapshot must win
    m.commit([{"run_id": "r2", "stage": "s", "partition_key": "day=a",
               "input_snapshot_id": "fp-a"}])
    work = spark.createDataFrame(
        [("day=a", 1, "fp-a"), ("day=b", 1, "fp-b2"), ("day=c", 1, "fp-c")],
        "partition_key string, rows_in long, input_snapshot_id string",
    )
    got = sorted(
        r["partition_key"]
        for r in pending_partitions(work, m, "s").collect()
    )
    assert got == ["day=b", "day=c"]  # b changed, c new, a unchanged


def test_late_data_reroll_cascade(spark, t0, tmp_path):
    """J4: rows arriving after their day/month was committed trigger a
    re-roll of exactly the affected partitions, and the final tiers equal a
    from-scratch run over the full data. The cutoff is MID-month so the
    monthly tier is provably stale without the fingerprint diff."""
    late_day = (
        t0.groupBy(F.to_date("ts").alias("d")).count()
        .orderBy(F.desc("count")).limit(1).collect()[0]["d"]
    )
    late = t0.filter(
        (F.to_date("ts") == F.lit(late_day)) & (F.hour("ts") >= 12)
    )
    first = t0.exceptAll(late)
    assert late.count() > 0 and first.count() > 0

    pipe = TierPipeline(spark, str(tmp_path / "p6"))
    pipe.run(first)
    before_keys = {
        r["partition_key"]
        for r in pipe.manifest.committed_keys("hourly").collect()
    }
    assert f"day={late_day}" in before_keys  # the day WAS committed

    res2 = pipe.run(t0)  # full data incl. stragglers
    assert res2["stages"]["hourly"] >= 1  # late day re-rolled
    assert res2["stages"]["monthly"] >= 1  # cascaded to its month
    ref = TierPipeline(spark, str(tmp_path / "p6ref"))
    ref.run(t0)
    pd.testing.assert_frame_equal(_monthly_view(pipe), _monthly_view(ref))
    # third run over identical data is a full no-op (fingerprints stable)
    res3 = pipe.run(t0)
    assert all(n == 0 for n in res3["stages"].values()), res3


CHUNK_KEYS = ["conv_id", "metric", "chunk_start"]


@pytest.fixture(scope="module")
def scratch_chunks(spark, t0, tmp_path_factory):
    """Chunk rows of one from-scratch run over t0 (the same in either
    storage mode)."""
    ref = TierPipeline(spark, str(tmp_path_factory.mktemp("ref")))
    ref.run(t0)
    return (
        ref.read_table("chunks").toPandas()
        .sort_values(CHUNK_KEYS, ignore_index=True)
    )


@pytest.mark.parametrize("snapshots", [False, True], ids=["plain", "snapshot"])
def test_one_day_late_batch_rebuilds_one_chunk_month(
    spark, t0, tmp_path, snapshots, scratch_chunks
):
    """Chunks are keyed by month: late rows for one day re-roll exactly
    the compress partition of that day's month, and the chunks then equal
    a from-scratch run's."""
    late_day = (
        t0.groupBy(F.to_date("ts").alias("d")).count()
        .orderBy(F.desc("count")).limit(1).collect()[0]["d"]
    )
    late = t0.filter(
        (F.to_date("ts") == F.lit(late_day)) & (F.hour("ts") >= 12)
    )
    pipe = TierPipeline(spark, str(tmp_path / "p"), snapshots=snapshots)
    pipe.run(t0.exceptAll(late))
    res = pipe.run(t0)
    assert res["stages"]["compress"] == 1, res
    m = pipe.manifest.read_pandas()
    built = m[(m["run_id"] == res["run_id"]) & (m["stage"] == "compress")]
    assert list(built["partition_key"]) == [f"month={str(late_day)[:7]}"]
    pd.testing.assert_frame_equal(
        pipe.read_table("chunks").toPandas()
        .sort_values(CHUNK_KEYS, ignore_index=True),
        scratch_chunks,
    )


def test_manifest_rowcount_metrics(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "p5"))
    pipe.run(t0, stages=("hourly",))
    mani = pipe.manifest.read().filter(F.col("stage") == "hourly").toPandas()
    assert (mani["rows_in"] > 0).all() and (mani["rows_out"] > 0).all()
    # totals match the actual tables
    assert mani["rows_out"].sum() == pipe.read_tier("hourly").count()
    from engine.bucket import dedup_turns, mask_valid

    assert mani["rows_in"].sum() == dedup_turns(mask_valid(t0)).count()


def test_work_manifest_fingerprint_properties(spark):
    """The late-data detector must be (a) invariant under row order and
    partitioning, (b) sensitive to any single-row value change, row
    addition, or row removal within a key."""
    from engine.checkpoint import work_manifest

    rows = [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 1, "c"), ("k2", 2, "d")]
    schema = "key string, idx int, payload string"

    def fp(data, parts=None):
        df = spark.createDataFrame(data, schema)
        if parts:
            df = df.repartition(parts)
        out = work_manifest(df, F.col("key"), ["idx", "payload"], "k")
        return {
            r["partition_key"]: (r["rows_in"], r["input_snapshot_id"])
            for r in out.collect()
        }

    base = fp(rows)
    assert set(base) == {"k=k1", "k=k2"}
    assert base["k=k1"][0] == 2
    # order/partitioning invariance
    assert fp(list(reversed(rows))) == base
    assert fp(rows, parts=7) == base
    # sensitivity: value change, addition, removal — each flips exactly k1
    changed = fp([("k1", 1, "a"), ("k1", 2, "X"), ("k2", 1, "c"), ("k2", 2, "d")])
    assert changed["k=k2"] == base["k=k2"]
    assert changed["k=k1"] != base["k=k1"]
    added = fp(rows + [("k1", 3, "e")])
    assert added["k=k1"] != base["k=k1"] and added["k=k2"] == base["k=k2"]
    removed = fp(rows[1:])
    assert removed["k=k1"] != base["k=k1"] and removed["k=k2"] == base["k=k2"]
    # a swapped pair of identical-looking rows across keys changes BOTH
    swapped = fp([("k1", 1, "c"), ("k1", 2, "b"), ("k2", 1, "a"), ("k2", 2, "d")])
    assert swapped["k=k1"] != base["k=k1"] and swapped["k=k2"] != base["k=k2"]


def test_full_partition_delete_invalidates_output(spark, t0, tmp_path):
    """ADVICE r2: a committed partition whose input rows were ENTIRELY
    deleted produces no work row — the stale committed output must be
    dropped, and a later resurrection of the data must re-roll it."""
    import os

    pipe = TierPipeline(spark, str(tmp_path / "pdel"))
    pipe.run(t0, stages=("hourly",))
    days = sorted(
        r["partition_key"].split("=", 1)[1]
        for r in pipe.manifest.committed_keys("hourly").collect()
    )
    victim = days[0]
    part_dir = os.path.join(pipe.tier_data_path("hourly"), f"bucket_date={victim}")
    assert os.path.exists(part_dir)

    shrunk = t0.filter(F.to_date("ts") != F.lit(victim))
    res = pipe.run(shrunk, stages=("hourly",))
    assert res["stages"]["hourly"] == 0  # no surviving day changed
    part_dir = os.path.join(pipe.tier_data_path("hourly"), f"bucket_date={victim}")
    assert not os.path.exists(part_dir), "stale output partition must be gone"
    hourly = pipe.read_tier("hourly")
    assert hourly.filter(F.col("bucket_date") == F.lit(victim)).count() == 0
    # tier now equals a from-scratch run over the shrunk input
    ref = TierPipeline(spark, str(tmp_path / "pdel_ref"))
    ref.run(shrunk, stages=("hourly",))
    assert hourly.count() == ref.read_tier("hourly").count()

    # resurrection: the day returns with identical content -> re-rolled
    # (the DELETED sentinel matches no real fingerprint)
    res3 = pipe.run(t0, stages=("hourly",))
    assert res3["stages"]["hourly"] == 1
    part_dir = os.path.join(pipe.tier_data_path("hourly"), f"bucket_date={victim}")
    assert os.path.exists(part_dir)
    ref2 = TierPipeline(spark, str(tmp_path / "pdel_ref2"))
    ref2.run(t0, stages=("hourly",))
    cols = ["conv_id", "bucket_start", "n_turns"]
    pd.testing.assert_frame_equal(
        pipe.read_tier("hourly").toPandas().sort_values(KEY, ignore_index=True)[cols],
        ref2.read_tier("hourly").toPandas().sort_values(KEY, ignore_index=True)[cols],
    )


def test_both_legs_failing_raises_monthly_error(spark, tmp_path, monkeypatch):
    """The monthly and series legs run concurrently; when both fail, the
    monthly error (first in stage order) propagates and carries the series
    error as its context."""
    import engine.pipeline as pl

    class MonthlyBoom(RuntimeError):
        pass

    class SeriesBoom(RuntimeError):
        pass

    real_rollup_up = pl.rollup_up

    def rollup_up(lower, to_tier):
        if to_tier == "monthly":
            raise MonthlyBoom(to_tier)
        return real_rollup_up(lower, to_tier)

    def make_chunks(*a, **k):
        raise SeriesBoom("compress")

    monkeypatch.setattr(pl, "rollup_up", rollup_up)
    monkeypatch.setattr(pl, "make_chunks", make_chunks)
    pipe = TierPipeline(spark, str(tmp_path / "root"), lease=False)
    with pytest.raises(MonthlyBoom) as ei:
        pipe.run(synth_transcripts(spark, n_convs=3, hot_turns=20))
    assert isinstance(ei.value.__context__, SeriesBoom)


#: every state family enabled, inputs deliberately unsorted and duplicated;
#: the Σxy pair sorts before the Σx² column
PIN_FAMILIES = dict(
    sketch_cols=["tool", "role"],
    hist_cols={"token_count": (0.0, 50.0, 8), "is_tool": (0, 1, 2)},
    firstlast_cols=["tool", "role"],
    sumsq_cols=["token_count"],
    sumprod_cols=[("is_tool", "token_count")],
    freq_cols=["tool", "role"],
    hh_cols={"role": 4, "tool": 16},
    kmv_cols={"tool": 8},
    session_gaps=[60, 30, 30],
    statedur_cols=["role", "role"],
    twa_cols=["token_count"],
    qsk_cols=["token_count", "is_tool"],
    topn_cols={"token_count": 3},
    botn_cols={"token_count": 2},
)


def test_family_fingerprint_pinned(spark, tmp_path):
    """The day-stage config token, the tier-state hash columns and the
    normalised family attributes are persisted (in manifests) or read by
    the serving API; any change silently re-rolls every day of an
    existing root, so they are pinned literally."""
    pipe = TierPipeline(
        spark, str(tmp_path / "root"), hourly_layout=2, **PIN_FAMILIES
    )
    assert pipe._day_token == (
        "sketch:role,tool|hist:is_tool=0,1,2;token_count=0.0,50.0,8"
        "|fl:role;tool|sq:token_count|sp:is_tool*token_count|fq:role;tool"
        "|hh:role=4;tool=16|kmv:tool=8|sess:30;60|sd:role|twa:token_count"
        "|qsk:is_tool;token_count|topn:token_count=3|botn:token_count=2"
        "|layout:2"
    )
    assert [str(c) for c in pipe._tier_hash_cols()] == [
        "conv_id", "bucket_start", "n_turns", "token_sum", "token_min",
        "token_max", "tool_sum", "tool_min", "tool_max", "hours_count",
        "hturns_min", "hturns_max",
        "Column<'hll_sketch_estimate(role_hll)'>",
        "Column<'hll_sketch_estimate(tool_hll)'>",
        "Column<'is_tool_hist'>",
        "Column<'token_count_hist'>",
        "Column<'role_first'>",
        "Column<'role_last'>",
        "Column<'tool_first'>",
        "Column<'tool_last'>",
        "Column<'token_count_sumsq'>",
        "Column<'is_tool_x_token_count_sumprod'>",
        "Column<'to_json(sort_array(map_entries(role_freq), true))'>",
        "Column<'to_json(sort_array(map_entries(tool_freq), true))'>",
        "Column<'to_json(sort_array(map_entries(role_hh4), true))'>",
        "Column<'role_hhn4'>",
        "Column<'to_json(sort_array(map_entries(tool_hh16), true))'>",
        "Column<'tool_hhn16'>",
        "Column<'to_json(tool_kmv8)'>",
        "Column<'to_json(sessions_g30)'>",
        "Column<'to_json(sessions_g60)'>",
        "Column<'statedur_role['first_us']'>",
        "Column<'statedur_role['last_us']'>",
        "Column<'statedur_role['last_state']'>",
        "Column<'to_json(sort_array(map_entries(statedur_role['durs']), true))'>",
        "Column<'to_json(twa_token_count)'>",
        "Column<'to_json(sort_array(map_entries(is_tool_qsk), true))'>",
        "Column<'to_json(sort_array(map_entries(token_count_qsk), true))'>",
        "Column<'to_json(token_count_top3)'>",
        "Column<'to_json(token_count_bot2)'>",
    ]
    attrs = {
        k: list(v.items()) if isinstance(v, dict) else v
        for k, v in ((k, getattr(pipe, k)) for k in PIN_FAMILIES)
    }
    assert attrs == {
        "sketch_cols": ["tool", "role"],
        "hist_cols": [("token_count", (0.0, 50.0, 8)), ("is_tool", (0, 1, 2))],
        "firstlast_cols": ["role", "tool"],
        "sumsq_cols": ["token_count"],
        "sumprod_cols": [("is_tool", "token_count")],
        "freq_cols": ["role", "tool"],
        "hh_cols": [("role", 4), ("tool", 16)],
        "kmv_cols": [("tool", 8)],
        "session_gaps": [30, 60],
        "statedur_cols": ["role"],
        "twa_cols": ["token_count"],
        "qsk_cols": ["is_tool", "token_count"],
        "topn_cols": [("token_count", 3)],
        "botn_cols": [("token_count", 2)],
    }
    # defaults add nothing, so historical fingerprints stay byte-identical
    plain = TierPipeline(spark, str(tmp_path / "plain"))
    assert plain._day_token == ""
    assert [str(c) for c in plain._tier_hash_cols()] == [
        "conv_id", "bucket_start", "n_turns", "token_sum", "token_min",
        "token_max", "tool_sum", "tool_min", "tool_max", "hours_count",
        "hturns_min", "hturns_max",
    ]
