"""M47 mergeable sessionization tier state (engine/sessionstate.py):
per-bucket (first_us, last_us, n_islands) structs fold as a time-ordered
monoid, so session counts composed through the tiers equal a fresh
gaps-and-islands scan of raw — under salting, densify, grain regrouping,
and the pipeline's enable-as-migration story."""

import sys
from datetime import datetime, timedelta
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window, functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import (  # noqa: E402
    build_tiers,
    densify_hourly_locf,
    rollup_grain,
    rollup_hourly,
    rollup_up,
)
from engine.sessionstate import sess_state_col  # noqa: E402
from engine.skew import rollup_hourly_salted  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

G = 30
COL = sess_state_col(G)


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _direct_islands(t0, trunc_unit):
    """Bucket-local gaps-and-islands on raw: new session iff first turn
    in (conv, bucket) or gap > G (strictly greater)."""
    w = Window.partitionBy("conv_id", F.date_trunc(trunc_unit, "ts")).orderBy(
        "ts", "turn_idx"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    new = (
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > G * 60_000_000)
    ).cast("long")
    return {
        (r["conv_id"], r["b"]): r["n"]
        for r in t0.withColumn("_n", new)
        .groupBy(
            "conv_id",
            F.date_trunc(trunc_unit, "ts").cast("timestamp_ntz").alias("b"),
        )
        .agg(F.sum("_n").alias("n"))
        .collect()
    }


def _n(df):
    return {
        (r["conv_id"], r["bucket_start"]): r[COL]["n"] for r in df.collect()
    }


def _mini(spark, minutes):
    rows = [
        ("c", i, "user", "x", None, datetime(2026, 1, 1) + timedelta(minutes=m))
        for i, m in enumerate(minutes)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )


def test_every_tier_matches_direct_islands(spark, t0):
    tiers = build_tiers(t0, session_gaps=[G])
    assert _n(tiers["hourly"]) == _direct_islands(t0, "hour")
    assert _n(tiers["daily"]) == _direct_islands(t0, "day")
    assert _n(tiers["monthly"]) == _direct_islands(t0, "month")


def test_salted_leaf_composes_identically(spark, t0):
    plain = build_tiers(t0, session_gaps=[G])["monthly"]
    salted = rollup_up(
        rollup_up(rollup_hourly_salted(t0, 8, session_gaps=[G]), "daily"),
        "monthly",
    )
    a = {k: tuple(v) for k, v in _structs(plain).items()}
    b = {k: tuple(v) for k, v in _structs(salted).items()}
    assert a == b


def _structs(df):
    return {
        (r["conv_id"], r["bucket_start"]): (
            r[COL]["first_us"],
            r[COL]["last_us"],
            r[COL]["n"],
        )
        for r in df.collect()
    }


def test_boundary_convention_strictly_greater(spark):
    # gaps of exactly G minutes keep the session; G+1 splits — and the
    # split must survive an hourly->daily composition across the
    # bucket boundary (turn at :50, next at :21 of the following hour)
    one = build_tiers(_mini(spark, [0, G, 2 * G]), session_gaps=[G])
    assert _n(one["daily"]).popitem()[1] == 1
    split = build_tiers(
        _mini(spark, [0, G + 1, 2 * (G + 1)]), session_gaps=[G]
    )
    assert _n(split["daily"]).popitem()[1] == 3
    straddle = build_tiers(_mini(spark, [50, 81, 200]), session_gaps=[G])
    # 00:50 -> 01:21 (31 min) splits; 01:21 -> 03:20 splits: 3 sessions,
    # but hourly rows are (1, 1, 1) — the fold must NOT merge 00:50/01:21
    assert _n(straddle["hourly"]) == {
        ("c", datetime(2026, 1, 1, 0)): 1,
        ("c", datetime(2026, 1, 1, 1)): 1,
        ("c", datetime(2026, 1, 1, 3)): 1,
    }
    assert _n(straddle["daily"]).popitem()[1] == 3
    merge = build_tiers(_mini(spark, [50, 79, 200]), session_gaps=[G])
    # 00:50 -> 01:19 (29 min) merges across the hour boundary: 2 sessions
    assert _n(merge["daily"]).popitem()[1] == 2


def test_grain_regroup_carries_sessions(spark, t0):
    """rollup_grain composes session structs through state_merge_aggs:
    6h-grain session counts == direct 6h-bucket-local islands."""
    tiers = build_tiers(t0, session_gaps=[G])
    got = _n(rollup_grain(tiers, 6))
    span = 6 * 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    bucket = F.timestamp_micros(us - us % span).cast("timestamp_ntz")
    w = Window.partitionBy("conv_id", bucket).orderBy("ts", "turn_idx")
    new = (
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > G * 60_000_000)
    ).cast("long")
    want = {
        (r["conv_id"], r["b"]): r["n"]
        for r in t0.withColumn("_n", new)
        .groupBy("conv_id", bucket.alias("b"))
        .agg(F.sum("_n").alias("n"))
        .collect()
    }
    assert got == want


def test_densify_carries_session_state(spark, t0):
    dense = densify_hourly_locf(rollup_hourly(t0, session_gaps=[G]))
    filled = dense.filter("filled")
    if filled.count() == 0:
        pytest.skip("fixture has no intra-day gaps")
    assert filled.filter(F.col(COL).isNull()).count() == 0


def test_pipeline_migration_and_parity(spark, t0, tmp_path):
    """Enable-as-migration through the real pipeline: flipping
    session_gaps re-rolls the tiers once, leaves series stages untouched,
    is a steady-state no-op, and the persisted monthly counts equal the
    in-memory build."""
    root = str(tmp_path / "sess")
    r1 = TierPipeline(spark, root).run(t0)
    n_days = r1["stages"]["hourly"]
    pipe = TierPipeline(spark, root, session_gaps=[G])
    r2 = pipe.run(t0)
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["compress"] == 0
    assert _n(pipe.read_tier("monthly")) == _n(
        build_tiers(t0, session_gaps=[G])["monthly"]
    )
    r3 = TierPipeline(spark, root, session_gaps=[G]).run(t0)
    assert all(v == 0 for v in r3["stages"].values()), r3
    r4 = TierPipeline(spark, root).run(t0)
    assert r4["stages"]["hourly"] == n_days
    assert COL not in TierPipeline(spark, root).read_tier("hourly").columns


def test_range_rewrite_sessions_vs_raw(spark, t0):
    """rewrite_range_sessions across mixed tier spans == gaps-and-islands
    on the range's raw turns."""
    from datetime import datetime

    from engine.rewrite import rewrite_range_sessions, split_range

    tiers = build_tiers(t0, session_gaps=[G])
    lo, hi = datetime(2026, 1, 3, 7), datetime(2026, 3, 18, 12)
    assert len(split_range(lo, hi)) > 2
    got = {
        r["conv_id"]: r["n_sessions"]
        for r in rewrite_range_sessions(tiers, lo, hi, G).collect()
    }
    ntz = F.col("ts").cast("timestamp_ntz")
    raw = t0.filter((ntz >= F.lit(lo)) & (ntz < F.lit(hi)))
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    new = (
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > G * 60_000_000)
    ).cast("long")
    want = {
        r["conv_id"]: r["n"]
        for r in raw.withColumn("_n", new)
        .groupBy("conv_id")
        .agg(F.sum("_n").alias("n"))
        .collect()
    }
    assert got and got == want
