"""Exact categorical frequency tier state (`freq_cols`) through the FULL
TierPipeline: exact (as entry multisets) under salting and two tier
compositions, carried by the LOCF densifier, and enabled on an existing
root as a one-time fingerprint-gated migration — the same schema-evolution
story as hist_cols, with a map-typed state whose internal key order is
merge-dependent (hence canonical sorted-entry comparison everywhere)."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import build_tiers, observed_state  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _freqs(df, col="tool_freq"):
    return {
        (r["conv_id"], r["bucket_start"]): (
            tuple(sorted(r[col].items())) if r[col] is not None else None
        )
        for r in df.select("conv_id", "bucket_start", col).collect()
    }


def test_freq_composition_and_salting_exact(spark, t0, tmp_path):
    """Pipeline (salted) == direct build_tiers (unsalted) == brute force
    from raw, at every tier — compared as sorted entry tuples (maps are
    exact as multisets; internal order is merge-dependent). A bucket with
    no values carries an EMPTY map, never null (the HLL empty-sketch
    precedent), so the densifier's gap-carry can't fire on observed rows."""
    pipe = TierPipeline(spark, str(tmp_path / "q"), salted=True, freq_cols=["tool"])
    pipe.run(t0)
    direct = build_tiers(t0, freq_cols=["tool"])
    for tier in ("hourly", "daily", "monthly"):
        got = _freqs(observed_state(pipe.read_tier(tier)))
        exp = _freqs(direct[tier])
        assert None not in got.values() and None not in exp.values(), tier
        assert got == exp, tier

    raw = (
        t0.filter(F.col("tool").isNotNull())
        .groupBy(
            "conv_id",
            F.date_trunc("month", "ts").cast("timestamp_ntz").alias("b"),
            "tool",
        )
        .count()
        .collect()
    )
    exp_m: dict = {}
    for r in raw:
        exp_m.setdefault((r["conv_id"], r["b"]), {})[r["tool"]] = r["count"]
    for k, v in _freqs(pipe.read_tier("monthly")).items():
        assert dict(v) == exp_m.get(k, {}), k


def test_freq_locf_densify_carries_maps(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "f"), freq_cols=["tool"])
    pipe.run(t0, stages=("hourly",))
    hourly = pipe.read_tier("hourly")
    filled = hourly.filter(F.col("filled"))
    if filled.isEmpty():
        pytest.skip("synth produced no intra-day gaps")
    rows = hourly.select(
        "conv_id", "bucket_start", "filled", "tool_freq"
    ).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["conv_id"], []).append(r)
    checked = 0
    for conv, rs in by_key.items():
        rs.sort(key=lambda r: r["bucket_start"])
        last_obs = None
        for r in rs:
            if not r["filled"]:
                last_obs = r
            else:
                assert last_obs is not None
                assert r["tool_freq"] == last_obs["tool_freq"]
                checked += 1
    assert checked > 0


def test_freq_enable_is_one_time_migration(spark, t0, tmp_path):
    root = str(tmp_path / "m")
    plain = TierPipeline(spark, root)
    plain.run(t0)
    assert "tool_freq" not in plain.read_tier("hourly").columns

    mig = TierPipeline(spark, root, freq_cols=["tool"])
    res = mig.run(t0)
    assert res["stages"]["hourly"] > 0
    assert res["stages"]["daily"] > 0 and res["stages"]["monthly"] > 0
    for tier in ("hourly", "daily", "monthly"):
        assert "tool_freq" in mig.read_tier(tier).columns, tier

    res2 = TierPipeline(spark, root, freq_cols=["tool"]).run(t0)
    assert all(v == 0 for v in res2["stages"].values()), res2
    # the non-freq state is unchanged by the migration
    direct = build_tiers(t0)
    got = {
        (r["conv_id"], r["bucket_start"]): r["n_turns"]
        for r in observed_state(mig.read_tier("monthly")).collect()
    }
    exp = {
        (r["conv_id"], r["bucket_start"]): r["n_turns"]
        for r in direct["monthly"].collect()
    }
    assert got == exp


def test_freq_composes_with_all_modes(spark, t0, tmp_path):
    """freq state rides the full mode stack (salted × sketches × snapshots
    × WAP) — maps equal the plain+freq reference as entry multisets at
    every tier."""
    pipe = TierPipeline(
        spark,
        str(tmp_path / "six"),
        salted=True,
        sketch_cols=["tool"],
        freq_cols=["tool", "role"],
        snapshots=True,
        wap=True,
    )
    pipe.run(t0)
    ref = TierPipeline(
        spark, str(tmp_path / "sref"), freq_cols=["tool", "role"]
    )
    ref.run(t0)
    for tier in ("hourly", "daily", "monthly"):
        a, b = pipe.read_tier(tier), ref.read_tier(tier)
        for col in ("tool_freq", "role_freq"):
            assert _freqs(a, col) == _freqs(b, col), (tier, col)
