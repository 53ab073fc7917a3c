"""Mergeable HLL sketch columns through the FULL TierPipeline (the r3
schema-migration story on top of the r2 build_tiers support): enabling
`sketch_cols` on an existing root re-rolls every tier exactly once via the
fingerprint (schema evolution = fingerprint change), the salted leaf path
unions per-salt sketches estimate-exactly, and the composed monthly
estimate stays within the lgK=12 rsd of exact distinct-from-raw."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import build_tiers  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _est(df, col="tool_hll"):
    return {
        (r["conv_id"], r["bucket_start"]): r["est"]
        for r in df.select(
            "conv_id",
            "bucket_start",
            F.hll_sketch_estimate(col).alias("est"),
        ).collect()
    }


def test_pipeline_sketch_columns_end_to_end(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "sk"), sketch_cols=["tool"])
    pipe.run(t0)
    direct = build_tiers(t0, sketch_cols=["tool"])
    for tier in ("hourly", "daily", "monthly"):
        got = pipe.read_tier(tier)
        assert "tool_hll" in got.columns, tier
        from engine.rollup import observed_state

        assert _est(observed_state(got)) == _est(direct[tier]), tier
    # composed monthly estimate within lgK=12 rsd (~1.6%, 5 sigma margin)
    # of exact distinct tools per (conv, month) from raw
    exact = {
        (r["conv_id"], r["m"]): r["n"]
        for r in t0.groupBy(
            "conv_id",
            F.date_trunc("month", "ts").cast("timestamp_ntz").alias("m"),
        )
        .agg(F.count_distinct("tool").alias("n"))
        .collect()
    }
    est = _est(pipe.read_tier("monthly"))
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) <= max(1.0, 0.08 * exact[k]), (k, e, exact[k])


def test_enabling_sketches_is_a_one_time_backfill(spark, t0, tmp_path):
    root = str(tmp_path / "mig")
    plain = TierPipeline(spark, root)
    r1 = plain.run(t0)
    n_days = r1["stages"]["hourly"]
    assert n_days > 0
    assert "tool_hll" not in plain.read_tier("hourly").columns
    # flip sketches on over the SAME root: the sketch token changes every
    # day fingerprint -> full (but manifest-gated, incremental, resumable)
    # backfill of hourly, cascading through daily/monthly
    sk = TierPipeline(spark, root, sketch_cols=["tool"])
    r2 = sk.run(t0)
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["daily"] == r1["stages"]["daily"]
    assert r2["stages"]["monthly"] == r1["stages"]["monthly"]
    assert "tool_hll" in sk.read_tier("monthly").columns
    # the chunks don't read sketches: their fingerprints are sketch-free,
    # so the backfill must NOT re-roll compress
    assert r2["stages"]["compress"] == 0
    # steady state: a third run is a full no-op
    r3 = TierPipeline(spark, root, sketch_cols=["tool"]).run(t0)
    assert all(
        v == 0 for k, v in r3["stages"].items()
    ), r3
    # and disabling sketches migrates back (one more full tier re-roll)
    r4 = TierPipeline(spark, root).run(t0)
    assert r4["stages"]["hourly"] == n_days
    assert "tool_hll" not in TierPipeline(spark, root).read_tier("hourly").columns


def test_salted_sketch_estimates_match_unsalted(spark, t0, tmp_path):
    from engine.rollup import rollup_hourly
    from engine.skew import rollup_hourly_salted

    unsalted = rollup_hourly(t0, sketch_cols=["tool", "role"])
    salted = rollup_hourly_salted(t0, n_salts=8, sketch_cols=["tool", "role"])
    assert sorted(salted.columns) == sorted(unsalted.columns)
    for c in ("tool_hll", "role_hll"):
        assert _est(salted, c) == _est(unsalted, c), c


def test_sketches_compose_with_snapshots_and_salting(spark, t0, tmp_path):
    """The three orthogonal pipeline modes stack: salted leaf agg + HLL
    sketch state + snapshot-versioned storage in one run."""
    pipe = TierPipeline(
        spark,
        str(tmp_path / "all"),
        salted=True,
        sketch_cols=["tool"],
        snapshots=True,
    )
    pipe.run(t0)
    ref = TierPipeline(spark, str(tmp_path / "ref"), sketch_cols=["tool"])
    ref.run(t0)
    for tier in ("hourly", "daily", "monthly"):
        a, b = pipe.read_tier(tier), ref.read_tier(tier)
        assert _est(a) == _est(b), tier
        cols = [c for c in a.columns if not c.endswith("_hll")]
        assert (
            a.select(cols).exceptAll(b.select(cols)).count() == 0
            and b.select(cols).exceptAll(a.select(cols)).count() == 0
        ), tier


def test_all_five_modes_compose(spark, t0, tmp_path):
    """salted leaf agg × HLL sketch state × snapshot storage × WAP staging,
    one run — equal to the plain+sketch reference on every tier
    (non-sketch columns bit-exact, sketch columns estimate-exact)."""
    pipe = TierPipeline(
        spark,
        str(tmp_path / "five"),
        salted=True,
        sketch_cols=["tool"],
        snapshots=True,
        wap=True,
    )
    pipe.run(t0)
    ref = TierPipeline(spark, str(tmp_path / "fref"), sketch_cols=["tool"])
    ref.run(t0)
    for tier in ("hourly", "daily", "monthly"):
        a, b = pipe.read_tier(tier), ref.read_tier(tier)
        assert _est(a) == _est(b), tier
        cols = [c for c in a.columns if not c.endswith("_hll")]
        assert (
            a.select(cols).exceptAll(b.select(cols)).count() == 0
            and b.select(cols).exceptAll(a.select(cols)).count() == 0
        ), tier
