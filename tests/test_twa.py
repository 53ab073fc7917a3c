"""M49 time-weighted-average tier state (engine/twa.py): per-bucket
(first_us, first_val, last_us, last_val, area) structs fold as a
time-ordered monoid — boundary gaps weighted by the earlier span's last
value (LOCF) — so the monthly TWA composed from hourly equals a fresh
lead()-attribution integral over raw, under salting, grains, null
values, and the pipeline's migration story."""

import sys
from datetime import datetime
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window, functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.rewrite import rewrite_range_twa  # noqa: E402
from engine.rollup import (  # noqa: E402
    build_tiers,
    rollup_grain,
    rollup_up,
    with_metrics,
)
from engine.skew import rollup_hourly_salted  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402
from engine.twa import twa_serve_cols, twa_state_col  # noqa: E402

COL = twa_state_col("token_count")
MIN_US = 60_000_000


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _full(df):
    return {
        (r["conv_id"], r["bucket_start"]): tuple(r[COL])
        for r in df.collect()
    }


def _direct(t0, bucket_expr):
    """Bucket-local lead-attribution integral over raw (nulls skipped)."""
    w = Window.partitionBy("conv_id", bucket_expr).orderBy("ts", "turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    v = F.col("token_count").cast("long")
    obs = with_metrics(t0).filter(v.isNotNull())
    dur = F.lead(us).over(w) - us
    order = F.struct(us.alias("u"), F.col("turn_idx").alias("i"))
    out = {}
    for r in (
        obs.withColumns({"_v": v, "_d": dur, "_o": order, "_u": us})
        .groupBy("conv_id", bucket_expr.cast("timestamp_ntz").alias("b"))
        .agg(
            F.min("_u").alias("fu"),
            F.min_by("_v", "_o").alias("fv"),
            F.max("_u").alias("lu"),
            F.max_by("_v", "_o").alias("lv"),
            F.coalesce(
                F.sum(F.when(F.col("_d").isNotNull(), F.col("_v") * F.col("_d"))),
                F.lit(0).cast("long"),
            ).alias("area"),
        )
        .collect()
    ):
        out[(r["conv_id"], r["b"])] = (
            r["fu"], r["fv"], r["lu"], r["lv"], r["area"]
        )
    return out


def test_every_tier_matches_direct_attribution(spark, t0):
    tiers = build_tiers(t0, twa_cols=["token_count"])
    for tier, unit in (
        ("hourly", "hour"), ("daily", "day"), ("monthly", "month")
    ):
        assert _full(tiers[tier]) == _direct(t0, F.date_trunc(unit, "ts")), tier


def test_salted_leaf_composes_identically(spark, t0):
    plain = build_tiers(t0, twa_cols=["token_count"])["monthly"]
    salted = rollup_up(
        rollup_up(
            rollup_hourly_salted(t0, 8, twa_cols=["token_count"]), "daily"
        ),
        "monthly",
    )
    assert _full(plain) == _full(salted)


def test_grain_regroup_carries_twa(spark, t0):
    tiers = build_tiers(t0, twa_cols=["token_count"])
    span = 6 * 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    bucket = F.timestamp_micros(us - us % span)
    assert _full(rollup_grain(tiers, 6)) == _direct(t0, bucket)


def _literal(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )


def test_boundary_gap_weighted_by_earlier_value(spark):
    t = _literal(spark, [
        ("c", 0, "user", "x" * 10, None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, "user", "x" * 30, None, datetime(2026, 1, 1, 0, 30)),
        ("c", 2, "user", "x" * 50, None, datetime(2026, 1, 1, 1, 15)),
    ])
    tiers = build_tiers(t, twa_cols=["token_count"])
    h = {
        r["bucket_start"]: r[COL].asDict() for r in tiers["hourly"].collect()
    }
    # hour 0: 10 held for 30 min; hour 1: point span (area 0)
    assert h[datetime(2026, 1, 1, 0)]["area"] == 10 * 30 * MIN_US
    assert h[datetime(2026, 1, 1, 1)]["area"] == 0
    d = tiers["daily"].select(COL).collect()[0][0].asDict()
    # daily fold adds the 45-min boundary gap weighted by 30 (hour 0's
    # LAST value), never by hour 1's 50
    assert d["area"] == 10 * 30 * MIN_US + 30 * 45 * MIN_US
    serve = tiers["daily"].select(
        *[v.alias(k) for k, v in twa_serve_cols(F.col(COL)).items()]
    ).collect()[0]
    assert serve["twa"] == d["area"] / (75 * MIN_US)
    assert serve["delta"] == 40
    assert serve["rate_per_s"] == 40 * 1_000_000.0 / (75 * MIN_US)


def test_null_values_skipped_with_locf_semantics(spark):
    """A null-token turn between two observations neither breaks the span
    nor contributes weight: the interval crossing it stays attributed to
    the previous non-null value."""
    t = _literal(spark, [
        ("c", 0, "user", "x" * 10, None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, "user", None, None, datetime(2026, 1, 1, 0, 10)),
        ("c", 2, "user", "x" * 20, None, datetime(2026, 1, 1, 0, 40)),
    ])
    h = build_tiers(t, twa_cols=["token_count"])["hourly"].collect()
    s = h[0][COL].asDict()
    assert s["area"] == 10 * 40 * MIN_US  # full 40 min at value 10
    assert (s["first_val"], s["last_val"]) == (10, 20)


def test_all_null_bucket_carries_sentinel_and_fold_skips_it(spark):
    t = _literal(spark, [
        ("c", 0, "user", "x" * 10, None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, "user", "x" * 30, None, datetime(2026, 1, 1, 0, 30)),
        ("c", 2, "user", None, None, datetime(2026, 1, 1, 1, 15)),
        ("c", 3, "user", "x" * 50, None, datetime(2026, 1, 1, 2, 0)),
    ])
    tiers = build_tiers(t, twa_cols=["token_count"])
    h = {
        r["bucket_start"]: r[COL].asDict() for r in tiers["hourly"].collect()
    }
    # hour 1 is observed (one turn) but value-less: sentinel, not NULL
    assert h[datetime(2026, 1, 1, 1)]["first_us"] is None
    assert h[datetime(2026, 1, 1, 1)]["area"] is None
    d = tiers["daily"].select(COL).collect()[0][0].asDict()
    # fold bridges hour 0 → hour 2 directly: 90-min gap at value 30
    assert d["area"] == 10 * 30 * MIN_US + 30 * 90 * MIN_US
    assert d["last_val"] == 50


def test_all_sentinel_group_folds_to_sentinel(spark):
    t = _literal(spark, [
        ("c", 0, "user", None, None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, "user", None, None, datetime(2026, 1, 1, 5, 0)),
    ])
    d = build_tiers(t, twa_cols=["token_count"])["daily"].collect()[0][COL]
    assert d is not None and d["first_us"] is None


def test_pipeline_migration_and_parity(spark, t0, tmp_path):
    root = str(tmp_path / "twa")
    r1 = TierPipeline(spark, root).run(t0)
    n_days = r1["stages"]["hourly"]
    pipe = TierPipeline(spark, root, twa_cols=["token_count"])
    r2 = pipe.run(t0)
    # enabling the state is a fingerprint change: tier stages re-roll,
    # the sketch-free series stages don't
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["compress"] == 0
    assert _full(pipe.read_tier("monthly")) == _full(
        build_tiers(t0, twa_cols=["token_count"])["monthly"]
    )
    r3 = TierPipeline(spark, root, twa_cols=["token_count"]).run(t0)
    assert all(v == 0 for v in r3["stages"].values()), r3


def test_range_rewrite_twa_vs_raw(spark, t0):
    from engine.rewrite import split_range

    tiers = build_tiers(t0, twa_cols=["token_count"])
    lo, hi = datetime(2026, 1, 3, 7), datetime(2026, 3, 18, 12)
    assert len(split_range(lo, hi)) > 2
    got = {
        r["conv_id"]: (r["area"], r["span_us"], r["twa"], r["delta"])
        for r in rewrite_range_twa(tiers, lo, hi, "token_count").collect()
    }
    ntz = F.col("ts").cast("timestamp_ntz")
    raw = t0.filter((ntz >= F.lit(lo)) & (ntz < F.lit(hi)))
    want = {}
    for (cid, _b), (fu, fv, lu, lv, area) in _direct(
        raw, F.lit(datetime(2026, 1, 1))
    ).items():
        span = lu - fu
        want[cid] = (
            area, span, area / span if span > 0 else None, lv - fv
        )
    assert got and got == want
