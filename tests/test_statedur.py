"""M48 duration-in-state tier state (engine/statedur.py): per-bucket
(first_us, last_us, last_state, durs) structs fold as a time-ordered
monoid — boundary intervals attribute to the earlier span's last state —
so monthly time-in-state composed from hourly equals a fresh lead()
attribution scan of raw, under salting, grains, nulls, and the
pipeline's migration story."""

import sys
from datetime import datetime, timedelta
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window, functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import build_tiers, rollup_grain, rollup_up  # noqa: E402
from engine.skew import rollup_hourly_salted  # noqa: E402
from engine.statedur import NULL_STATE, sd_state_col  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

COL = sd_state_col("role")


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _durs(df):
    return {
        (r["conv_id"], r["bucket_start"]): dict(r[COL]["durs"])
        for r in df.collect()
    }


def _full(df):
    return {
        (r["conv_id"], r["bucket_start"]): (
            r[COL]["first_us"],
            r[COL]["last_us"],
            r[COL]["last_state"],
            tuple(sorted(r[COL]["durs"].items())),
        )
        for r in df.collect()
    }


def _direct(t0, bucket_expr, state_col="role"):
    """Bucket-local lead attribution over raw."""
    w = Window.partitionBy("conv_id", bucket_expr).orderBy("ts", "turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    dur = F.lead(us).over(w) - us
    st = F.coalesce(F.col(state_col).cast("string"), F.lit(NULL_STATE))
    out = {}
    for r in (
        t0.withColumns({"_d": dur, "_s": st})
        .filter(F.col("_d").isNotNull())
        .groupBy(
            "conv_id",
            bucket_expr.cast("timestamp_ntz").alias("b"),
            "_s",
        )
        .agg(F.sum("_d").alias("d"))
        .collect()
    ):
        out.setdefault((r["conv_id"], r["b"]), {})[r["_s"]] = r["d"]
    return out


def test_every_tier_matches_direct_attribution(spark, t0):
    tiers = build_tiers(t0, statedur_cols=["role"])
    for tier, unit in (("hourly", "hour"), ("daily", "day"), ("monthly", "month")):
        got = {k: v for k, v in _durs(tiers[tier]).items() if v}
        assert got == _direct(t0, F.date_trunc(unit, "ts")), tier


def test_salted_leaf_composes_identically(spark, t0):
    plain = build_tiers(t0, statedur_cols=["role"])["monthly"]
    salted = rollup_up(
        rollup_up(
            rollup_hourly_salted(t0, 8, statedur_cols=["role"]), "daily"
        ),
        "monthly",
    )
    assert _full(plain) == _full(salted)


def test_grain_regroup_carries_statedur(spark, t0):
    tiers = build_tiers(t0, statedur_cols=["role"])
    span = 6 * 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    bucket = F.timestamp_micros(us - us % span)
    got = {k: v for k, v in _durs(rollup_grain(tiers, 6)).items() if v}
    assert got == _direct(t0, bucket)


def test_total_duration_conservation(spark, t0):
    """Within any bucket, Σ durs == last_us − first_us (every interval
    between the bucket's first and last turn is attributed exactly
    once)."""
    m = build_tiers(t0, statedur_cols=["role"])["monthly"]
    rows = m.select(
        (F.col(COL)["last_us"] - F.col(COL)["first_us"]).alias("span"),
        F.aggregate(
            F.map_values(F.col(COL)["durs"]),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("total"),
    ).collect()
    assert rows and all(r["span"] == r["total"] for r in rows)


def test_null_states_attributed_to_sentinel(spark):
    rows = [
        ("c", 0, "user", "x", None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, None, "x", None, datetime(2026, 1, 1, 0, 10)),
        ("c", 2, "user", "x", None, datetime(2026, 1, 1, 0, 40)),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    d = _durs(build_tiers(t, statedur_cols=["role"])["daily"]).popitem()[1]
    assert d == {"user": 10 * 60_000_000, NULL_STATE: 30 * 60_000_000}


def test_boundary_interval_attributed_to_earlier_state(spark):
    """Last turn of hour 0 is 'assistant'; the 40-minute gap into hour 1
    must land on 'assistant' after the daily fold, not on hour 1's
    state."""
    rows = [
        ("c", 0, "user", "x", None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, "assistant", "x", None, datetime(2026, 1, 1, 0, 30)),
        ("c", 2, "user", "x", None, datetime(2026, 1, 1, 1, 10)),
        ("c", 3, "tool", "x", None, datetime(2026, 1, 1, 1, 20)),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    tiers = build_tiers(t, statedur_cols=["role"])
    hourly = _durs(tiers["hourly"])
    assert hourly[("c", datetime(2026, 1, 1, 0))] == {"user": 30 * 60_000_000}
    assert hourly[("c", datetime(2026, 1, 1, 1))] == {"user": 10 * 60_000_000}
    daily = _durs(tiers["daily"]).popitem()[1]
    assert daily == {
        "user": 40 * 60_000_000,
        "assistant": 40 * 60_000_000,
    }


def test_pipeline_migration_and_parity(spark, t0, tmp_path):
    root = str(tmp_path / "sd")
    r1 = TierPipeline(spark, root).run(t0)
    n_days = r1["stages"]["hourly"]
    pipe = TierPipeline(spark, root, statedur_cols=["role"])
    r2 = pipe.run(t0)
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["compress"] == 0
    assert _full(pipe.read_tier("monthly")) == _full(
        build_tiers(t0, statedur_cols=["role"])["monthly"]
    )
    r3 = TierPipeline(spark, root, statedur_cols=["role"]).run(t0)
    assert all(v == 0 for v in r3["stages"].values()), r3


def test_new_state_families_compose_with_modes(spark, t0, tmp_path):
    """kmv + sessions + statedur together, through a salted snapshot-mode
    pipeline: every family's monthly state equals its in-memory twin, and
    a re-run is a no-op (fingerprints stable across all three JSONs)."""
    from engine.kmv import kmv_state_col
    from engine.sessionstate import sess_state_col

    opts = dict(
        salted=True,
        snapshots=True,
        kmv_cols={"text": 64},
        session_gaps=[30],
        statedur_cols=["role"],
        fill_tiers=False,
    )
    root = str(tmp_path / "modes")
    pipe = TierPipeline(spark, root, **opts)
    pipe.run(t0)
    want = build_tiers(
        t0, kmv_cols={"text": 64}, session_gaps=[30], statedur_cols=["role"]
    )["monthly"]
    got = pipe.read_tier("monthly")
    kc, sc = kmv_state_col("text", 64), sess_state_col(30)

    def snap(df):
        return {
            (r["conv_id"], r["bucket_start"]): (
                tuple(r[kc]),
                (r[sc]["first_us"], r[sc]["last_us"], r[sc]["n"]),
                (
                    r[COL]["first_us"],
                    r[COL]["last_us"],
                    r[COL]["last_state"],
                    tuple(sorted(r[COL]["durs"].items())),
                ),
            )
            for r in df.collect()
        }

    assert snap(got) == snap(want)
    r2 = TierPipeline(spark, root, **opts).run(t0)
    assert all(v == 0 for v in r2["stages"].values()), r2


def test_range_rewrite_statedur_vs_raw(spark, t0):
    """rewrite_range_statedur across mixed tier spans == lead attribution
    over the range's raw turns (exact micros)."""
    from engine.rewrite import rewrite_range_statedur, split_range

    tiers = build_tiers(t0, statedur_cols=["role"])
    lo, hi = datetime(2026, 1, 3, 7), datetime(2026, 3, 18, 12)
    assert len(split_range(lo, hi)) > 2
    got = {}
    for r in rewrite_range_statedur(tiers, lo, hi, "role").collect():
        got.setdefault(r["conv_id"], {})[r["state"]] = r["micros"]
    ntz = F.col("ts").cast("timestamp_ntz")
    raw = t0.filter((ntz >= F.lit(lo)) & (ntz < F.lit(hi)))
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    dur = F.lead(us).over(w) - us
    want = {}
    for r in (
        raw.withColumn("_d", dur)
        .filter(F.col("_d").isNotNull())
        .groupBy("conv_id", "role")
        .agg(F.sum("_d").alias("d"))
        .collect()
    ):
        want.setdefault(r["conv_id"], {})[r["role"]] = r["d"]
    assert got and got == want
