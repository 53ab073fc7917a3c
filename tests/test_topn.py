"""M52 exact top/bottom-N value tier state (engine/topn.py): arrays of
(value, micros, turn_idx) structs whose flatten-sort-truncate merge is
bit-exact (the union's n extremes are a pure function of each part's n
extremes) — verified vs direct raw ranking, salting, grains, ties,
nulls, pipeline migration, and range rewrites."""

import sys
from datetime import datetime
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window, functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import (  # noqa: E402
    build_tiers,
    rollup_grain,
    rollup_up,
    with_metrics,
)
from engine.skew import rollup_hourly_salted  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402
from engine.topn import topn_state_col  # noqa: E402

TOP = topn_state_col("token_count", 3, "top")
BOT = topn_state_col("token_count", 2, "bot")


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _arrays(df, col):
    return {
        (r["conv_id"], r["bucket_start"]): tuple(tuple(s) for s in r[col])
        for r in df.collect()
    }


def _direct(t0, bucket_expr, n, direction):
    v = F.col("token_count").cast("long")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    order = (
        [v.desc(), us.asc(), F.col("turn_idx").asc()]
        if direction == "top"
        else [v.asc(), us.asc(), F.col("turn_idx").asc()]
    )
    w = Window.partitionBy("conv_id", bucket_expr).orderBy(*order)
    out = {}
    for r in (
        with_metrics(t0)
        .filter(v.isNotNull())
        .withColumns({"_v": v, "_u": us, "_rn": F.row_number().over(w)})
        .filter(F.col("_rn") <= n)
        .orderBy("_rn")
        .select(
            "conv_id",
            bucket_expr.cast("timestamp_ntz").alias("b"),
            "_v", "_u", "turn_idx",
        )
        .collect()
    ):
        out.setdefault((r["conv_id"], r["b"]), []).append(
            (r["_v"], r["_u"], r["turn_idx"])
        )
    return {k: tuple(vs) for k, vs in out.items()}


def test_every_tier_matches_direct_ranking(spark, t0):
    tiers = build_tiers(
        t0, topn_cols={"token_count": 3}, botn_cols={"token_count": 2}
    )
    for tier, unit in (
        ("hourly", "hour"), ("daily", "day"), ("monthly", "month")
    ):
        b = F.date_trunc(unit, "ts")
        assert _arrays(tiers[tier], TOP) == _direct(t0, b, 3, "top"), tier
        assert _arrays(tiers[tier], BOT) == _direct(t0, b, 2, "bot"), tier


def test_salted_leaf_composes_identically(spark, t0):
    plain = build_tiers(
        t0, topn_cols={"token_count": 3}, botn_cols={"token_count": 2}
    )["monthly"]
    salted = rollup_up(
        rollup_up(
            rollup_hourly_salted(
                t0, 8,
                topn_cols={"token_count": 3},
                botn_cols={"token_count": 2},
            ),
            "daily",
        ),
        "monthly",
    )
    assert _arrays(plain, TOP) == _arrays(salted, TOP)
    assert _arrays(plain, BOT) == _arrays(salted, BOT)


def test_grain_regroup_carries_topn(spark, t0):
    tiers = build_tiers(t0, topn_cols={"token_count": 3})
    span = 6 * 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    bucket = F.timestamp_micros(us - us % span)
    assert _arrays(rollup_grain(tiers, 6), TOP) == _direct(
        t0, bucket, 3, "top"
    )


def test_ties_break_on_time_then_turn(spark):
    ts = datetime(2026, 1, 1, 0, 0)
    rows = [
        ("c", 1, "user", "x" * 20, None, ts),
        ("c", 0, "user", "x" * 20, None, ts),  # same v, same ts: i wins
        ("c", 2, "user", "x" * 20, None, datetime(2026, 1, 1, 0, 5)),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    arr = build_tiers(t, topn_cols={"token_count": 2})["hourly"].collect()[
        0
    ][topn_state_col("token_count", 2, "top")]
    assert [(s["v"], s["i"]) for s in arr] == [(20, 0), (20, 1)]


def test_all_null_bucket_carries_empty_array(spark):
    rows = [
        ("c", 0, "user", None, None, datetime(2026, 1, 1, 0, 0)),
        ("c", 1, "user", "xyz", None, datetime(2026, 1, 1, 2, 0)),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    col = topn_state_col("token_count", 2, "top")
    h = {
        r["bucket_start"]: list(r[col])
        for r in build_tiers(t, topn_cols={"token_count": 2})[
            "hourly"
        ].collect()
    }
    assert h[datetime(2026, 1, 1, 0)] == []
    assert [s["v"] for s in h[datetime(2026, 1, 1, 2)]] == [3]


def test_pipeline_migration_and_parity(spark, t0, tmp_path):
    root = str(tmp_path / "topn")
    r1 = TierPipeline(spark, root).run(t0)
    n_days = r1["stages"]["hourly"]
    pipe = TierPipeline(spark, root, topn_cols={"token_count": 3})
    r2 = pipe.run(t0)
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["compress"] == 0
    assert _arrays(pipe.read_tier("monthly"), TOP) == _arrays(
        build_tiers(t0, topn_cols={"token_count": 3})["monthly"], TOP
    )
    r3 = TierPipeline(spark, root, topn_cols={"token_count": 3}).run(t0)
    assert all(v == 0 for v in r3["stages"].values()), r3


def test_range_rewrite_topn_vs_raw(spark, t0):
    from engine.rewrite import rewrite_range_topn, split_range

    tiers = build_tiers(t0, topn_cols={"token_count": 3})
    lo, hi = datetime(2026, 1, 3, 7), datetime(2026, 3, 18, 12)
    assert len(split_range(lo, hi)) > 2
    got = {}
    for r in rewrite_range_topn(
        tiers, lo, hi, "token_count", 3, "top"
    ).collect():
        got.setdefault(r["conv_id"], []).append(
            (r["rank"], r["value"], r["ts"], r["turn_idx"])
        )
    got = {k: sorted(vs) for k, vs in got.items()}
    ntz = F.col("ts").cast("timestamp_ntz")
    raw = t0.filter((ntz >= F.lit(lo)) & (ntz < F.lit(hi)))
    want = {}
    for (cid, _b), vs in _direct(
        raw, F.lit(datetime(2026, 1, 1)), 3, "top"
    ).items():
        from datetime import timedelta

        want[cid] = sorted(
            (i + 1, v, datetime(1970, 1, 1) + timedelta(microseconds=u), ti)
            for i, (v, u, ti) in enumerate(vs)
        )
    assert got and got == want
