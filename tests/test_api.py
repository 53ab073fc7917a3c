"""TierEngine facade (engine/api.py): one end-to-end scenario driven ONLY
through the front door — run, tier-composed serving parity vs raw, SQL over
registered views, snapshot-keyed cache hit/miss across runs."""

from __future__ import annotations

import os
import sys
from datetime import datetime

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.api import TierEngine  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


def test_engine_front_door_end_to_end(spark, tmp_path):
    import pandas as pd

    t0 = synth_transcripts(spark, n_convs=12, hot_turns=100)
    early = t0.filter(F.dayofmonth("ts") <= 15)
    eng = TierEngine(
        spark,
        str(tmp_path / "eng"),
        salted=True,
        snapshots=True,
        freq_cols=["tool"],
    )
    eng.run(early, run_id="r1")

    # serve_range == raw aggregation
    lo, hi = datetime(2026, 1, 2, 5), datetime(2026, 2, 10, 7)
    got = (
        eng.serve_range(lo, hi)
        .toPandas()
        .sort_values("conv_id", ignore_index=True)
    )
    raw = (
        early.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text").cast("long")).alias("token_sum"),
            F.min(F.length("text").cast("long")).alias("token_min"),
            F.max(F.length("text").cast("long")).alias("token_max"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("tool_sum"),
        )
        .toPandas()
        .sort_values("conv_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got[raw.columns], raw)

    # top-k from freq state == raw counting for one conv
    topk = eng.serve_range_topk(lo, hi, "tool", k=1).toPandas()
    one = topk.iloc[0]
    n_raw = (
        early.filter(
            (F.col("ts") >= F.lit(lo))
            & (F.col("ts") < F.lit(hi))
            & (F.col("conv_id") == one["conv_id"])
            & (F.col("tool") == one["value"])
        ).count()
    )
    assert one["n"] == n_raw

    # SQL over registered views
    n_sql = eng.sql(
        "SELECT SUM(n_turns) AS n FROM tiers_monthly WHERE NOT filled"
    ).first()["n"] if "filled" in eng.tier("monthly").columns else eng.sql(
        "SELECT SUM(n_turns) AS n FROM tiers_monthly"
    ).first()["n"]
    assert n_sql == early.count()

    # snapshot-keyed cache: hit while pointers stand, miss after a new run
    build_calls = []

    def build():
        build_calls.append(1)
        return eng.view("monthly").groupBy("conv_id").count()

    _, hit1 = eng.cached("facade_q", build)
    _, hit2 = eng.cached("facade_q", build)
    assert (hit1, hit2) == (False, True) and len(build_calls) == 1
    eng.run(t0, run_id="r2")
    _, hit3 = eng.cached("facade_q", build)
    assert not hit3 and len(build_calls) == 2

    # realtime serving across the watermark equals raw over the full range
    wm = datetime(2026, 1, 16)
    eng_rt = TierEngine(spark, str(tmp_path / "rt"), snapshots=True)
    eng_rt.run(early, run_id="r1", stages=("hourly", "daily", "monthly"))
    got_rt = (
        eng_rt.serve_realtime(lo, hi, wm, t0)
        .toPandas()
        .sort_values("conv_id", ignore_index=True)
    )
    raw_rt = (
        t0.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text").cast("long")).alias("token_sum"),
            F.min(F.length("text").cast("long")).alias("token_min"),
            F.max(F.length("text").cast("long")).alias("token_max"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("tool_sum"),
        )
        .toPandas()
        .sort_values("conv_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got_rt[raw_rt.columns], raw_rt)


def test_engine_forget_front_door(spark, tmp_path):
    from engine.synth import synth_transcripts

    t0 = synth_transcripts(spark, n_convs=12, hot_turns=80).localCheckpoint()
    eng = TierEngine(spark, str(tmp_path / "fg"))
    eng.run(t0)
    doomed = ["conv-00000011"]
    assert eng.tier("hourly").filter(
        F.col("conv_id").isin(doomed)
    ).count() > 0
    rep = eng.forget(doomed, t0=t0)
    assert rep["tombstoned"] == doomed
    assert all(v == 0 for v in eng.forgotten_leftovers().values())
    for tier in ("hourly", "daily", "monthly"):
        assert eng.tier(tier).filter(F.col("conv_id").isin(doomed)).count() == 0


def test_cached_keep_one_root_invalidates_on_forget(spark, tmp_path):
    """A snapshots=False root keeps one snapshot per table, but every table
    still has a pointer to key results on: a repeated cached call hits, and
    after a forget it misses and serves none of the erased conversation's
    rows (a stale entry would keep serving them)."""
    t0 = synth_transcripts(spark, n_convs=6, hot_turns=40).localCheckpoint()
    eng = TierEngine(spark, str(tmp_path / "plain"))
    eng.run(t0)
    doomed = ["conv-00000005"]

    def build():
        return eng.tier("hourly").filter(F.col("conv_id").isin(doomed))

    first, hit = eng.cached("doomed_rows", build)
    assert not hit and first.count() > 0
    _, hit = eng.cached("doomed_rows", build)
    assert hit
    eng.forget(doomed, t0=t0)
    assert build().count() == 0
    after, hit = eng.cached("doomed_rows", build)
    assert not hit
    assert after.count() == 0


def test_time_travel_sql_pins_a_sealed_run(spark, tmp_path):
    from engine.synth import synth_transcripts

    t0 = synth_transcripts(spark, n_convs=10, hot_turns=80).localCheckpoint()
    eng = TierEngine(spark, str(tmp_path / "tt"), snapshots=True, fill_tiers=False)
    eng.run(t0, run_id="r1", stages=("hourly", "daily", "monthly"))
    late = t0.selectExpr(
        "conv_id", "cast(turn_idx + 100000 as int) as turn_idx",
        "role", "text", "tool", "ts + interval 30 minutes as ts",
    )
    eng.run(t0.unionByName(late), run_id="r2", stages=("hourly", "daily", "monthly"))

    q = "SELECT sum(n_turns) AS n FROM tiers_hourly"
    n_r1 = eng.sql(q, run_id="r1").collect()[0]["n"]
    n_r2 = eng.sql(q, run_id="r2").collect()[0]["n"]
    n_cur = eng.sql(q).collect()[0]["n"]
    assert n_r2 == n_cur == 2 * n_r1  # late batch doubled every turn count
    # the pinned view survives later writes: re-query r1 after r2 exists
    assert eng.sql(q, run_id="r1").collect()[0]["n"] == n_r1


def test_engine_window_analytics_front_door(spark, tmp_path):
    """serve_sliding / serve_trend / day_shapes go through the published
    hourly tier and agree with the direct module functions over raw-built
    tiers."""
    from engine.rollup import build_tiers
    from engine.sliding import sliding_state, trend_linear
    from engine.ts_analytics import day_shape_sax

    t0 = synth_transcripts(spark, n_convs=8, hot_turns=80)
    eng = TierEngine(spark, str(tmp_path / "eng2"), fill_tiers=False)
    eng.run(t0, run_id="r1")
    hourly = build_tiers(t0)["hourly"]

    def key_rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    scols = ["conv_id", "bucket_start", "w_n_turns", "w_token_sum"]
    assert key_rows(eng.serve_sliding(12), scols) == key_rows(
        sliding_state(hourly, 12), scols
    )

    lo, hi = datetime(2026, 1, 1), datetime(2026, 6, 1)
    tcols = ["conv_id", "n", "slope", "predicted"]
    assert key_rows(eng.serve_trend(lo, hi, 6), tcols) == key_rows(
        trend_linear(hourly, lo, hi, 6), tcols
    )

    wcols = ["conv_id", "day", "word"]
    assert key_rows(eng.day_shapes(), wcols) == key_rows(
        day_shape_sax(hourly), wcols
    )

    from engine.ts_analytics import burstiness_fano

    bcols = ["conv_id", "n_obs", "span_buckets", "fano"]
    assert key_rows(eng.serve_burstiness(), bcols) == key_rows(
        burstiness_fano(hourly), bcols
    )

    from engine.sliding import sliding_corr

    ccols = ["conv_id", "bucket_start", "w_n", "corr", "beta"]
    assert key_rows(
        eng.serve_sliding_corr("n_turns", "token_sum", 12), ccols
    ) == key_rows(sliding_corr(hourly, "n_turns", "token_sum", 12), ccols)


def test_engine_graph_and_forecast_front_door(spark, tmp_path):
    """Round-5 serving parity: graph analytics recovered from freq tier
    state must equal the same algorithms run on raw-derived edges, and the
    HW forecast must equal the library recurrence on the tier series."""
    from engine.graphrank import pagerank_integer, project_tools, triangles
    from engine.rollup import observed_state
    from engine.ts_analytics import hw_additive_phase, hw_next_period_forecast

    t0 = synth_transcripts(spark, n_convs=10, hot_turns=80)
    eng = TierEngine(spark, str(tmp_path / "g"), freq_cols=["tool"])
    eng.run(t0, run_id="r1")

    # raw-derived weighted edge truth
    raw_e = (
        t0.filter(F.col("tool").isNotNull())
        .groupBy("conv_id", F.col("tool").alias("value"))
        .agg(F.count("*").alias("w"))
    )
    got_e = eng.graph_edges("tool")
    assert sorted(map(tuple, got_e.collect())) == sorted(
        map(tuple, raw_e.collect())
    )

    # pagerank via the facade == library pagerank on the same edges
    e = raw_e.select(
        F.concat(F.lit("c:"), "conv_id").alias("src"),
        F.concat(F.lit("v:"), "value").alias("dst"),
        "w",
    )
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    want_pr = sorted(
        map(tuple, pagerank_integer(sym, weight_col="w").collect())
    )
    got_pr = sorted(map(tuple, eng.serve_pagerank("tool").collect()))
    assert got_pr == want_pr

    # projection + triangles parity
    eb = raw_e.select(F.col("conv_id").alias("conv"), F.col("value").alias("tool"))
    want_proj = sorted(map(tuple, project_tools(eb).collect()))
    got_proj = sorted(map(tuple, eng.serve_projection("tool").collect()))
    assert got_proj == want_proj
    want_tri = sorted(map(tuple, triangles(project_tools(eb)).collect()))
    got_tri = sorted(map(tuple, eng.serve_triangles("tool").collect()))
    assert got_tri == want_tri

    # HW forecast parity vs library path on the hourly tier series
    h = observed_state(eng.tier("hourly")).select(
        "conv_id",
        F.col("bucket_start").alias("bucket"),
        F.col("token_sum").cast("double").alias("v"),
    )
    dec = hw_additive_phase(h, ["conv_id"], "bucket", "v")
    want_fc = sorted(
        map(
            tuple,
            hw_next_period_forecast(dec, ["conv_id"], "bucket")
            .select("conv_id", "phase", "forecast_bucket", "forecast")
            .collect(),
        )
    )
    got_fc = sorted(map(tuple, eng.serve_hw_forecast().collect()))
    assert got_fc == want_fc
    assert len(got_fc) > 0

    # assortativity + k-core facade parity on the same edges
    from engine.graphrank import degree_assortativity, kcore_membership

    e2 = e.drop("w")
    sym2 = e2.unionAll(
        e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    want_as = degree_assortativity(sym2).first()
    got_as = eng.serve_assortativity("tool").first()
    assert got_as["m_edges"] == want_as["m_edges"]
    assert got_as["assortativity"] == want_as["assortativity"]
    want_kc = sorted(map(tuple, kcore_membership(sym2, 2, 8).collect()))
    got_kc = sorted(map(tuple, eng.serve_kcore("tool", 2).collect()))
    assert got_kc == want_kc
