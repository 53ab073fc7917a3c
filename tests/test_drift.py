"""Distribution-drift pack (engine/drift.py, SURVEY §2 M66–M70).

The oracle queries pin TV / KS / Gini / z against DuckDB at the hash level;
these tests pin (a) brute-force parity of the integer cross-product
formulas, (b) the log-based monitoring measures (PSI / JSD / entropy) that
can't sit under the hash gate (ln is not bit-portable across engines), and
(c) planted-shift behavior of the timeline.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import drift as D
from engine.rollup import build_tiers
from engine.synth import synth_transcripts

# two dense weeks of the deterministic synth fixture (probed once; the
# generator's burst pattern leaves some calendar weeks empty)
A = (datetime(2026, 3, 2), datetime(2026, 3, 9))
B = (datetime(2026, 3, 16), datetime(2026, 3, 23))
# intra-burst split of conv-0's dense burst: the per-conversation
# comparisons (KS, attribution) need convs ACTIVE IN BOTH ranges, and the
# synth convs are single-burst — whole distinct weeks never overlap
A2 = (datetime(2026, 3, 16), datetime(2026, 3, 19))
B2 = (datetime(2026, 3, 19), datetime(2026, 3, 23))


@pytest.fixture(scope="module")
def fixture(spark):
    t0 = synth_transcripts(spark, n_convs=12, hot_turns=600)
    tiers = build_tiers(
        t0,
        freq_cols=["role"],
        hist_cols={"token_count": (0.0, 16.0, 12)},
    )
    pdf = t0.select(
        "conv_id", "ts", "role", F.length("text").alias("token_count")
    ).toPandas()
    return pdf, tiers


def _in(pdf, lo, hi):
    return pdf[(pdf.ts >= lo) & (pdf.ts < hi)]


def test_tv_identity_is_exactly_zero(fixture):
    _, tiers = fixture
    d = D.freq_drift(tiers, A, A, "role").collect()
    assert d and all(r.tv_num == 0 and r.tv == 0.0 for r in d)
    assert all(r.n_a == r.n_b and r.p_a == r.p_b for r in d)


def test_freq_drift_matches_bruteforce_exactly(fixture):
    pdf, tiers = fixture
    ca = Counter(_in(pdf, *A).role)
    cb = Counter(_in(pdf, *B).role)
    na, nb = sum(ca.values()), sum(cb.values())
    vals = set(ca) | set(cb)
    tv_sum = sum(abs(ca.get(v, 0) * nb - cb.get(v, 0) * na) for v in vals)
    tv = tv_sum / float(2 * na * nb)
    rows = {r.value: r for r in D.freq_drift(tiers, A, B, "role").collect()}
    assert set(rows) == vals
    for v in vals:
        r = rows[v]
        assert (r.n_a, r.n_b) == (ca.get(v, 0), cb.get(v, 0))
        assert r.p_a == ca.get(v, 0) / float(na)  # same single division
        assert r.p_b == cb.get(v, 0) / float(nb)
        assert r.tv_num == abs(ca.get(v, 0) * nb - cb.get(v, 0) * na)
        assert r.tv == tv  # integer numerator + one division: bit-equal
    assert 0.0 < tv < 1.0  # the synth weeks genuinely differ a little


def test_drift_measures_match_numpy(fixture):
    _, tiers = fixture
    d = D.freq_drift(tiers, A, B, "role")
    got = D.drift_measures(d, eps=1e-6).collect()[0]
    rows = d.collect()
    p = np.maximum(np.array([r.p_a for r in rows]), 1e-6)
    q = np.maximum(np.array([r.p_b for r in rows]), 1e-6)
    m = (p + q) / 2.0
    psi = float(np.sum((p - q) * np.log(p / q)))
    jsd = float(np.sum((p * np.log(p / m) + q * np.log(q / m)) / 2.0))
    assert got.psi == pytest.approx(psi, rel=1e-9)
    assert got.jsd == pytest.approx(jsd, rel=1e-9)
    assert 0.0 <= got.jsd <= math.log(2.0) + 1e-12
    assert got.tv == rows[0].tv


def test_hist_ks_matches_bruteforce_exactly(fixture):
    pdf, tiers = fixture

    def bins(sub):
        out = {}
        for conv, g in sub.groupby("conv_id"):
            arr = [0] * 12
            for t in g.token_count:
                arr[min(int(t // 16), 11)] += 1
            out[conv] = arr
        return out

    ba, bb = bins(_in(pdf, *A2)), bins(_in(pdf, *B2))
    both = set(ba) & set(bb)
    assert both  # non-vacuous: at least one conv active in both ranges
    got = {
        r.conv_id: r
        for r in D.hist_drift_ks(tiers, A2, B2, "token_count").collect()
    }
    assert set(got) == both
    for conv in both:
        na, nb = sum(ba[conv]), sum(bb[conv])
        cum_a = np.cumsum(ba[conv])
        cum_b = np.cumsum(bb[conv])
        ks_num = int(max(abs(int(x) * nb - int(y) * na) for x, y in zip(cum_a, cum_b)))
        r = got[conv]
        assert (r.n_a, r.n_b, r.ks_num) == (na, nb, ks_num)
        assert r.ks == ks_num / float(na * nb)
        assert 0.0 <= r.ks <= 1.0


def _state(spark, rows):
    """Tiny freq tier state: (conv_id, bucket_start, role_freq map)."""
    return spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp_ntz, role_freq map<string,long>"
    )


def test_gini_goldens_and_entropy_vs_numpy(spark):
    day = datetime(2026, 3, 1)
    st = _state(
        spark,
        [
            ("mono", day, {"a": 4}),
            ("uniform4", day, {"a": 2, "b": 2, "c": 2, "d": 2}),
            ("skew", day, {"a": 3, "b": 1}),
        ],
    )
    g = {r.conv_id: r for r in D.freq_concentration(st, "role").collect()}
    assert g["mono"].gini == 0.0 and g["mono"].n_cats == 1
    assert g["uniform4"].gini == 1.0 - 4.0 * 4 / (8.0 * 8)  # 1 - 1/k
    assert g["skew"].gini == 1.0 - (9 + 1) / 16.0
    e = {r.conv_id: r.entropy for r in D.freq_entropy(st, "role").collect()}
    assert e["mono"] == pytest.approx(0.0, abs=1e-12)
    assert e["uniform4"] == pytest.approx(math.log(4.0), rel=1e-12)
    ref = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert e["skew"] == pytest.approx(ref, rel=1e-12)


def test_timeline_planted_shift_spikes_on_the_day(spark):
    d0 = datetime(2026, 4, 1)
    days = [d0 + timedelta(days=i) for i in range(4)]
    # stable a:b = 60:40 mix on days 0-1, flips to 0:100 on day 2, holds day 3
    rows = []
    for i, d in enumerate(days):
        for conv in ("c1", "c2"):
            m = {"a": 30, "b": 20} if i < 2 else {"b": 50}
            rows.append((conv, d, m))
    tiers = {"daily": _state(spark, rows)}
    tl = {r.day: r for r in D.freq_drift_timeline(tiers, "role").collect()}
    assert set(tl) == set(days[1:])  # first day has no predecessor
    assert tl[days[1]].tv == 0.0
    assert tl[days[3]].tv == 0.0
    # planted shift: TV = share that moved = 0.6 exactly
    assert tl[days[2]].tv == 0.6
    assert tl[days[2]].n_prev == 100 and tl[days[2]].n_cur == 100


def test_baseline_alarm_fires_once_on_a_blip(spark):
    """The monitoring rationale: a ONE-DAY mix blip against a weekly
    baseline fires on the blip day and settles after, while day-over-day
    TV fires twice (entering AND leaving the blip)."""
    d0 = datetime(2026, 5, 1)
    days = [d0 + timedelta(days=i) for i in range(10)]
    rows = []
    for i, d in enumerate(days):
        m = {"b": 100} if i == 7 else {"a": 60, "b": 40}  # blip on day 7
        rows.append(("c1", d, m))
    tiers = {"daily": _state(spark, rows)}
    base = {r.day: r for r in D.freq_drift_baseline(tiers, "role").collect()}
    tl = {r.day: r.tv for r in D.freq_drift_timeline(tiers, "role").collect()}
    blip, after = days[7], days[8]
    assert base[blip].tv == 0.6  # full planted shift vs a clean baseline
    # the healthy day after: baseline = 6 clean + 1 blip day
    # counts: cur a=60,b=40 (N=100); base a=360,b=340 (N=700)
    expected_after = (
        abs(60 * 700 - 360 * 100) + abs(40 * 700 - 340 * 100)
    ) / (2.0 * 700 * 100)
    assert base[after].tv == expected_after and base[after].tv < 0.1
    assert base[after].baseline_width == 7
    # day-over-day fires on BOTH edges of the blip
    assert tl[blip] == 0.6 and tl[after] == 0.6
    # stable days before the blip: zero drift vs their baseline
    assert base[days[5]].tv == 0.0
    # first day has no baseline → absent
    assert days[0] not in base and base[days[1]].baseline_width == 1


def test_baseline_matches_bruteforce(fixture):
    pdf, tiers = fixture
    pdf = pdf.assign(day=pdf.ts.dt.floor("D"))
    got = {
        r.day: r
        for r in D.freq_drift_baseline(tiers, "role", baseline_days=7).collect()
    }
    days = sorted(pdf.day.unique())
    seen = 0
    for d in days:
        cur = Counter(pdf[pdf.day == d].role)
        basewin = pdf[(pdf.day >= d - timedelta(days=7)) & (pdf.day < d)]
        if basewin.empty:
            assert d not in got
            continue
        seen += 1
        base = Counter(basewin.role)
        nc, nb = sum(cur.values()), sum(base.values())
        tvn = sum(
            abs(cur.get(v, 0) * nb - base.get(v, 0) * nc)
            for v in set(cur) | set(base)
        )
        r = got[d]
        assert (r.n_cur, r.n_base, r.tv_num) == (nc, nb, tvn)
        assert r.tv == tvn / float(2 * nb * nc)
        assert r.baseline_width == basewin.day.nunique()
    assert seen and len(got) == seen


def test_attribution_matches_bruteforce(fixture):
    pdf, tiers = fixture
    got = D.freq_drift_by_conv(tiers, A2, B2, "role", k=10).collect()
    # brute-force: per-conv TV over raw, same weight, same ranking
    ref = []
    pa, pb = _in(pdf, *A2), _in(pdf, *B2)
    for conv in set(pa.conv_id) & set(pb.conv_id):
        ca = Counter(pa[pa.conv_id == conv].role)
        cb = Counter(pb[pb.conv_id == conv].role)
        na, nb = sum(ca.values()), sum(cb.values())
        tvn = sum(
            abs(ca.get(v, 0) * nb - cb.get(v, 0) * na)
            for v in set(ca) | set(cb)
        )
        tv = tvn / float(2 * na * nb)
        ref.append((conv, na, nb, tvn, tv, tv * float(min(na, nb))))
    ref.sort(key=lambda r: (-r[5], r[0]))
    ref = ref[:10]
    assert [
        (r.conv_id, r.n_a, r.n_b, r.tv_num, r.tv, r.weight) for r in got
    ] == ref
    assert len(got) > 0


def test_attribution_ranks_by_weighted_shift(spark):
    """Planted ranking: a mid-size conv with a half shift outweighs a tiny
    conv that flipped completely; an unshifted whale scores zero."""
    da, db = datetime(2026, 5, 1), datetime(2026, 5, 3)
    ra, rb = (da, db), (db, datetime(2026, 5, 5))
    st = _state(
        spark,
        [
            # tiny: a->b complete flip, tv=1, min-volume 4 -> weight 4
            ("tiny", da, {"a": 4}),
            ("tiny", db, {"b": 4}),
            # mid: half the mass moves, tv=0.5, min 20 -> weight 10
            ("mid", da, {"a": 20}),
            ("mid", db, {"a": 10, "b": 10}),
            # whale: no shift at scale -> weight 0
            ("whale", da, {"a": 500, "b": 500}),
            ("whale", db, {"a": 500, "b": 500}),
            # one-sided: active only in range A -> excluded
            ("onesided", da, {"a": 9}),
        ],
    )
    got = D.freq_drift_by_conv({"daily": st}, ra, rb, "role", k=10).collect()
    assert [r.conv_id for r in got] == ["mid", "tiny", "whale"]
    by = {r.conv_id: r for r in got}
    assert by["tiny"].tv == 1.0 and by["tiny"].weight == 4.0
    assert by["mid"].tv == 0.5 and by["mid"].weight == 10.0
    assert by["whale"].tv == 0.0 and by["whale"].weight == 0.0


def test_timeline_gap_days_emit_nothing(spark):
    d0 = datetime(2026, 4, 1)
    rows = [
        ("c1", d0, {"a": 10}),
        ("c1", d0 + timedelta(days=2), {"a": 10}),  # day 1 missing
        ("c1", d0 + timedelta(days=3), {"b": 10}),
    ]
    tiers = {"daily": _state(spark, rows)}
    tl = {r.day: r.tv for r in D.freq_drift_timeline(tiers, "role").collect()}
    # only day3 has an observed predecessor (day2); the gap pair is absent
    assert set(tl) == {d0 + timedelta(days=3)}
    assert tl[d0 + timedelta(days=3)] == 1.0  # complete category swap


def test_ztest_matches_closed_form(spark):
    # 40 users: even ids convert at 15/20, odd at 5/20
    rows = []
    for u in range(40):
        converts = (u % 2 == 0 and u < 30) or (u % 2 == 1 and u < 10)
        rows.append((u, "purchase" if converts else "view"))
        rows.append((u, "view"))
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    r = D.ab_conversion_ztest(ev, min_events=1).collect()[0]
    n1 = c1 = None
    assert (r.n1, r.n2) == (20, 20)
    assert (r.c1, r.c2) == (15, 5)
    p1, p2 = 15 / 20.0, 5 / 20.0
    pp = (15 + 5) / 40.0
    z = (p1 - p2) / math.sqrt(pp * (1.0 - pp) * (40.0 / 400.0))
    assert r.p1 == p1 and r.p2 == p2
    assert r.z == z  # identical IEEE op tree
    assert r.z > 1.96  # and it is a significant difference


def test_streamed_pipeline_serves_identical_drift(spark, tmp_path):
    """Streaming ingest × drift serving: after micro-batch triggers feed
    the resumable pipeline, the baseline alarm and the day-over-day
    timeline served from the streamed tiers are bit-identical to a
    one-shot batch build — drift monitoring composes with the streaming
    materialization path (values split across triggers must re-merge in
    the freq maps exactly)."""
    from engine.pipeline import TierPipeline
    from engine.streaming import run_stream_into_pipeline

    t0 = synth_transcripts(spark, n_convs=10, hot_turns=300)
    src = str(tmp_path / "src")
    t0.orderBy("ts").coalesce(1).write.parquet(src + "_one")
    spark.read.parquet(src + "_one").repartitionByRange(8, "ts").write.parquet(src)

    pipe = TierPipeline(
        spark, str(tmp_path / "sp"), freq_cols=["role"], fill_tiers=False
    )
    out = run_stream_into_pipeline(
        spark, src, pipe, raw_path=str(tmp_path / "raw")
    )
    assert out["batches"] >= 2, out

    ref = build_tiers(t0, freq_cols=["role"])
    streamed = {t: pipe.read_tier(t) for t in ("hourly", "daily", "monthly")}

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    bcols = ["day", "n_base", "n_cur", "baseline_width", "tv_num", "tv"]
    assert rows(D.freq_drift_baseline(streamed, "role"), bcols) == rows(
        D.freq_drift_baseline(ref, "role"), bcols
    )
    tcols = ["day", "n_prev", "n_cur", "tv_num", "tv"]
    assert rows(D.freq_drift_timeline(streamed, "role"), tcols) == rows(
        D.freq_drift_timeline(ref, "role"), tcols
    )


def test_facade_drift_parity(spark, tmp_path, fixture):
    """serve_drift / serve_drift_ks / serve_drift_timeline /
    serve_concentration go through the published pipeline tiers and agree
    with the module functions over raw-built tiers."""
    from engine.api import TierEngine

    pdf, tiers = fixture
    t0 = synth_transcripts(spark, n_convs=12, hot_turns=600)
    eng = TierEngine(
        spark,
        str(tmp_path / "eng"),
        fill_tiers=False,
        freq_cols=["role"],
        hist_cols={"token_count": (0.0, 16.0, 12)},
    )
    eng.run(t0, run_id="r1")

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(eng.serve_drift(A, B, "role"), ["value", "n_a", "n_b", "tv"]) == rows(
        D.freq_drift(tiers, A, B, "role"), ["value", "n_a", "n_b", "tv"]
    )
    kcols = ["conv_id", "n_a", "n_b", "ks"]
    assert rows(eng.serve_drift_ks(A, B, "token_count"), kcols) == rows(
        D.hist_drift_ks(tiers, A, B, "token_count"), kcols
    )
    tcols = ["day", "tv_num", "tv"]
    assert rows(eng.serve_drift_timeline("role"), tcols) == rows(
        D.freq_drift_timeline(tiers, "role"), tcols
    )
    gcols = ["conv_id", "bucket_start", "n", "gini"]
    assert rows(eng.serve_concentration("role"), gcols) == rows(
        D.freq_concentration(tiers["monthly"], "role"), gcols
    )


def test_drift_survives_hourly_retention(spark, tmp_path):
    """Day-aligned drift ranges decompose onto the DAILY tier, so the
    comparison keeps serving bit-identically after the underlying hourly
    days are retention-dropped — the drift monitor outlives its raw."""
    from engine.api import TierEngine

    t0 = synth_transcripts(spark, n_convs=12, hot_turns=600)
    eng = TierEngine(
        spark, str(tmp_path / "ret"), fill_tiers=False, freq_cols=["role"]
    )
    eng.run(t0, run_id="r1")

    def rows(df):
        return sorted(
            (r.value, r.n_a, r.n_b, r.tv) for r in df.collect()
        )

    before = rows(eng.serve_drift(A, B, "role"))
    dropped = eng.drop_hourly_before("2026-03-10")  # covers all of range A
    assert dropped  # the drop really happened
    left = eng.tier("hourly").agg(F.min("bucket_start")).collect()[0][0]
    assert left >= datetime(2026, 3, 10)  # range A's hourly days are gone
    assert rows(eng.serve_drift(A, B, "role")) == before


def test_engine_status_reports_lifecycle(spark, tmp_path):
    from engine.api import TierEngine

    t0 = synth_transcripts(spark, n_convs=6, hot_turns=200)
    eng = TierEngine(
        spark, str(tmp_path / "st"), fill_tiers=False, snapshots=True
    )
    eng.run(t0, run_id="r1")
    st = eng.status()
    assert st["stages"]["hourly"]["partitions"] > 0
    assert st["stages"]["monthly"]["last_run"] == "r1"
    assert st["stages"]["hourly"]["sentinels"] == 0
    assert st["lifecycle"]["run_barriers"] == 1
    assert st["lifecycle"]["forget_rows"] == 0
    assert st["tombstones"] == 0
    assert set(st["snapshots"]) == {"hourly", "daily", "monthly", "chunks"}
    for t in ("hourly", "daily", "monthly", "chunks"):
        assert st["snapshots"][t]["current"] is not None
    # forget one conversation: tombstone + forget audit row show up
    conv = eng.tier("hourly").select("conv_id").first().conv_id
    eng.forget([conv], t0=t0)
    st2 = eng.status()
    assert st2["tombstones"] == 1
    # with raw supplied and no retention, erasure is an ordinary re-roll:
    # no stage='forget' sweep rows, but the re-roll sealed a new barrier
    assert st2["lifecycle"]["forget_rows"] == 0
    assert st2["lifecycle"]["run_barriers"] >= 2
    assert st2["stages"]["hourly"]["last_run"] != "r1"


def test_explain_range_decomposition(spark, tmp_path):
    """explain_range mirrors split_range and costs spans in tier rows —
    pure metadata, and the quarter-long example shows WHY tiers exist."""
    from engine.api import TierEngine

    eng = TierEngine(spark, str(tmp_path / "ex"))
    ex = eng.explain_range(datetime(2026, 1, 15, 7), datetime(2026, 4, 2, 5))
    tiers = [s["tier"] for s in ex["spans"]]
    assert tiers == ["hourly", "daily", "monthly", "daily", "hourly"]
    # 17 leading hours + 16 leading days + 2 months + 1 trailing day + 5h
    assert [s["rows_per_conv"] for s in ex["spans"]] == [17, 16, 2, 1, 5]
    assert ex["tier_rows_per_conv"] == 41 and ex["raw_tail"] is None
    # vs the raw cost: 1861 hourly buckets, orders of magnitude more turns

    # a watermark mid-range splits into tier spans + a bounded raw tail
    ex2 = eng.explain_range(
        datetime(2026, 1, 15, 7),
        datetime(2026, 4, 2, 5),
        watermark=datetime(2026, 4, 1),
    )
    assert [s["tier"] for s in ex2["spans"]] == ["hourly", "daily", "monthly"]
    assert ex2["raw_tail"]["lo"] == "2026-04-01T00:00:00"
    assert ex2["raw_hours"] == 29
    # watermark before the range: everything is raw tail
    ex3 = eng.explain_range(
        datetime(2026, 4, 1), datetime(2026, 4, 2), watermark=datetime(2026, 3, 1)
    )
    assert ex3["spans"] == [] and ex3["raw_hours"] == 24


def test_range_validation(fixture):
    _, tiers = fixture
    with pytest.raises(ValueError, match="freq column"):
        D.freq_drift(tiers, A, B, "nope")
    with pytest.raises(ValueError, match="empty range"):
        D.freq_drift(tiers, (A[0], A[0]), B, "role")
    with pytest.raises(ValueError, match="hist column"):
        D.hist_drift_ks(tiers, A, B, "nope")


def test_freq_first_seen_baseline_and_fold(spark):
    """M77: values seen in the baseline never alert; a value first seen
    later reports its FIRST day and that day's cross-conv folded count."""
    from datetime import datetime

    from engine.drift import freq_first_seen
    from engine.io import transcripts_from_events
    from engine.rollup import build_tiers

    rows = [
        # baseline week: 'old' everywhere
        (1, datetime(2024, 1, 1, 5), 1, "old"),
        (2, datetime(2024, 1, 3, 9), 2, "old"),
        # 'fresh' first appears Jan 10 in TWO convs (counts must fold: 3)
        (1, datetime(2024, 1, 10, 4), 3, "fresh"),
        (1, datetime(2024, 1, 10, 6), 4, "fresh"),
        (2, datetime(2024, 1, 10, 20), 5, "fresh"),
        # 'fresh' again later — must NOT shadow the first day
        (2, datetime(2024, 1, 14, 2), 6, "fresh"),
        # 'old' recurring after baseline — suppressed
        (1, datetime(2024, 1, 12, 0), 7, "old"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, et, 0.0, "{}") for u, ts, i, et in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    tiers = build_tiers(transcripts_from_events(ev), freq_cols=["role"])
    out = freq_first_seen(tiers["daily"], "role", datetime(2024, 1, 8)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.value == "fresh"
    assert str(r.first_seen) == "2024-01-10"
    assert r.first_day_n == 3
