"""M50 integer log-bucket quantile sketch (engine/qsketch.py): exact
integer bucket math (base-2 octaves × 16 sub-buckets) makes the sketch a
deterministic pure function of the input multiset — merge is key-union
addition, so tier composition is bit-exact, ranks are exact, and the
served value carries a hard ≤1/32 relative-error bound (exact below
32). Verified against Spark↔DuckDB parity, a numpy rank-rule twin,
salting, the pipeline migration story, and range rewrites."""

import sys
from datetime import datetime
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.qsketch import (  # noqa: E402
    QSK_KEY_SQL,
    QSK_REP_SQL,
    qsk_key_expr,
    qsk_percentiles,
    qsk_rep_expr,
    qsk_state_col,
)
from engine.rewrite import rewrite_range_qsk_percentiles  # noqa: E402
from engine.rollup import build_tiers, rollup_up, with_metrics  # noqa: E402
from engine.skew import rollup_hourly_salted  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

COL = qsk_state_col("token_count")


def _pykey(v: int) -> int:
    a, s = abs(v), (-1 if v < 0 else 1)
    if a < 32:
        return s * a
    e = a.bit_length() - 1
    return s * (16 * e - 64 + (a >> (e - 4)))


def _pyrep(k: int) -> int:
    a, s = abs(k), (-1 if k < 0 else 1)
    if a < 32:
        return s * a
    e = (a + 64) // 16 - 1
    top = (a + 64) % 16 + 16
    return s * ((top << (e - 4)) + (1 << (e - 5)) - 1)


def _probe_values():
    rng = np.random.default_rng(7)
    vals = {0, 1, 31, 32, 33, 63, 64, 2**62 + 12345, 2**63 - 1}
    for e in range(5, 62):
        vals |= {1 << e, (1 << e) - 1, (1 << e) + 1, 3 << (e - 1)}
    vals |= {int(x) for x in rng.integers(1, 2**62, 500)}
    vals |= {-v for v in list(vals)[:200] if v}
    return sorted(vals)


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def test_key_monotone_rep_bounded_and_duckdb_parity(spark):
    import duckdb

    vals = _probe_values()
    rows = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v", qsk_key_expr("v").alias("k")
    ).withColumn("rep", qsk_rep_expr("k")).orderBy("v").collect()
    con = duckdb.connect()
    dk = dict(
        con.execute(
            "SELECT v, " + QSK_KEY_SQL.format(v="v")
            + " FROM (SELECT unnest(?::BIGINT[]) AS v)",
            [vals],
        ).fetchall()
    )
    dr = dict(
        con.execute(
            "SELECT k, " + QSK_REP_SQL.format(k="k")
            + " FROM (SELECT unnest(?::BIGINT[]) AS k)",
            [sorted({_pykey(v) for v in vals})],
        ).fetchall()
    )
    prev_key = None
    for r in rows:
        v, k, rep = r["v"], r["k"], r["rep"]
        assert k == _pykey(v) == dk[v]
        assert rep == _pyrep(k) == dr[k]
        # monotone: sorted by v ⇒ keys non-decreasing (rank-preserving)
        assert prev_key is None or k >= prev_key
        prev_key = k
        if v != 0:
            assert abs(rep - v) / abs(v) <= 1 / 32
        if abs(v) < 32:
            assert rep == v  # exact regime


def _maps(df):
    return {
        (r["conv_id"], r["bucket_start"]): tuple(sorted(r[COL].items()))
        for r in df.collect()
    }


def test_tier_composition_bitexact_and_salted_identical(spark, t0):
    tiers = build_tiers(t0, qsk_cols=["token_count"])
    # direct per-month sketch over raw == composed monthly
    from engine.qsketch import qsk_maps

    direct = qsk_maps(
        with_metrics(t0).withColumn(
            "bucket_start",
            F.date_trunc("month", "ts").cast("timestamp_ntz"),
        ),
        ["conv_id", "bucket_start"],
        ["token_count"],
    )
    assert _maps(tiers["monthly"]) == _maps(direct)
    salted = rollup_up(
        rollup_up(
            rollup_hourly_salted(t0, 8, qsk_cols=["token_count"]), "daily"
        ),
        "monthly",
    )
    assert _maps(tiers["monthly"]) == _maps(salted)


def _numpy_twin(t0, qs):
    rows = with_metrics(t0).select(
        "conv_id",
        F.date_trunc("month", "ts").cast("timestamp_ntz").alias("b"),
        "token_count",
    ).collect()
    groups = {}
    for r in rows:
        groups.setdefault((r["conv_id"], r["b"]), []).append(
            r["token_count"]
        )
    want = {}
    for (cid, b), vs in groups.items():
        vs.sort()
        for q in qs:
            target = int(np.floor(q * (len(vs) - 1))) + 1
            want[(cid, b, q)] = (_pyrep(_pykey(vs[target - 1])), vs[target - 1])
    return want


def test_percentiles_match_exact_rank_rule(spark, t0):
    qs = [0.0, 0.5, 0.95, 1.0]
    m = build_tiers(t0, qsk_cols=["token_count"])["monthly"]
    got = {
        (r["conv_id"], r["bucket_start"], r["q"]): r["value"]
        for r in qsk_percentiles(
            m, ["conv_id", "bucket_start"], COL, qs
        ).collect()
    }
    want = _numpy_twin(t0, qs)
    assert got == {k: v[0] for k, v in want.items()}
    # hard relative-error bound vs the TRUE rank-target value
    for k, (served, true) in want.items():
        if true:
            assert abs(served - true) / abs(true) <= 1 / 32, k


def test_all_null_bucket_carries_empty_map(spark):
    t = spark.createDataFrame(
        [
            ("c", 0, "user", None, None, datetime(2026, 1, 1, 0, 0)),
            ("c", 1, "user", "xyz", None, datetime(2026, 1, 1, 2, 0)),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    h = {
        r["bucket_start"]: dict(r[COL])
        for r in build_tiers(t, qsk_cols=["token_count"])["hourly"].collect()
    }
    assert h[datetime(2026, 1, 1, 0)] == {}
    assert h[datetime(2026, 1, 1, 2)] == {3: 1}
    d = build_tiers(t, qsk_cols=["token_count"])["daily"].collect()[0]
    assert dict(d[COL]) == {3: 1}


def test_pipeline_migration_and_parity(spark, t0, tmp_path):
    root = str(tmp_path / "qsk")
    r1 = TierPipeline(spark, root).run(t0)
    n_days = r1["stages"]["hourly"]
    pipe = TierPipeline(spark, root, qsk_cols=["token_count"])
    r2 = pipe.run(t0)
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["compress"] == 0
    assert _maps(pipe.read_tier("monthly")) == _maps(
        build_tiers(t0, qsk_cols=["token_count"])["monthly"]
    )
    r3 = TierPipeline(spark, root, qsk_cols=["token_count"]).run(t0)
    assert all(v == 0 for v in r3["stages"].values()), r3


def test_range_rewrite_percentiles_vs_raw(spark, t0):
    from engine.rewrite import split_range

    tiers = build_tiers(t0, qsk_cols=["token_count"])
    lo, hi = datetime(2026, 1, 3, 7), datetime(2026, 3, 18, 12)
    assert len(split_range(lo, hi)) > 2
    qs = [0.5, 0.99]
    got = {
        (r["conv_id"], r["q"]): r["value"]
        for r in rewrite_range_qsk_percentiles(
            tiers, lo, hi, "token_count", qs
        ).collect()
    }
    ntz = F.col("ts").cast("timestamp_ntz")
    raw = t0.filter((ntz >= F.lit(lo)) & (ntz < F.lit(hi)))
    groups = {}
    for r in with_metrics(raw).select("conv_id", "token_count").collect():
        groups.setdefault(r["conv_id"], []).append(r["token_count"])
    want = {}
    for cid, vs in groups.items():
        vs.sort()
        for q in qs:
            target = int(np.floor(q * (len(vs) - 1))) + 1
            want[(cid, q)] = _pyrep(_pykey(vs[target - 1]))
    assert got and got == want
