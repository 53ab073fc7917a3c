"""M45 KMV distinct sketches (engine/kmv.py): exact-deterministic
sorted-union-truncate merge (tier composition and salting bit-identical
to a direct build), exact regime below k, Beyer-et-al estimators with
O(1/sqrt(k)) error beyond, set algebra (intersection / Jaccard), range
overlap rewrite, and the full-pipeline enable-as-migration story."""

import math
import sys
from datetime import datetime
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.kmv import (  # noqa: E402
    kmv_arrays,
    kmv_estimate,
    kmv_merge_aggs,
    kmv_state_col,
)
from engine.pipeline import TierPipeline  # noqa: E402
from engine.rollup import build_tiers, densify_hourly_locf, rollup_hourly  # noqa: E402
from engine.skew import rollup_hourly_salted  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=30, hot_turns=200)
    df.cache().count()
    return df


def _sk(df, col):
    return {
        (r["conv_id"], r["bucket_start"]): tuple(r[col])
        for r in df.select("conv_id", "bucket_start", col).collect()
    }


# ---------------------------------------------------------------- algebra


def test_merge_equals_direct_build_any_split(spark):
    """The k smallest distinct hashes of a union are a pure function of
    each part's k smallest — merge MUST be bit-identical to a direct
    build, for any partitioning of the rows."""
    k = 32
    df = spark.range(5000).select(
        (F.col("id") % 611).cast("string").alias("v"),
        (F.col("id") % 7).alias("part"),
    )
    direct = df.select(F.lit(1).alias("g"), "v")
    direct = kmv_arrays(direct, ["g"], {"v": k}).collect()[0][1]
    parts = kmv_arrays(
        df.select(F.col("part").alias("g"), "v"), ["g"], {"v": k}
    )
    merged = (
        parts.select(F.lit(1).alias("g"), kmv_state_col("v", k))
        .groupBy("g")
        .agg(*kmv_merge_aggs([kmv_state_col("v", k)]))
        .collect()[0][1]
    )
    assert list(merged) == list(direct)
    assert len(direct) == k  # 611 distincts saturate k=32


def test_exact_regime_is_the_distinct_hash_set(spark):
    k = 256
    df = spark.range(4000).select(
        F.lit(1).alias("g"), (F.col("id") % 97).cast("string").alias("v")
    )
    got = kmv_arrays(df, ["g"], {"v": k}).collect()[0][1]
    want = sorted(
        r[0]
        for r in df.select(F.xxhash64("v")).distinct().collect()
    )
    assert list(got) == want
    assert len(got) == 97


def test_estimator_error_bound(spark):
    """Saturated-regime cardinality estimate: (k-1)/U_(k) on 20k true
    distincts at k=256 — assert within 5 standard errors (rsd ~=
    1/sqrt(k-2) ~= 6.3%)."""
    k, n = 256, 20000
    df = spark.range(n * 3).select(
        F.lit(1).alias("g"), (F.col("id") % n).cast("string").alias("v")
    )
    sk = kmv_arrays(df, ["g"], {"v": k})
    est = sk.select(
        kmv_estimate(F.col(kmv_state_col("v", k)), k).alias("e")
    ).collect()[0]["e"]
    rsd = 1.0 / math.sqrt(k - 2)
    assert abs(est - n) / n < 5 * rsd, est


def test_nulls_skipped_and_empty_bucket_carries_empty_array(spark, t0):
    """tool is null on non-tool turns: the sketch must count only real
    values, and an all-null bucket must carry [] (not NULL)."""
    k = 64
    hourly = rollup_hourly(t0, kmv_cols={"tool": k})
    col = kmv_state_col("tool", k)
    rows = hourly.select(
        "conv_id",
        "bucket_start",
        F.size(col).alias("sz"),
        F.col(col).isNull().alias("isnull"),
    ).collect()
    assert not any(r["isnull"] for r in rows)
    exact = {
        (r["conv_id"], r["bucket_start"]): r["nd"]
        for r in t0.groupBy(
            "conv_id",
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias(
                "bucket_start"
            ),
        )
        .agg(F.count_distinct("tool").alias("nd"))
        .collect()
    }
    for r in rows:
        assert r["sz"] == min(exact[(r["conv_id"], r["bucket_start"])], k)


def test_tier_composition_and_salting_bit_exact(spark, t0):
    """monthly-from-hourly == salted-leaf monthly, array for array."""
    kmv = {"text": 128, "tool": 16}
    plain = build_tiers(t0, kmv_cols=kmv)["monthly"]
    from engine.rollup import rollup_up

    salted = rollup_up(
        rollup_up(rollup_hourly_salted(t0, 8, kmv_cols=kmv), "daily"),
        "monthly",
    )
    for c, k in kmv.items():
        col = kmv_state_col(c, k)
        assert _sk(plain, col) == _sk(salted, col)


def test_densify_carries_kmv_state(spark, t0):
    k = 64
    hourly = rollup_hourly(t0, kmv_cols={"text": k})
    dense = densify_hourly_locf(hourly)
    col = kmv_state_col("text", k)
    filled = dense.filter("filled")
    if filled.count() == 0:
        pytest.skip("fixture has no intra-day gaps")
    # every filled row carries its predecessor's (non-null) sketch
    assert filled.filter(F.col(col).isNull()).count() == 0


# ------------------------------------------------------------- overlap


def test_overlap_exact_vs_raw(spark, t0):
    """Exact-regime day-over-day intersection from DAILY tier sketches
    == brute-force set intersection over raw."""
    k = 1024
    daily = build_tiers(t0, kmv_cols={"text": k})["daily"]
    col = kmv_state_col("text", k)
    a = daily.select(
        "conv_id",
        F.col("bucket_start").alias("da"),
        F.date_add("bucket_start", 1).cast("timestamp_ntz").alias("db"),
        F.col(col).alias("_a"),
    )
    b = daily.select(
        "conv_id", F.col("bucket_start").alias("db"), F.col(col).alias("_b")
    )
    got = {
        (r["conv_id"], r["da"]): r["nc"]
        for r in a.join(b, ["conv_id", "db"])
        .select(
            "conv_id",
            "da",
            F.size(F.array_intersect("_a", "_b")).alias("nc"),
        )
        .collect()
    }
    raw = t0.select(
        "conv_id", F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d"), "text"
    ).distinct()
    ra = raw.select("conv_id", F.col("d").alias("da"), "text")
    rb = raw.select(
        "conv_id",
        F.date_sub("d", 1).cast("timestamp_ntz").alias("da"),
        "text",
    )
    want = {
        (r["conv_id"], r["da"]): r["nc"]
        for r in ra.join(rb, ["conv_id", "da", "text"])
        .groupBy("conv_id", "da")
        .agg(F.count("*").alias("nc"))
        .collect()
    }
    assert got, "no adjacent-day pairs in fixture"
    for key, nc in got.items():
        assert nc == want.get(key, 0), key


def test_overlap_estimator_on_planted_sets(spark):
    """Saturated regime: two 8k-value sets sharing exactly half their
    values — jaccard_est/n_common_est within 5 sigma of truth."""
    from engine.rewrite import rewrite_range_kmv_overlap

    k, n = 256, 8000
    # A = [0, 8000), B = [4000, 12000) -> |A ∩ B| = 4000, J = 1/3
    base = spark.range(3 * n // 2).select(
        F.col("id").cast("string").alias("text")
    )

    def mk(lo, hi, day):
        return base.filter(
            (F.col("text").cast("long") >= lo) & (F.col("text").cast("long") < hi)
        ).select(
            F.lit("conv-x").alias("conv_id"),
            F.col("text").cast("long").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(day).cast("timestamp").alias("ts"),
        )

    t = mk(0, n, datetime(2024, 1, 1, 6)).unionByName(
        mk(n // 2, 3 * n // 2, datetime(2024, 1, 2, 6))
    )
    tiers = build_tiers(t, kmv_cols={"text": k})
    got = rewrite_range_kmv_overlap(
        tiers,
        "text",
        datetime(2024, 1, 1),
        datetime(2024, 1, 2),
        datetime(2024, 1, 2),
        datetime(2024, 1, 3),
    ).collect()[0]
    assert not got["exact"]
    sigma = 1.0 / math.sqrt(k)
    assert abs(got["jaccard_est"] - 1 / 3) < 5 * sigma
    assert abs(got["n_union_est"] - 3 * n / 2) / (3 * n / 2) < 5 / math.sqrt(
        k - 2
    )
    assert abs(got["n_common_est"] - n / 2) / (n / 2) < 15 * sigma


def test_range_overlap_exact_regime_vs_raw(spark, t0):
    """rewrite_range_kmv_overlap across mixed tier spans, exact regime:
    n_common/jaccard == brute force over raw for every conversation."""
    from engine.rewrite import rewrite_range_kmv_overlap, split_range

    k = 4096
    tiers = build_tiers(t0, kmv_cols={"text": k})
    # the deterministic fixture's hot conversation spans Mar 18 01:38 →
    # Mar 19 18:18; splitting at Mar 18 12:00 puts it (and any other
    # straddler) in BOTH ranges, so the inner overlap join is non-empty
    lo_a, hi_a = datetime(2026, 1, 3, 7), datetime(2026, 3, 18, 12)
    lo_b, hi_b = datetime(2026, 3, 18, 12), datetime(2026, 3, 31)
    assert len(split_range(lo_a, hi_a)) > 1  # genuinely multi-tier
    got = {
        r["conv_id"]: (r["n_a"], r["n_b"], r["n_common"], r["exact"])
        for r in rewrite_range_kmv_overlap(
            tiers, "text", lo_a, hi_a, lo_b, hi_b
        ).collect()
    }
    assert got
    ntz = F.col("ts").cast("timestamp_ntz")
    sa = t0.filter((ntz >= F.lit(lo_a)) & (ntz < F.lit(hi_a))).select(
        "conv_id", "text"
    ).distinct()
    sb = t0.filter((ntz >= F.lit(lo_b)) & (ntz < F.lit(hi_b))).select(
        "conv_id", "text"
    ).distinct()
    n_a = {r["conv_id"]: r["n"] for r in sa.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
    n_b = {r["conv_id"]: r["n"] for r in sb.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
    n_c = {
        r["conv_id"]: r["n"]
        for r in sa.join(sb, ["conv_id", "text"])
        .groupBy("conv_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for cid, (ga, gb, gc, exact) in got.items():
        assert exact, cid
        assert (ga, gb, gc) == (n_a[cid], n_b[cid], n_c.get(cid, 0)), cid


def test_range_overlap_refuses_missing_state(spark, t0):
    from engine.rewrite import rewrite_range_kmv_overlap

    tiers = build_tiers(t0)  # no kmv_cols
    with pytest.raises(ValueError, match="no KMV column"):
        rewrite_range_kmv_overlap(
            tiers,
            "text",
            datetime(2026, 1, 3),
            datetime(2026, 1, 5),
            datetime(2026, 1, 5),
            datetime(2026, 1, 7),
        )


# ------------------------------------------------------------- pipeline


def test_enabling_kmv_is_a_one_time_backfill(spark, t0, tmp_path):
    """The hist/freq/hh migration story, verbatim: flipping kmv_cols on an
    existing root re-rolls the tiers exactly once (fingerprint change),
    leaves the sketch-free series stages untouched, and is a no-op at
    steady state."""
    root = str(tmp_path / "mig")
    plain = TierPipeline(spark, root)
    r1 = plain.run(t0)
    n_days = r1["stages"]["hourly"]
    assert "text_kmv64" not in plain.read_tier("hourly").columns
    km = TierPipeline(spark, root, kmv_cols={"text": 64})
    r2 = km.run(t0)
    assert r2["stages"]["hourly"] == n_days
    assert r2["stages"]["daily"] == r1["stages"]["daily"]
    assert r2["stages"]["monthly"] == r1["stages"]["monthly"]
    assert r2["stages"]["compress"] == 0
    assert "text_kmv64" in km.read_tier("monthly").columns
    r3 = TierPipeline(spark, root, kmv_cols={"text": 64}).run(t0)
    assert all(v == 0 for v in r3["stages"].values()), r3
    r4 = TierPipeline(spark, root).run(t0)
    assert r4["stages"]["hourly"] == n_days
    assert "text_kmv64" not in TierPipeline(spark, root).read_tier("hourly").columns


def test_pipeline_kmv_matches_build_tiers(spark, t0, tmp_path):
    """Salted pipeline persistence == in-memory build_tiers, array for
    array, at every tier — and the facade serves range overlap from it."""
    root = str(tmp_path / "kmvp")
    pipe = TierPipeline(
        spark, root, salted=True, kmv_cols={"text": 128}, fill_tiers=False
    )
    pipe.run(t0)
    want = build_tiers(t0, kmv_cols={"text": 128})
    col = kmv_state_col("text", 128)
    for tier in ("hourly", "daily", "monthly"):
        got = _sk(pipe.read_tier(tier), col)
        exp = _sk(want[tier], col)
        assert got == exp, tier
    from engine.api import TierEngine

    eng = TierEngine(
        spark, root, salted=True, kmv_cols={"text": 128}, fill_tiers=False
    )
    df = eng.serve_range_overlap(
        "text",
        datetime(2026, 1, 3),
        datetime(2026, 3, 18, 12),
        datetime(2026, 3, 18, 12),
        datetime(2026, 3, 31),
    )
    assert df.count() > 0
    with pytest.raises(ValueError, match="kmv_cols"):
        eng.serve_range_overlap(
            "tool",
            datetime(2026, 1, 3),
            datetime(2026, 3, 18, 12),
            datetime(2026, 3, 18, 12),
            datetime(2026, 3, 31),
        )
