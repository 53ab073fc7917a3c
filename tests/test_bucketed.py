"""Bucketed-table co-location (L5 scale path): the conv_id shuffle is paid
once at write time; joins and aggregations on the bucket key then plan with
zero Exchange operators. Results must equal the plain shuffled join."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.bucketed import cogroup_join, read_bucketed, write_bucketed  # noqa: E402
from engine.rollup import rollup_hourly  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    t0 = synth_transcripts(spark, n_convs=200, hot_turns=2000, partitions=4)
    hourly = rollup_hourly(t0)
    daily_keys = (
        hourly.groupBy("conv_id")
        .agg(F.count("*").alias("n_hours"), F.sum("n_turns").alias("n_turns"))
    )
    write_bucketed(
        hourly, "hourly_b", n_buckets=8,
        sort_cols=("conv_id", "bucket_start"),
        path=str(base / "hourly_b"),
    )
    write_bucketed(
        daily_keys, "convstats_b", n_buckets=8, sort_cols=("conv_id",),
        path=str(base / "convstats_b"),
    )
    yield hourly, daily_keys
    spark.sql("DROP TABLE IF EXISTS hourly_b")
    spark.sql("DROP TABLE IF EXISTS convstats_b")


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    # disable auto-broadcast so the planner faces the genuine large⨝large
    # case bucketing exists for (at 100 TB neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cogroup_join(spark, "hourly_b", "convstats_b", on=["conv_id"])
        plan = _executed(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan


def test_bucketed_join_matches_shuffled_join(spark, bucketed_tables):
    hourly, daily_keys = bucketed_tables
    expected = hourly.join(daily_keys, on=["conv_id"]).count()
    got = cogroup_join(spark, "hourly_b", "convstats_b", on=["conv_id"]).count()
    assert got == expected and got > 0


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    agg = (
        read_bucketed(spark, "hourly_b")
        .groupBy("conv_id")
        .agg(F.sum("n_turns").alias("n_turns"))
    )
    plan = _executed(agg)
    assert "Exchange" not in plan, plan


def test_bucketed_groupby_matches_shuffled(spark, bucketed_tables):
    hourly, _ = bucketed_tables
    expected = {
        r["conv_id"]: r["s"]
        for r in hourly.groupBy("conv_id")
        .agg(F.sum("n_turns").alias("s"))
        .collect()
    }
    got = {
        r["conv_id"]: r["s"]
        for r in read_bucketed(spark, "hourly_b")
        .groupBy("conv_id")
        .agg(F.sum("n_turns").alias("s"))
        .collect()
    }
    assert got == expected


def test_unbucketed_join_does_exchange(spark, bucketed_tables):
    """Control: the same join off plain DataFrames shuffles — proving the
    bucketed-plan assertion isn't vacuous (e.g. via a broadcast)."""
    hourly, daily_keys = bucketed_tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed(hourly.join(daily_keys, on=["conv_id"]))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Exchange" in plan


# -- pipeline end-to-end bucketed mirror (VERDICT r2 item 3) -----------------


@pytest.fixture(scope="module")
def bucketed_pipe(spark, tmp_path_factory):
    from engine.pipeline import TierPipeline

    base = tmp_path_factory.mktemp("bpipe")
    t0 = synth_transcripts(spark, n_convs=60, hot_turns=500)
    t0.cache().count()
    plain = TierPipeline(spark, str(base / "plain"))
    plain.run(t0)
    bkt = TierPipeline(spark, str(base / "bkt"), bucketed=True, n_buckets=8)
    bkt.run(t0)
    yield t0, plain, bkt
    spark.sql(f"DROP TABLE IF EXISTS {bkt.bucketed_table()}")
    t0.unpersist()


def test_bucketed_pipeline_matches_plain(spark, bucketed_pipe):
    """Gap-filled series and chunk outputs are byte-identical whether the
    series readers read the day-partitioned tier (shuffling per reader) or
    the bucketed mirror (one amortized shuffle at mirror write)."""
    import pandas as pd

    from engine.gapfill import gapfill, hourly_series

    _, plain, bkt = bucketed_pipe
    key = ["conv_id", "metric", "bucket_start"]
    g_plain = (
        gapfill(hourly_series(plain.series_input()), plain.fill_method)
        .toPandas()
        .sort_values(key, ignore_index=True)
    )
    g_bkt = (
        gapfill(hourly_series(bkt.series_input()), bkt.fill_method)
        .toPandas()
        .sort_values(key, ignore_index=True)
    )
    pd.testing.assert_frame_equal(g_bkt[g_plain.columns], g_plain)
    ckey = ["conv_id", "metric", "chunk_start"]
    c_plain = (
        spark.read.parquet(plain.chunks_path).toPandas()
        .sort_values(ckey, ignore_index=True)
    )
    c_bkt = (
        spark.read.parquet(bkt.chunks_path).toPandas()
        .sort_values(ckey, ignore_index=True)
    )
    assert (c_plain["crc32"].to_numpy() == c_bkt["crc32"].to_numpy()).all()
    pd.testing.assert_frame_equal(c_bkt[c_plain.columns], c_plain)


def test_bucketed_pipeline_series_stages_zero_exchange(spark, bucketed_pipe):
    """The exact stage plans the bucketed pipeline runs — LOCF window,
    linear-fill FlatMapGroupsInPandas, chunk aggregation — contain NO
    Exchange: the mirror scan's HashPartitioning(conv_id, n) satisfies
    every (conv_id, …)-clustered requirement downstream."""
    from engine.codec.chunks import make_chunks
    from engine.gapfill import gapfill_linear, gapfill_locf, hourly_series

    _, _, bkt = bucketed_pipe
    series = hourly_series(bkt.series_input())
    locf_plan = _executed(gapfill_locf(series))
    assert "Exchange" not in locf_plan, locf_plan
    assert "Window" in locf_plan
    chunks_plan = _executed(make_chunks(series, tier="hourly"))
    assert "Exchange" not in chunks_plan, chunks_plan
    linear_plan = _executed(gapfill_linear(series).limit(1))
    n_ex = linear_plan.count("Exchange")
    assert "FlatMapGroupsInPandas" in linear_plan
    # linear fill densifies via a spine join first; the grouped-map itself
    # must not add a conv_id exchange on the observed side
    before_fmg = linear_plan.split("FlatMapGroupsInPandas")[0]
    assert "Exchange hashpartitioning(conv_id" not in before_fmg.split("Join")[0], (
        linear_plan
    )
    assert n_ex <= 3, linear_plan


def test_bucketed_mirror_refresh_and_resume(spark, bucketed_pipe, tmp_path):
    """The mirror is rebuilt only when the hourly fingerprint changes; a
    no-op rerun reuses it (manifest-gated), and a fresh-catalog resume
    re-registers the existing files without rewriting data."""
    t0, _, bkt = bucketed_pipe
    mani = bkt.manifest.read().filter(F.col("stage") == "hourly_bucketed")
    assert mani.count() == 1  # built exactly once across the run's stages
    res2 = bkt.run(t0)
    assert all(n == 0 for n in res2["stages"].values())
    assert (
        bkt.manifest.read().filter(F.col("stage") == "hourly_bucketed").count()
        == 1
    )  # not rebuilt
    # simulate a fresh process: drop the in-memory catalog entry, keep files
    spark.sql(f"DROP TABLE IF EXISTS {bkt.bucketed_table()}")
    df = bkt.series_input()
    plan = _executed(df.groupBy("conv_id").agg(F.sum("n_turns").alias("s")))
    assert "Exchange" not in plan, plan  # re-registered WITH bucket metadata
