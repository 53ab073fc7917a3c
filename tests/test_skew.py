"""Salting correctness (SURVEY.md §5 / M8): salted two-phase rollup must be
bit-identical to the unsalted path (algebraic aggregates compose)."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine.rollup import STATE_COLS, rollup_hourly, tier_view  # noqa: E402
from engine.skew import hot_conversations, rollup_hourly_salted  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402

KEY = ["conv_id", "bucket_start"]


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=150, hot_turns=2000)  # strong skew
    df.cache().count()
    return df


def test_input_is_skewed(t0):
    hot = hot_conversations(t0, top_k=1).collect()[0]
    assert hot["share"] > 0.2  # hottest conversation >20% of all turns


@pytest.mark.parametrize("n_salts", [4, 16])
def test_salted_equals_unsalted(spark, t0, n_salts):
    plain = (
        rollup_hourly(t0)
        .select(*KEY, *STATE_COLS)
        .toPandas()
        .sort_values(KEY, ignore_index=True)
    )
    salted = (
        rollup_hourly_salted(t0, n_salts=n_salts)
        .select(*KEY, *STATE_COLS)
        .toPandas()
        .sort_values(KEY, ignore_index=True)
    )
    assert plain.equals(salted)


def test_salted_view_identical(spark, t0):
    a = tier_view(rollup_hourly(t0), "hourly").toPandas().sort_values(
        KEY, ignore_index=True
    )
    b = tier_view(rollup_hourly_salted(t0), "hourly").toPandas().sort_values(
        KEY, ignore_index=True
    )
    assert a.equals(b)


#: every tier-state family of the hourly leaf, enabled at once
ALL_FAMILIES = dict(
    sketch_cols=["tool", "role"],
    hist_cols={"token_count": (0.0, 50.0, 8)},
    firstlast_cols=["role", "tool"],
    sumsq_cols=["token_count"],
    sumprod_cols=[("token_count", "is_tool")],
    freq_cols=["tool"],
    hh_cols={"role": 4},
    kmv_cols={"tool": 8},
    session_gaps=[30],
    statedur_cols=["role"],
    twa_cols=["token_count"],
    qsk_cols=["token_count"],
    topn_cols={"token_count": 3},
    botn_cols={"token_count": 2},
)


def _canon(v):
    """Order-free form of a collected value: map entries sorted, rows and
    arrays as tuples (array order is part of the state)."""
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _leaf_rows(df):
    # HLL sketch bytes depend on merge order; their estimates do not
    df = df.withColumns(
        {c: F.hll_sketch_estimate(c) for c in df.columns if c.endswith("_hll")}
    )
    return sorted(_canon(r) for r in df.collect())


@pytest.fixture(scope="module")
def small_t0(spark):
    df = synth_transcripts(spark, n_convs=20, hot_turns=300)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def plain_all(small_t0):
    df = rollup_hourly(small_t0, **ALL_FAMILIES)
    return df.schema.simpleString(), _leaf_rows(df)


@pytest.mark.parametrize("n_salts", [1, 16])
def test_salted_equals_unsalted_all_families(small_t0, plain_all, n_salts):
    """One leaf, every family: the salted result equals the plain one row
    for row, and both write one hourly schema (names, types and order), so
    a root built under salted='auto' never mixes file schemas."""
    salted = rollup_hourly_salted(small_t0, n_salts=n_salts, **ALL_FAMILIES)
    assert (salted.schema.simpleString(), _leaf_rows(salted)) == plain_all


def test_salt_spreads_hot_key(spark, t0):
    """The phase-1 aggregate must actually split the hot conversation."""
    from engine.bucket import with_metrics

    hot_id = hot_conversations(t0, top_k=1).collect()[0]["conv_id"]
    df = with_metrics(t0).withColumn(
        "_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(16))
    )
    n_groups = (
        df.filter(F.col("conv_id") == hot_id).select("_salt").distinct().count()
    )
    assert n_groups == 16


def _sessions_pdf(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "session_id"], ignore_index=True)
        .reindex(sorted(df.columns), axis=1)
    )


def _sessions_unsalted(df, key, ts_col, order_cols):
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts_col, *order_cols)
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    new_s = F.when(
        F.lag(ts_col).over(w).isNull()
        | (us - F.lag(us).over(w) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    s = df.withColumn("new_s", new_s).withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return s.groupBy(key, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    )


@pytest.mark.parametrize("slice_interval", ["6 hours", "1 day", "15 minutes"])
def test_session_islands_salted_parity(spark, t0, slice_interval):
    """Salted sessionization == unsalted on the Zipf-hot transcript table,
    including slices NARROWER than the 30-min gap (pass 2 re-merges across
    any number of empty slices)."""
    from engine.skew import session_islands_salted

    plain = _sessions_pdf(
        _sessions_unsalted(t0, "conv_id", "ts", ("turn_idx",))
    )
    salted = _sessions_pdf(
        session_islands_salted(
            t0, key="conv_id", ts_col="ts", order_cols=("turn_idx",),
            gap_minutes=30, slice_interval=slice_interval,
        )
    )
    assert plain.equals(salted), slice_interval


def test_session_islands_salted_plan_slices_event_window(spark, t0):
    """The event-level window must partition on (key, slice) — the hot
    key's events never funnel through one reducer — and the island-group
    aggregate must reuse that partitioning (no extra event-level exchange:
    exactly one exchange mentions _slice)."""
    from engine.skew import session_islands_salted

    p = (
        session_islands_salted(
            t0, key="conv_id", ts_col="ts", order_cols=("turn_idx",)
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_slice" in p
    n_slice_exchanges = sum(
        1 for line in p.splitlines()
        if "Exchange" in line and "_slice" in line
    )
    assert n_slice_exchanges == 1, p
