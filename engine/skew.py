"""Skew handling (SURVEY.md F6/E3/L5).

BASELINE.json:6: "skewed hot conversations are salted before windowed
aggregation and shuffle partitioning is keyed on (conv_id bucket, time
bucket)". AQE splits skewed *joins* at runtime but cannot split a skewed
groupBy aggregation — a hot conv_id funnels every row through one reducer.

The fix exploits the tier algebra's composability: `rollup_hourly(t0,
n_salts=S)` (engine/rollup.py) salts the leaf rollup into S sub-aggregates
per (conv_id, bucket) and composes them with the same integer-exact merge
used between tiers — results are bit-identical to the unsalted path by
construction. This module holds the shuffle-key helpers, the skew
diagnostics and the salted session-window twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rollup import rollup_hourly


def with_conv_time_keys(
    df: DataFrame, n_conv_buckets: int = 64, ts_col: str = "ts"
) -> DataFrame:
    """L5: the engine's canonical shuffle keys — (conv bucket, time bucket),
    Iceberg hidden-partitioning style."""
    return df.withColumns(
        {
            "conv_bucket": F.pmod(F.xxhash64("conv_id"), F.lit(n_conv_buckets)).cast(
                "int"
            ),
            "bucket_date": F.to_date(ts_col),
        }
    )


def repartition_for_rollup(df: DataFrame, num_partitions: int | None = None):
    """Shuffle once on the canonical keys; downstream groupBys on
    (conv_id, bucket) reuse this layout (AQE elides aligned exchanges)."""
    cols = ["conv_bucket", "bucket_date"]
    return (
        df.repartition(num_partitions, *cols) if num_partitions else df.repartition(*cols)
    )


def hot_conversations(t0: DataFrame, top_k: int = 20) -> DataFrame:
    """E3: skew diagnostics — top-k conv_ids by row count with their share.
    The total is derived from the per-key aggregate (partial+final combine,
    one broadcast row), not a second scan of the input."""
    per_key = t0.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    total = per_key.agg(F.sum("n_turns").alias("_total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n_turns") / F.col("_total"))
        .drop("_total")
        .orderBy(F.desc("n_turns"), "conv_id")
        .limit(top_k)
    )


# A delegation kept for its importers: the benchmark's kernel timings
# (perfbench/layers.py), which must run unchanged on older and newer
# checkouts to compare them, and the per-family salt-parity tests.
def rollup_hourly_salted(t0: DataFrame, n_salts: int = 16, **state) -> DataFrame:
    """F6: the salted leaf rollup — rollup_hourly with `n_salts` salts."""
    return rollup_hourly(t0, n_salts=n_salts, **state)


def session_islands_salted(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = (),
    gap_minutes: int = 30,
    slice_interval: str = "1 day",
) -> DataFrame:
    """C4/F6: skew-safe gaps-and-islands sessionization — the salted twin of
    the `session_islands` query, completing the north rule ("skewed hot
    conversations are salted before windowed aggregation") for session
    windows the way `asof_join_salted` does for as-of joins.

    The plain formulation funnels a hot key's EVERY event through one
    reducer (window partitioned by key). Here the event-level window runs
    per (key, time-slice) — pass-1 task work is bounded by slice width, not
    key heat — and only ISLAND-level rows (one per local session fragment,
    not per event) reach the per-key pass 2, which re-runs the identical
    gaps-and-islands merge at island granularity and renumbers.

    Exact for ANY slice width, not just slices ≥ gap: slices partition
    time, so local islands never overlap and are chronologically ordered by
    island_start per key; within a slice consecutive islands are > gap
    apart by construction, and across slices pass 2 applies the same
    start − prev_end > gap rule the event-level algorithm would. Pass-1
    aggregation reuses the window's (key, slice) hash partitioning — one
    event-level shuffle total. Degenerate worst case (every event its own
    island) degrades to the unsalted shape; for real hot keys islands per
    slice ≪ events per slice.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    sliced = df.withColumn(
        "_slice",
        F.window(ts_col, slice_interval)["start"].cast("timestamp_ntz"),
    )
    w1 = Window.partitionBy(key, "_slice").orderBy(ts_col, *order_cols)
    new_local = F.when(
        F.lag(ts_col).over(w1).isNull()
        | (us - F.lag(us).over(w1) > gap_us),
        1,
    ).otherwise(0)
    local = (
        sliced.withColumn("_new", new_local)
        .withColumn(
            "_li",
            F.sum("_new").over(
                w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        # groups by a superset of the window's partition keys: satisfied by
        # the existing HashPartitioning(key, _slice) — no second exchange
        .groupBy(key, "_slice", "_li")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    # pass 2: same algorithm over island rows (one per local fragment)
    w2 = Window.partitionBy(key).orderBy("session_start")
    start_us = F.unix_micros(F.col("session_start").cast("timestamp_ltz"))
    prev_end_us = F.unix_micros(
        F.lag("session_end").over(w2).cast("timestamp_ltz")
    )
    new_merged = F.when(
        prev_end_us.isNull() | (start_us - prev_end_us > gap_us), 1
    ).otherwise(0)
    merged = local.withColumn("_newm", new_merged).withColumn(
        "session_id",
        F.sum("_newm").over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return merged.groupBy(key, "session_id").agg(
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
        F.sum("n_events").alias("n_events"),
    )
