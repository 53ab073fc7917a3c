"""Interpolated bucket serving (M51) — TimescaleDB toolkit
`interpolated_average` / `interpolated_duration_in_state`, Spark-first,
served from tier structs with ONE lag()/lead() over tier rows — never a
raw scan.

The per-bucket states (M48 statedur, M49 twa) attribute each interval
[tᵢ, tᵢ₊₁) between consecutive observations to the value/state at tᵢ,
WITHIN the bucket: the interval crossing a bucket boundary belongs to no
bucket's own state (it is re-added at merge time by the monoid fold).
Dashboards, though, want per-bucket answers that cover the FULL bucket
window — "average tokens in flight during hour H", with the value that
was current at H:00 (set in an EARLIER bucket) covering [H:00,
first_obs) and the bucket's last value extending to H+1 when any later
observation proves the series was still alive. That is exactly the
`interpolated_*(agg, prev, next)` family:

    carry-in   prev.last_val  over [bucket_start, first_us)   (if a prior
               observed bucket exists — LOCF across any missing buckets)
    own area   the bucket's within-state integral
    carry-out  own last_val   over [last_us, bucket_end)       (if a later
               observed bucket exists)
    covered    [bucket_start if prev else first_us,
                bucket_end   if next else last_us]

Emitted per OBSERVED tier row only (a bucket with no row gets nothing —
same as TimescaleDB, where interpolation decorates existing aggregate
rows). Exact integer micros; the TWA's single float division happens
last. Everything is plain window + map algebra over tier-sized inputs:
at 10^12 turns an interpolated daily dashboard reads O(days) structs per
conversation.

Boundary carries with zero width (an observation exactly on the bucket
edge) are suppressed rather than emitted as zero-duration entries, so
the served rows match a raw segment-overlap computation row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .countmap import add_counts, empty_counts
from .statedur import sd_state_col
from .twa import twa_state_col

_UNIT_INTERVAL = {
    "hourly": "INTERVAL 1 HOUR",
    "daily": "INTERVAL 1 DAY",
    "monthly": "INTERVAL 1 MONTH",
}


def _us(col: Column) -> Column:
    return F.unix_micros(col.cast("timestamp_ltz"))


def _bucket_bounds(tier: str) -> tuple[Column, Column]:
    if tier not in _UNIT_INTERVAL:
        raise ValueError(f"unknown tier {tier!r}")
    start = _us(F.col("bucket_start"))
    end = _us(F.expr(f"bucket_start + {_UNIT_INTERVAL[tier]}"))
    return start, end


def _observed(tier_df: DataFrame) -> DataFrame:
    if "filled" in tier_df.columns:
        return tier_df.filter(~F.col("filled"))
    return tier_df


def interpolated_twa(tier_df: DataFrame, tier: str, col: str) -> DataFrame:
    """Per-bucket interpolated time-weighted average from `twa_{col}`
    tier structs. Returns (conv_id, bucket_start, integral, covered_us,
    itwa) — integral/covered exact longs, itwa one float division.
    Sentinel rows (buckets whose observations were all null) are skipped:
    they carry no value to anchor either boundary of their own window,
    and LOCF carries straight across them."""
    c = twa_state_col(col)
    st = F.col(c)
    obs = _observed(tier_df).filter(st["first_us"].isNotNull())
    w = Window.partitionBy("conv_id").orderBy("bucket_start")
    b_start, b_end = _bucket_bounds(tier)
    prev = F.lag(c).over(w)
    has_next = F.lead("bucket_start").over(w).isNotNull()
    carry_in = F.when(
        prev.isNotNull() & (st["first_us"] > b_start),
        prev["last_val"] * (st["first_us"] - b_start),
    ).otherwise(F.lit(0).cast("long"))
    carry_out = F.when(
        has_next, st["last_val"] * (b_end - st["last_us"])
    ).otherwise(F.lit(0).cast("long"))
    cov_start = F.when(prev.isNotNull(), b_start).otherwise(st["first_us"])
    cov_end = F.when(has_next, b_end).otherwise(st["last_us"])
    integral = carry_in + st["area"] + carry_out
    covered = cov_end - cov_start
    return obs.select(
        "conv_id",
        "bucket_start",
        integral.alias("integral"),
        covered.alias("covered_us"),
        F.when(
            covered > 0, integral.cast("double") / covered.cast("double")
        ).alias("itwa"),
    )


def interpolated_statedur(
    tier_df: DataFrame, tier: str, col: str
) -> DataFrame:
    """Per-bucket interpolated time-in-state from `statedur_{col}` tier
    structs: the bucket's own durs map plus the carry-in interval
    (previous bucket's last_state over [bucket_start, first_us)) and the
    carry-out interval (own last_state to bucket_end when a later
    observed bucket exists). Returns exploded
    (conv_id, bucket_start, state, micros) — exact integer micros."""
    c = sd_state_col(col)
    st = F.col(c)
    obs = _observed(tier_df)
    w = Window.partitionBy("conv_id").orderBy("bucket_start")
    b_start, b_end = _bucket_bounds(tier)
    prev = F.lag(c).over(w)
    has_next = F.lead("bucket_start").over(w).isNotNull()
    empty = empty_counts()
    carry_in = F.when(
        prev.isNotNull() & (st["first_us"] > b_start),
        F.map_from_arrays(
            F.array(prev["last_state"]),
            F.array((st["first_us"] - b_start).cast("long")),
        ),
    ).otherwise(empty)
    carry_out = F.when(
        has_next & (b_end > st["last_us"]),
        F.map_from_arrays(
            F.array(st["last_state"]),
            F.array((b_end - st["last_us"]).cast("long")),
        ),
    ).otherwise(empty)

    # generators cannot wrap window expressions — materialize the merged
    # map first, explode in a second projection
    merged = obs.select(
        "conv_id",
        "bucket_start",
        add_counts(add_counts(st["durs"], carry_in), carry_out).alias("_m"),
    )
    return merged.select(
        "conv_id",
        "bucket_start",
        F.explode("_m").alias("state", "micros"),
    )
