"""Tier-served window analytics (SURVEY.md §2 M63/M64).

M63 — sliding (trailing) window aggregates composed from tier STATE:
TimescaleDB's "moving aggregates over a continuous aggregate" / PromQL's
`sum_over_time(metric[24h])` served at every hourly point. The trailing
window is a RANGE frame over the integer epoch-HOUR index of the hourly
tier rows, merging the same integer state algebra as rollup_up — so the
answer at each bucket is bit-identical to re-aggregating raw over
(bucket - W, bucket]. Missing hours simply contribute no row to the frame
(a ROWS frame would silently stretch across gaps — the classic bug this
module exists to avoid), and gap-filled rows are excluded because they
carry copied state.

At 10^12 turns this is the dashboard "rolling 24h" series from O(tier)
rows with ONE exchange (the per-conversation window shuffle); raw is
never read.

M64 — linear trend / predict_linear from the tier: PromQL `predict_linear`
/ `deriv` over the hourly tier series. Least-squares slope/intercept are
computed from EXACT integer sufficient statistics (n, Σt, Σv, Σt·v, Σt²
as longs — t is the hour offset from the range start, so products stay
far from overflow) with float appearing only in the final closed-form
division — the engine's one-float-finalize discipline, which is what lets
a DuckDB oracle reproduce the doubles bit-for-bit.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rollup import STATE_COLS, observed_state

_HOUR_US = 3_600_000_000

#: per-state-column trailing merge: same algebra as rollup_up
_MERGE_FN = {
    "n_turns": F.sum,
    "token_sum": F.sum,
    "token_min": F.min,
    "token_max": F.max,
    "tool_sum": F.sum,
    "tool_min": F.min,
    "tool_max": F.max,
    "hours_count": F.sum,
    "hturns_min": F.min,
    "hturns_max": F.max,
}


def _hour_index(col: str = "bucket_start"):
    """Integer epoch-hour of an hour-aligned NTZ bucket (exact: buckets
    are hour-aligned so the division has no remainder)."""
    return (
        F.unix_micros(F.col(col).cast("timestamp_ltz")) / F.lit(_HOUR_US)
    ).cast("long")


def sliding_state(
    hourly: DataFrame,
    window_hours: int,
    keys: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """M63: trailing `window_hours` tier-state merge at every OBSERVED
    hourly bucket.

    Returns the observed hourly rows with one `w_<state>` column per core
    state column, each the merge (sum/min/max per the tier algebra) over
    the frame [bucket - window_hours + 1h, bucket] in event time. RANGE
    frame on the integer hour index ⇒ time-bounded, gap-correct; sketch /
    struct state families are out of scope here (their merges are not
    window-frameable aggregate functions) — serve those via
    rewrite_range_* per window instead.
    """
    if window_hours <= 0:
        raise ValueError(f"window_hours must be positive: {window_hours}")
    # materialize the order key once, then attach EVERY trailing merge in
    # one select over the same window spec — Catalyst folds them into a
    # single Window node (one exchange + one sort); per-withColumn specs
    # would each re-project the key and re-sort ten times
    h = observed_state(hourly).withColumn("_hidx", _hour_index())
    w = (
        Window.partitionBy(*keys)
        .orderBy("_hidx")
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    cols = [c for c in h.columns if c != "_hidx"]
    return h.select(
        *cols,
        *[
            _MERGE_FN[c](F.col(c)).over(w).alias(f"w_{c}")
            for c in STATE_COLS
        ],
    )


def trend_linear(
    hourly: DataFrame,
    lo: datetime,
    hi: datetime,
    horizon_hours: int,
    value_col: str = "n_turns",
    keys: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """M64: per-series least-squares trend of an hourly tier metric over
    [lo, hi), plus the predict_linear forecast `horizon_hours` past the
    range end.

    Regression is over OBSERVED hourly buckets only (PromQL semantics:
    absent samples don't exist, they are not zeros). Sufficient
    statistics are exact longs; slope/intercept/forecast are each one
    closed-form float expression over them, so the result is
    bit-deterministic under any partitioning — and reproducible by an
    ANSI-SQL oracle writing the same expression tree.

    Series with fewer than 2 observed buckets are excluded (the
    normal-equation denominator n·Σt² − (Σt)² is zero exactly when all t
    coincide, which for distinct hourly buckets means n < 2).
    """
    if hi <= lo:
        raise ValueError(f"empty range: [{lo}, {hi})")
    lo_h = int(lo.timestamp() * 1_000_000) // _HOUR_US
    hi_h = int(hi.timestamp() * 1_000_000) // _HOUR_US
    h = (
        observed_state(hourly)
        .filter(
            (F.col("bucket_start") >= F.lit(lo))
            & (F.col("bucket_start") < F.lit(hi))
        )
        .select(
            *keys,
            (_hour_index() - F.lit(lo_h)).alias("t"),
            F.col(value_col).cast("long").alias("v"),
        )
    )
    s = h.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("t").alias("st"),
        F.sum("v").alias("sv"),
        F.sum(F.col("t") * F.col("v")).alias("stv"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    n, st, sv = F.col("n"), F.col("st"), F.col("sv")
    stv, stt = F.col("stv"), F.col("stt")
    slope = (n * stv - st * sv).cast("double") / (
        n * stt - st * st
    ).cast("double")
    intercept = (
        sv.cast("double") - F.col("slope") * st.cast("double")
    ) / n.cast("double")
    # forecast target: horizon hours past the LAST hour of the range
    t_pred = float((hi_h - lo_h - 1) + int(horizon_hours))
    return (
        s.filter(n >= 2)
        .withColumn("slope", slope)
        .withColumn("intercept", intercept)
        .withColumn(
            "predicted",
            F.col("intercept") + F.col("slope") * F.lit(t_pred),
        )
        .select(*keys, "n", "slope", "intercept", "predicted")
    )


def sliding_hist_percentile(
    hourly: DataFrame,
    hist_col: str,
    n_bins: int,
    window_hours: int,
    percentiles: tuple[int, ...] = (50, 95),
    keys: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """M83: trailing-window percentiles AT EVERY observed hourly bucket,
    served from mergeable histogram tier state — the "p95 over the last
    24h" dashboard series, without ever reading raw.

    The bin-count arrays merge over the same gap-correct RANGE frame as
    `sliding_state` (collect_list over the frame, folded element-wise with
    aggregate+zip_with — all JVM HOFs), then each percentile is the FIRST
    bin whose cumulative count crosses the integer rank (cum·100 ≥
    total·p, the exact rule of hist_percentile_monthly) — computed as a
    flat K-term when-chain over the merged array, no explode, no second
    shuffle. ONE exchange (the per-key window) for the whole answer.

    Returns observed (keys, bucket_start) rows with `w_n` (window sample
    count) and one `p<p>_bin` column per requested percentile.
    """
    if window_hours <= 0:
        raise ValueError(f"window_hours must be positive: {window_hours}")
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive: {n_bins}")
    h = observed_state(hourly).withColumn("_hidx", _hour_index())
    w = (
        Window.partitionBy(*keys)
        .orderBy("_hidx")
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    zero = F.array(*[F.lit(0).cast("long")] * n_bins)
    merged = F.aggregate(
        F.collect_list(F.col(hist_col)).over(w),
        zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    out = h.select(*keys, "bucket_start", merged.alias("_m"))
    el = [F.element_at(F.col("_m"), i + 1) for i in range(n_bins)]
    cums = [el[0]]
    for i in range(1, n_bins):
        cums.append(cums[-1] + el[i])
    total = cums[-1]
    pcols = []
    for p in percentiles:
        chain = None
        for i in range(n_bins):
            cond = cums[i] * F.lit(100) >= total * F.lit(int(p))
            chain = (
                F.when(cond, F.lit(i)) if chain is None
                else chain.when(cond, F.lit(i))
            )
        pcols.append(chain.cast("long").alias(f"p{p}_bin"))
    return out.select(
        *keys,
        "bucket_start",
        total.cast("long").alias("w_n"),
        *pcols,
    )


def theil_sen_trend(
    hourly: DataFrame,
    lo: datetime,
    hi: datetime,
    value_col: str = "n_turns",
    keys: tuple[str, ...] = ("conv_id",),
    max_hours: int = 2048,
) -> DataFrame:
    """M84 robust trend per series over [lo, hi): the Theil-Sen estimator
    (median of all pairwise slopes) — one wild hour barely moves it where
    the OLS `trend_linear` chases it (breakdown point ~29% vs 0%).

    Exactness contract: "median" here is the LOWER median (the
    ⌊(m−1)/2⌋-th order statistic) — a pure SELECTION, no averaging — so
    slope, intercept (lower median of v − slope·t) and the range-end
    forecast are each reproducible bit-for-bit by an oracle
    (quantile_disc(0.5) picks the same element; every float descends
    from exact integers through an identical expression tree).

    Scale contract: Theil-Sen is O(L²) pairs per series — L is bounded by
    the RANGE (`max_hours`, default 2048 ⇒ ≤ ~2.1M pair floats per
    series inside one Arrow batch), never by corpus size; the fit is one
    numpy triu/partition kernel per series via applyInPandas (no Python
    per-row loop). For longer ranges use trend_linear or pre-downsample
    to the daily tier.
    """
    import numpy as np
    import pandas as pd

    span_h = int((hi - lo).total_seconds()) // 3600
    if span_h <= 0 or (hi - lo).total_seconds() % 3600:
        raise ValueError(f"[{lo}, {hi}) must be a positive whole-hour range")
    if span_h > max_hours:
        raise ValueError(
            f"range spans {span_h}h > max_hours={max_hours}: Theil-Sen is "
            "O(hours^2) per series — narrow the range or raise max_hours"
        )
    from calendar import timegm

    lo_hidx = timegm(lo.timetuple()) // 3600
    obs = (
        observed_state(hourly)
        .filter(
            (F.col("bucket_start") >= F.lit(lo))
            & (F.col("bucket_start") < F.lit(hi))
        )
        .select(
            *keys,
            (_hour_index() - F.lit(lo_hidx)).cast("long").alias("t"),
            F.col(value_col).cast("long").alias("v"),
        )
    )
    klist = list(keys)
    schema = (
        ", ".join(f"{k} string" for k in klist)
        + ", n_obs long, n_pairs long, slope double, intercept double,"
        " predicted double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf["t"].to_numpy(dtype=np.int64)
        v = pdf["v"].to_numpy(dtype=np.int64)
        n = len(t)
        if n < 2:
            return pd.DataFrame(columns=klist + [
                "n_obs", "n_pairs", "slope", "intercept", "predicted"])
        i, j = np.triu_indices(n, 1)
        slopes = (v[j] - v[i]) / (t[j] - t[i])
        m = len(slopes)
        k = (m - 1) // 2
        slope = float(np.partition(slopes, k)[k])
        resid = v.astype(np.float64) - slope * t.astype(np.float64)
        k2 = (n - 1) // 2
        intercept = float(np.partition(resid, k2)[k2])
        row = {kc: pdf[kc].iloc[0] for kc in klist}
        row.update(
            n_obs=n, n_pairs=m, slope=slope, intercept=intercept,
            predicted=intercept + slope * float(span_h),
        )
        return pd.DataFrame([row])

    return obs.groupBy(*klist).applyInPandas(fit, schema)


def sliding_kmv_distinct(
    hourly: DataFrame,
    kmv_col: str,
    window_hours: int,
    keys: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """M85: trailing-window DISTINCT count at every observed hourly
    bucket, served from KMV sketch tier state — "how many distinct
    tools/texts did this conversation touch in the last 24h", the one
    trailing aggregate the sum/min/max window family can't express
    (distinctness doesn't decompose into per-bucket scalars).

    The KMV merge is exact-DETERMINISTIC (engine/kmv.py: bottom-k of a
    union is a pure function of the parts' bottom-ks), so folding the
    per-bucket sketches over the gap-correct RANGE frame
    (collect_list → flatten → distinct → sort → slice k) yields the
    BIT-IDENTICAL sketch a direct build over the window's raw would —
    proven by the window-vs-direct parity test. Below saturation the
    sketch IS the window's distinct hash set, so `w_distinct` is exact
    (and full-hash oracle-checkable); at saturation `saturated` flips
    and `w_distinct_est` carries the (k−1)/U_(k) estimate. ONE exchange.
    """
    from .kmv import kmv_cap, kmv_estimate, kmv_is_state_col

    if not kmv_is_state_col(kmv_col):
        raise ValueError(f"{kmv_col!r} is not a <col>_kmv<k> state column")
    if window_hours <= 0:
        raise ValueError(f"window_hours must be positive: {window_hours}")
    k = kmv_cap(kmv_col)
    h = observed_state(hourly).withColumn("_hidx", _hour_index())
    w = (
        Window.partitionBy(*keys)
        .orderBy("_hidx")
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    merged = F.slice(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(F.col(kmv_col)).over(w)))
        ),
        1,
        k,
    )
    out = h.select(*keys, "bucket_start", merged.alias("_m"))
    sz = F.size(F.col("_m"))
    return out.select(
        *keys,
        "bucket_start",
        F.col("_m").alias("w_sketch"),
        (sz >= F.lit(k)).alias("saturated"),
        F.when(sz < F.lit(k), sz.cast("long")).alias("w_distinct"),
        kmv_estimate(F.col("_m"), k).alias("w_distinct_est"),
    )


def sliding_hh(
    hourly: DataFrame,
    col: str,
    cap: int,
    window_hours: int,
    keys: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """M86: trailing-window heavy hitters ("trending values over the last
    24h") from Misra–Gries tier state — the categorical sibling of
    `sliding_kmv_distinct`.

    The per-bucket `<col>_hh{cap}` maps fold over the gap-correct RANGE
    frame with the SAME determinism discipline as the tier-up merge
    (engine/heavyhitters.py): exact key-union addition (commutative +
    associative, so collect_list order cannot matter), then ONE MG
    truncation per output row. The companion `<col>_hhn{cap}` totals sum
    over the frame, so the mergeable-summaries error bound
    (w_total − retained)/(cap+1) is computable per WINDOW from state
    alone. When window cardinality stays ≤ cap no truncation fires and
    the trailing counts are exact (the full-hash regime). ONE exchange.

    Returns observed (keys, bucket_start) rows with `w_hh`
    (map<value,long>) and `w_total`.
    """
    from .countmap import empty_counts, fold_counts
    from .heavyhitters import hh_col_name, hhn_col_name, mg_truncate

    if window_hours <= 0:
        raise ValueError(f"window_hours must be positive: {window_hours}")
    hh, hhn = hh_col_name(col, cap), hhn_col_name(col, cap)
    missing = [c for c in (hh, hhn) if c not in hourly.columns]
    if missing:
        raise ValueError(f"hourly tier lacks hh state columns: {missing}")
    h = observed_state(hourly).withColumn("_hidx", _hour_index())
    w = (
        Window.partitionBy(*keys)
        .orderBy("_hidx")
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    merged = fold_counts(F.collect_list(F.col(hh)).over(w), empty_counts())
    return h.select(
        *keys,
        "bucket_start",
        mg_truncate(merged, cap).alias("w_hh"),
        F.sum(F.col(hhn)).over(w).cast("long").alias("w_total"),
    )


def sliding_corr(
    hourly: DataFrame,
    a_col: str = "n_turns",
    b_col: str = "token_sum",
    window_hours: int = 24,
    keys: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """M90: rolling Pearson correlation between two tier metrics at every
    observed hourly bucket — "are volume and verbosity moving together
    this day?" as a trailing series, from tier state only.

    All six sufficient statistics (n, Σa, Σb, Σab, Σa², Σb²) are integer
    SUMs over the same gap-correct RANGE frame — Catalyst folds them into
    ONE Window node (one exchange, one sort) — and r plus the regression
    slope are closed-form float expressions over them (sqrt and ÷ are
    correctly rounded, so an oracle writing the identical tree matches
    bit-for-bit). Windows with fewer than 2 buckets or zero variance on
    either side are excluded by INTEGER predicates (n·Σa² − (Σa)² > 0) —
    no float comparisons in the filter.
    """
    if window_hours <= 0:
        raise ValueError(f"window_hours must be positive: {window_hours}")
    h = (
        observed_state(hourly)
        .withColumn("_hidx", _hour_index())
        .select(
            *keys,
            "bucket_start",
            "_hidx",
            F.col(a_col).cast("long").alias("_a"),
            F.col(b_col).cast("long").alias("_b"),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_hidx")
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    s = h.select(
        *keys,
        "bucket_start",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum("_a").over(w).alias("sa"),
        F.sum("_b").over(w).alias("sb"),
        F.sum(F.col("_a") * F.col("_b")).over(w).alias("sab"),
        F.sum(F.col("_a") * F.col("_a")).over(w).alias("saa"),
        F.sum(F.col("_b") * F.col("_b")).over(w).alias("sbb"),
    )
    n, sa, sb = F.col("w_n"), F.col("sa"), F.col("sb")
    sab, saa, sbb = F.col("sab"), F.col("saa"), F.col("sbb")
    da = n * saa - sa * sa
    db = n * sbb - sb * sb
    num = n * sab - sa * sb
    return (
        s.filter((n >= 2) & (da > 0) & (db > 0))
        .select(
            *keys,
            "bucket_start",
            "w_n",
            (
                num.cast("double")
                / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double")))
            ).alias("corr"),
            (num.cast("double") / da.cast("double")).alias("beta"),
        )
    )
