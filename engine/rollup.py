"""Continuous-aggregate tier algebra (SURVEY.md §2 D1/D2) — the core of the
engine, mirroring the reference's daily→monthly ``stackApply(mean/min/max)``
semantics (BASELINE.json:6) over transcripts.

Bit-exactness design (SURVEY.md §7.3 foot-gun #1): tier state is stored
INTEGER-backed (longs). Floating-point appears only in *derived* columns
(mean = sum/count, turn_rate = turns/span) computed by a single division at
view time. Integer sums/mins/maxes are associative and exact regardless of
partitioning or aggregation order, so hourly→daily→monthly composition is
bit-identical to a single-node pandas recomputation by construction — no
Kahan tricks, no ordered sums.

Tier state schema (one row per (conv_id, bucket_start)):
    n_turns          long  -- turns under the bucket
    token_sum/min/max long -- per-turn length(text) stats
    tool_sum/min/max  long -- per-turn tool-invocation indicator stats
    hours_count      long  -- hourly leaf buckets under this row (1 at hourly)
    hturns_min/max   long  -- min/max per-hour turn count under this row

turn_rate semantics: the *hourly* rate series r_h = n_turns(h)/3600 is the
leaf metric (analogue of the daily climate layer); daily/monthly tiers report
mean/min/max/count over the hourly rates they cover. Because
Σ r_h = (Σ n_h)/3600 exactly in ℝ, the engine composes the integer Σ n_h and
divides once — bit-exact and identical to pandas summing rates only when the
division is deferred, which the pandas oracle mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bucket import TIER_ORDER, TIER_UNIT, bucket_span_seconds, with_metrics

STATE_COLS = [
    "n_turns",
    "token_sum",
    "token_min",
    "token_max",
    "tool_sum",
    "tool_min",
    "tool_max",
    "hours_count",
    "hturns_min",
    "hturns_max",
]

HOUR_S = 3600.0


#: default log2(K) for tier HLL sketches — rsd ≈ 1.04/√2¹² ≈ 1.6%
HLL_LGK = 12

#: histogram spec per raw column: (origin, bin_width, n_bins). Values below
#: origin clamp into bin 0, above the top edge into bin n_bins-1; NULLs are
#: skipped (same convention as the HLL sketch columns).
HistSpec = "tuple[float, float, int]"


def sumsq_partial_aggs(sumsq_cols: list | None) -> list:
    """Exact sum-of-squares tier state (`<col>_sumsq`, long): Σx² is
    associative under addition, so it composes hourly→daily→monthly (and
    across salts) exactly like `<col>_sum` — enabling variance/stddev
    served FROM TIERS with a single final float expression
    (var = (sumsq - sum²/n)/n), no float accumulation anywhere."""
    return [
        F.sum(F.col(c).cast("long") * F.col(c).cast("long")).alias(f"{c}_sumsq")
        for c in sorted(sumsq_cols or [])
    ]


def sumsq_merge_aggs(cols: list[str]) -> list:
    return [F.sum(c).alias(c) for c in sorted(cols)]


def sumprod_partial_aggs(sumprod_cols: list | None) -> list:
    """Exact cross-product tier state (`<a>_x_<b>_sumprod`, long): Σxy
    composes by addition like Σx², completing the second-moment algebra —
    covariance / Pearson correlation / regression slope are served from
    any tier via one final float expression over (n, Σx, Σy, Σx², Σy²,
    Σxy). The TimescaleDB stats_agg 2D analogue."""
    return [
        F.sum(F.col(a).cast("long") * F.col(b).cast("long")).alias(
            f"{a}_x_{b}_sumprod"
        )
        for a, b in sorted(sumprod_cols or [])
    ]


def hist_partial_aggs(hist_cols: dict | None) -> list:
    """Leaf aggregates producing one `<col>_hist` array<long> of bin counts
    per spec'd column. Exact integer state: unlike the HLL columns this
    member of the tier algebra is EXACT and mergeable (element-wise long
    addition is associative + commutative), so it survives salting and tier
    composition bit-identically."""
    out = []
    for c, (origin, width, k) in sorted((hist_cols or {}).items()):
        b = F.least(
            F.greatest(
                F.floor((F.col(c) - F.lit(origin)) / F.lit(width)), F.lit(0)
            ),
            F.lit(k - 1),
        )
        out.append(
            F.array(
                *[
                    F.sum(F.when(b == i, 1).otherwise(0)).cast("long")
                    for i in range(k)
                ]
            ).alias(f"{c}_hist")
        )
    return out


def hist_merge_aggs(cols: list[str]) -> list:
    """Merge aggregates for existing `<col>_hist` columns: element-wise sum
    via collect_list + fold (groups are tier-bounded — ≤24 hourly rows per
    day, ≤31 daily per month — so the collected list is tiny). The zero
    array takes its length from the first element, keeping the merge
    spec-agnostic."""
    out = []
    for c in cols:
        lst = F.collect_list(c)
        zero = F.array_repeat(
            F.lit(0).cast("long"), F.size(F.element_at(lst, F.lit(1)))
        )
        out.append(
            F.aggregate(
                lst, zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
            ).alias(c)
        )
    return out


def freq_maps(df: DataFrame, keys: list[str], freq_cols: list[str] | None):
    """Exact categorical frequency state: one `<col>_freq` map<string,long>
    of value→count per group (nulls skipped), computed as a two-phase
    aggregate — count per (group, value) with map-side partial combine,
    then map_from_entries over the per-group value list. The entry list is
    bounded by the group's DISTINCT values (the categorical analogue of
    hist_cols' n_bins bound), never its row count, and the fine-keyed
    pre-aggregation is inherently salt-proof: a hot (conv, hour) splits
    across its values and partial combine absorbs what's left. Leaf entries
    are sort_array'd so leaf maps are deterministic; upper tiers must
    canonicalize via sort_array(map_entries(c)) when hashing."""
    if not freq_cols:
        return None
    out = None
    # NOTE: callers must coalesce the join result with EMPTY_FREQ_MAP —
    # a bucket with no non-null values must carry an empty map, not NULL
    # (the HLL precedent: hll_sketch_agg yields an empty sketch), so the
    # densifier's gap-carry never fires on observed rows.
    for c in sorted(freq_cols):
        m = (
            df.filter(F.col(c).isNotNull())
            .groupBy(*keys, F.col(c).cast("string").alias("_v"))
            .agg(F.count("*").alias("_n"))
            .groupBy(*keys)
            .agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("_v", "_n")))
                ).alias(f"{c}_freq")
            )
        )
        out = m if out is None else out.join(m, keys, "full")
    return out


def empty_freq_map():
    return F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<long>")
    )


def freq_merge_aggs(cols: list[str]) -> list:
    """Merge aggregates for `<col>_freq` maps: fold the tier-bounded list
    of maps with map_zip_with (key-union, count addition) — exact under any
    merge order, so frequency maps compose across tiers AND salts
    bit-identically (as multisets of entries; internal key order is
    canonicalized at hash/compare time)."""
    out = []
    seed = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<long>")
    )
    for c in cols:
        out.append(
            F.aggregate(
                F.collect_list(c),
                seed,
                lambda acc, m: F.map_zip_with(
                    acc,
                    m,
                    lambda k, a, b: F.coalesce(a, F.lit(0).cast("long"))
                    + F.coalesce(b, F.lit(0).cast("long")),
                ),
            ).alias(c)
        )
    return out


def firstlast_partial_aggs(firstlast_cols: list[str] | None) -> list:
    """Leaf aggregates for first/last (open/close) tier state: per spec'd
    column `{c}_first`/`{c}_last` = the column's value at the bucket's
    earliest/latest turn, plus TWO SHARED order-key carriers `fl_k_first` /
    `fl_k_last` (min/max of the unique (ts, turn_idx) struct). Carrying the
    keys is what makes the state mergeable: an upper tier picks the lower
    row whose carried key wins (min_by/max_by), the same carrier trick OHLC
    composition uses (engine/ts_analytics.py ohlc_weekly_composed), so the
    algebra is EXACT under both salting and tier composition — the order
    key is globally unique, so there are no ties for min_by to break
    nondeterministically."""
    cols = list(firstlast_cols or [])
    if not cols:
        return []
    # NTZ like every persisted timestamp in the engine (B5 canonicalization)
    key = F.struct(
        F.col("ts").cast("timestamp_ntz").alias("k_ts"),
        F.col("turn_idx").alias("k_idx"),
    )
    out = [F.min(key).alias("fl_k_first"), F.max(key).alias("fl_k_last")]
    for c in sorted(cols):
        out.append(F.min_by(c, key).alias(f"{c}_first"))
        out.append(F.max_by(c, key).alias(f"{c}_last"))
    return out


def firstlast_merge_aggs(columns: list[str]) -> list:
    """Merge aggregates for existing first/last state: `{c}_first` follows
    the minimal carried first-key, `{c}_last` the maximal last-key, and the
    keys themselves merge by min/max — associative + commutative, so
    per-salt partials and tier re-rollups compose bit-identically."""
    if "fl_k_first" not in columns:
        return []
    out = [
        F.min("fl_k_first").alias("fl_k_first"),
        F.max("fl_k_last").alias("fl_k_last"),
    ]
    for c in columns:
        if c.endswith("_first") and c != "fl_k_first":
            out.append(F.min_by(c, "fl_k_first").alias(c))
        elif c.endswith("_last") and c != "fl_k_last":
            out.append(F.max_by(c, "fl_k_last").alias(c))
    return out


def rollup_hourly(
    t0: DataFrame,
    n_salts: int | None = None,
    sketch_cols: list[str] | None = None,
    hist_cols: dict | None = None,
    firstlast_cols: list[str] | None = None,
    sumsq_cols: list[str] | None = None,
    sumprod_cols: list | None = None,
    freq_cols: list[str] | None = None,
    hh_cols: dict[str, int] | None = None,
    kmv_cols: dict[str, int] | None = None,
    session_gaps: list[int] | None = None,
    statedur_cols: list[str] | None = None,
    twa_cols: list[str] | None = None,
    qsk_cols: list[str] | None = None,
    topn_cols: dict[str, int] | None = None,
    botn_cols: dict[str, int] | None = None,
) -> DataFrame:
    """Leaf rollup D1: raw turns → hourly tier state.

    One hash aggregate (partial map-side combine + final after a shuffle on
    the group keys) — Catalyst's two-phase HashAggregateExec is exactly the
    reference's per-cell stackApply, distributed.

    `n_salts` (F6, skew): an integer salts the aggregate. AQE splits skewed
    *joins* at runtime but cannot split a skewed groupBy — a hot conv_id
    funnels every row through one reducer. Salted, phase 1 groups by
    (conv_id, bucket, salt) so the hot key's rows spread over n_salts
    reducers, and phase 2 merges the sub-aggregates per (conv_id, bucket)
    with the same `state_merge_aggs` that composes tiers — the result is
    bit-identical to the unsalted path by construction. Every partial
    family passes through the salt: sum/count/min/max and Σx²/Σxy by
    associative long arithmetic, histograms by element-wise addition,
    first/last because the carried unique order keys pick the same winning
    row whichever salt it landed on, and HLL sketches by register-max
    union (estimate-exact; tests/test_pipeline_sketches.py). Exact
    distincts could not pass through and are never tier state (SURVEY.md
    §7.3). `None` runs the one-phase aggregate. Both modes emit one schema.

    `sketch_cols` adds a mergeable Datasketches HLL column `<col>_hll` per
    named raw column (distinct-count sketch of that column's values under
    the bucket) — the tier algebra's non-algebraic member: exact distincts
    cannot compose hourly→daily→monthly, but HLL register-max union can,
    so `rollup_up` merges these columns with `hll_union_agg` exactly like
    sum/min/max. Nulls are skipped by the sketch (e.g. non-tool turns).

    `hist_cols` ({col: (origin, width, n_bins)}) adds an EXACT mergeable
    `<col>_hist` array<long> of bin counts per spec'd column — distribution
    state that composes hourly→daily→monthly (and across salts) by
    element-wise addition, bit-identically to recomputing from raw.

    `firstlast_cols` adds exact open/close state: `{c}_first`/`{c}_last`
    plus the shared order-key carriers that make first/last composable
    across tiers (see firstlast_partial_aggs).

    The remaining families (freq, hh, kmv, sessions, statedur, twa, qsk,
    top-N/bottom-N) are built from fine-keyed (conv, hour, …) state that is
    skew-proof without salt plumbing, and join the aggregated rows.
    """
    partial_aggs = (
        [
            F.hll_sketch_agg(c, F.lit(HLL_LGK)).alias(f"{c}_hll")
            for c in (sketch_cols or [])
        ]
        + hist_partial_aggs(hist_cols)
        + firstlast_partial_aggs(firstlast_cols)
        + sumsq_partial_aggs(sumsq_cols)
        + sumprod_partial_aggs(sumprod_cols)
    )
    df = with_metrics(t0)
    # date_trunc returns session-TZ TIMESTAMP; the engine's canonical
    # bucket type is TIMESTAMP_NTZ (naive UTC) — cast at the source so no
    # LTZ/NTZ coercion ambiguity survives into joins/UDF schemas
    hour = F.date_trunc("hour", "ts").cast("timestamp_ntz")
    rows, groups = df, ["conv_id", hour.alias("bucket_start")]
    if n_salts is not None:
        rows = df.withColumn(
            "_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_salts))
        )
        groups.append("_salt")
    hourly = rows.groupBy(*groups).agg(
        F.count("*").alias("n_turns"),
        F.sum("token_count").alias("token_sum"),
        F.min("token_count").alias("token_min"),
        F.max("token_count").alias("token_max"),
        F.sum("is_tool").alias("tool_sum"),
        F.min("is_tool").alias("tool_min"),
        F.max("is_tool").alias("tool_max"),
        *partial_aggs,
    )
    if n_salts is not None:
        hourly = hourly.groupBy("conv_id", "bucket_start").agg(
            *state_merge_aggs(hourly.columns)
        )

    # fine-keyed families: a bucket with no value for the family carries its
    # empty state, never NULL, so densify's gap-carry can't fire on
    # observed rows
    keys = ["conv_id", "bucket_start"]
    leaf = df.withColumn("bucket_start", hour)

    def join(acc, state, empty=None):
        acc = acc.join(state, keys, "left")
        for c, e in (empty or {}).items():
            acc = acc.withColumn(c, F.coalesce(c, e))
        return acc

    if freq_cols:
        hourly = join(
            hourly,
            freq_maps(leaf, keys, freq_cols),
            {f"{c}_freq": empty_freq_map() for c in sorted(freq_cols)},
        )
    if hh_cols:
        from .heavyhitters import hh_coalesce_empty, hh_partial_maps

        hourly = hh_coalesce_empty(
            join(hourly, hh_partial_maps(leaf, keys, hh_cols)), hh_cols
        )
    if kmv_cols:
        from .kmv import empty_kmv_array, kmv_arrays, kmv_state_col

        hourly = join(
            hourly,
            kmv_arrays(leaf, keys, kmv_cols),
            {
                kmv_state_col(c, k): empty_kmv_array()
                for c, k in sorted(kmv_cols.items())
            },
        )
    if session_gaps:
        from .sessionstate import sess_leaf_states

        # every observed hourly row has at least one turn, so the session
        # pass emits a state for every key — no empty state needed
        hourly = join(hourly, sess_leaf_states(leaf, keys, session_gaps))
    if statedur_cols:
        from .statedur import sd_leaf_states

        hourly = join(hourly, sd_leaf_states(leaf, keys, statedur_cols))
    if twa_cols:
        from .twa import empty_twa_struct, twa_leaf_states, twa_state_col

        hourly = join(
            hourly,
            twa_leaf_states(leaf, keys, twa_cols),
            {twa_state_col(c): empty_twa_struct() for c in sorted(set(twa_cols))},
        )
    if qsk_cols:
        from .qsketch import empty_qsk_map, qsk_maps, qsk_state_col

        hourly = join(
            hourly,
            qsk_maps(leaf, keys, qsk_cols),
            {qsk_state_col(c): empty_qsk_map() for c in sorted(set(qsk_cols))},
        )
    for spec, direction in ((topn_cols, "top"), (botn_cols, "bot")):
        if not spec:
            continue
        from .topn import empty_topn_array, topn_leaf_states, topn_state_col

        hourly = join(
            hourly,
            topn_leaf_states(leaf, keys, spec, direction),
            {
                topn_state_col(c, n, direction): empty_topn_array()
                for c, n in sorted(spec.items())
            },
        )
    return hourly.withColumns(
        {
            "hours_count": F.lit(1).cast("long"),
            "hturns_min": F.col("n_turns"),
            "hturns_max": F.col("n_turns"),
            "tier": F.lit("hourly"),
        }
    )


def observed_state(state: DataFrame) -> DataFrame:
    """Drop gap-filled rows (aggregation inputs must be observed-only so
    filled rows never inflate upper-tier counts). No-op on pre-fill state."""
    if "filled" in state.columns:
        return state.filter(~F.col("filled"))
    return state


def densify_hourly_locf(hourly: DataFrame) -> DataFrame:
    """Write gap-filled rows INTO the hourly tier (SURVEY.md §1.2: tier rows
    carry `filled`/`fill_method`): hourly buckets missing between a
    conversation's first and last observed hour OF EACH DAY are filled by
    carrying the previous observed integer STATE forward — LOCF on the
    integer state is exactly LOCF on every derived metric (mean/min/max are
    per-row functions of the state), so tier_view of a filled row reproduces
    the gapfill_locf value with no float drift.

    Day-local on purpose: the hourly tier is partitioned and incrementally
    re-rolled by bucket_date, so each day's partition must own its fill rows
    (a day re-roll regenerates them deterministically). Cross-day gap fill
    lives in the conv-bucket-keyed gapfill table, whose series stay whole.
    Filled rows are flagged and excluded from all upward rollups
    (observed_state) — daily/monthly aggregates are unchanged by fill.
    """
    bounds = hourly.groupBy(
        "conv_id", F.to_date("bucket_start").alias("_d")
    ).agg(F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi"))
    spine = bounds.select(
        "conv_id",
        F.explode(F.expr("sequence(_lo, _hi, interval 1 hour)")).alias(
            "bucket_start"
        ),
    )
    dense = spine.join(hourly, ["conv_id", "bucket_start"], "left")
    w = (
        Window.partitionBy("conv_id", F.to_date("bucket_start"))
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.col("n_turns").isNull()
    carry_cols = STATE_COLS + [
        c
        for c in hourly.columns
        if c.endswith("_hll")
        or c.endswith("_hist")
        or c.endswith("_first")
        or c.endswith("_last")
        or c.endswith("_sumsq")
        or c.endswith("_sumprod")
        or c.endswith("_freq")
        or _is_hh(c)
        or _is_kmv(c)
        or _is_sess(c)
        or _is_sd(c)
        or _is_twa(c)
        or _is_qsk(c)
        or _is_topn(c)
    ]
    return dense.select(
        "conv_id",
        "bucket_start",
        *[
            F.coalesce(F.col(c), F.last(c, ignorenulls=True).over(w)).alias(c)
            for c in carry_cols
        ],
        F.lit("hourly").alias("tier"),
        gap.alias("filled"),
        F.when(gap, F.lit("locf")).alias("fill_method"),
    )


def _is_hh(name: str) -> bool:
    from .heavyhitters import hh_is_state_col

    return hh_is_state_col(name)


def _hh_merges(colnames) -> list:
    """Bounded heavy-hitter state merges, cap recovered from the
    self-describing `<col>_hh{cap}` names (engine/heavyhitters.py)."""
    from .heavyhitters import hh_is_state_col, hh_merge_aggs

    hh = [c for c in colnames if hh_is_state_col(c)]
    return hh_merge_aggs(hh) if hh else []


def _is_kmv(name: str) -> bool:
    from .kmv import kmv_is_state_col

    return kmv_is_state_col(name)


def _kmv_merges(colnames) -> list:
    """KMV distinct-sketch merges (`<col>_kmv{k}`, engine/kmv.py):
    sorted-union-truncate — exact-deterministic under any grouping, so
    tier composition is bit-identical to a direct build."""
    from .kmv import kmv_merge_aggs

    return kmv_merge_aggs(colnames)


def _is_sd(name: str) -> bool:
    from .statedur import sd_is_state_col

    return sd_is_state_col(name)


def _sd_merges(colnames) -> list:
    """Duration-in-state merges (`statedur_{col}`, engine/statedur.py):
    time-ordered monoid fold attributing boundary intervals to the
    earlier span's last state."""
    from .statedur import sd_merge_aggs

    return sd_merge_aggs(colnames)


def _is_sess(name: str) -> bool:
    from .sessionstate import sess_is_state_col

    return sess_is_state_col(name)


def _is_twa(name: str) -> bool:
    from .twa import twa_is_state_col

    return twa_is_state_col(name)


def _twa_merges(colnames) -> list:
    """Time-weighted-average state merges (`twa_{col}`, engine/twa.py):
    time-ordered monoid fold — boundary gaps weighted by the earlier
    span's last value (LOCF), exact integer value·micros."""
    from .twa import twa_merge_aggs

    return twa_merge_aggs(colnames)


def _is_qsk(name: str) -> bool:
    from .qsketch import qsk_is_state_col

    return qsk_is_state_col(name)


def _is_topn(name: str) -> bool:
    from .topn import topn_is_state_col

    return topn_is_state_col(name)


def _topn_merges(colnames) -> list:
    """Top/bottom-N value-state merges (`{col}_top{n}`/`{col}_bot{n}`,
    engine/topn.py): flatten + comparator-sort + truncate — the n
    extremes of a union are a pure function of each part's n extremes,
    so composition is bit-exact."""
    from .topn import topn_merge_aggs

    return topn_merge_aggs(colnames)


def _qsk_merges(colnames) -> list:
    """Quantile-sketch state merges (`{col}_qsk`, engine/qsketch.py):
    key-union count addition — exact multiset composition, so tier
    quantiles == a direct sketch of raw."""
    from .qsketch import qsk_merge_aggs

    return qsk_merge_aggs(colnames)


def _sess_merges(colnames) -> list:
    """Sessionization state merges (`sessions_g{G}`,
    engine/sessionstate.py): time-ordered monoid fold — session counts
    compose across buckets exactly (boundary islands re-merge)."""
    from .sessionstate import sess_merge_aggs

    return sess_merge_aggs(colnames)


def rollup_up(lower: DataFrame, to_tier: str) -> DataFrame:
    """Tier re-rollup D2: compose aggregates WITHOUT touching raw data.

    sum←sum(sum), count←sum(count), min←min(min), max←max(max) — the
    algebraic-aggregate composition the reference gets by recomputing from
    daily layers; composing is cheaper (reads the lower tier only) and equal
    for these aggregates. Gap-filled lower rows are excluded (they carry
    copied state and must not inflate upper counts).
    """
    assert to_tier in TIER_ORDER[1:], to_tier
    unit = TIER_UNIT[to_tier]
    bucket = (
        F.date_trunc(unit, "bucket_start")
        .cast("timestamp_ntz")
        .alias("bucket_start")
    )
    return (
        observed_state(lower)
        .groupBy("conv_id", bucket)
        .agg(*state_merge_aggs(lower.columns))
        .withColumn("tier", F.lit(to_tier))
    )


def state_merge_aggs(columns) -> list:
    """The FULL tier-state composition list: algebraic metric aggregates
    (sum←sum, min←min, max←max) plus every optional state family's merge,
    keyed on the self-describing column suffixes. Any grouping of tier
    rows composed with these aggregates equals recomputing from raw —
    rollup_up (calendar tiers) and rollup_grain (arbitrary N-hour grains)
    are the same operation over different bucket keys."""
    # any HLL sketch columns in the lower tier merge upward by register-max
    # union — same one-shuffle partial+final shape as the algebraic aggs
    sketch_merges = (
        [F.hll_union_agg(c).alias(c) for c in columns if c.endswith("_hll")]
        + hist_merge_aggs([c for c in columns if c.endswith("_hist")])
        + firstlast_merge_aggs(columns)
        + sumsq_merge_aggs(
            [
                c
                for c in columns
                if c.endswith("_sumsq") or c.endswith("_sumprod")
            ]
        )
        + freq_merge_aggs([c for c in columns if c.endswith("_freq")])
        + _hh_merges(columns)
        + _kmv_merges(columns)
        + _sess_merges(columns)
        + _sd_merges(columns)
        + _twa_merges(columns)
        + _qsk_merges(columns)
        + _topn_merges(columns)
    )
    # hour-count state is absent only from the salted leaf's per-salt
    # partials: rollup_hourly derives it after the salt merge
    hour_merges = (
        [
            F.sum("hours_count").alias("hours_count"),
            F.min("hturns_min").alias("hturns_min"),
            F.max("hturns_max").alias("hturns_max"),
        ]
        if "hours_count" in columns
        else []
    )
    return [
        F.sum("n_turns").alias("n_turns"),
        F.sum("token_sum").alias("token_sum"),
        F.min("token_min").alias("token_min"),
        F.max("token_max").alias("token_max"),
        F.sum("tool_sum").alias("tool_sum"),
        F.min("tool_min").alias("tool_min"),
        F.max("tool_max").alias("tool_max"),
        *hour_merges,
        *sketch_merges,
    ]


def rollup_grain(
    tiers: dict[str, DataFrame], grain_hours: int
) -> DataFrame:
    """M46: arbitrary-grain downsample SERVING — regroup tier state into
    N-hour buckets (the TimescaleDB `time_bucket` regrouping), composed
    with the exact tier algebra so the result is bit-identical to a
    direct rollup of raw at that grain.

    Source-tier planning: a grain that is a whole number of UTC days
    (grain_hours % 24 == 0) regroups the DAILY tier — ~24× fewer input
    rows — because epoch-floor day-multiple buckets always start at UTC
    midnight, so each daily row falls wholly inside one grain bucket.
    Any other grain regroups hourly (every tier bucket must nest inside a
    grain bucket; hours always do, days only under day-multiples).
    Monthly never qualifies (calendar months are not fixed-width).

    Gap-filled rows are excluded (copied state must not inflate counts);
    bucket arithmetic is integer epoch-floor on unix micros — no float,
    no timezone: buckets align to the 1970-01-01 00:00 UTC origin."""
    if grain_hours <= 0:
        raise ValueError(f"grain_hours must be positive: {grain_hours}")
    source = "daily" if grain_hours % 24 == 0 else "hourly"
    lower = tiers[source]
    span = int(grain_hours) * 3_600_000_000  # micros
    micros = F.unix_micros(F.col("bucket_start").cast("timestamp_ltz"))
    bucket = F.timestamp_micros(
        (micros - ((micros % span) + span) % span)  # floor for any sign
    ).cast("timestamp_ntz")
    return (
        observed_state(lower)
        .groupBy("conv_id", bucket.alias("bucket_start"))
        .agg(*state_merge_aggs(lower.columns))
        .withColumn("tier", F.lit(f"grain_{int(grain_hours)}h"))
    )


def build_tiers(t0: DataFrame, **state) -> dict[str, DataFrame]:
    """raw → {hourly, daily, monthly} tier-state DataFrames; `state` is
    rollup_hourly's family kwargs."""
    hourly = rollup_hourly(t0, **state)
    daily = rollup_up(hourly, "daily")
    monthly = rollup_up(daily, "monthly")
    return {"hourly": hourly, "daily": daily, "monthly": monthly}


def tier_view(state: DataFrame, tier: str) -> DataFrame:
    """Expose the FIXTURES.md tier-row shape: per metric m ∈ {turn_rate,
    token_count, tool_invocations}: m_sum/m_count/m_min/m_max (+ m_mean
    derived) as doubles. Means are a single division — exact and
    deterministic given integer-backed state.
    """
    d = F.lit(HOUR_S)
    has_fill = "filled" in state.columns
    fill_cols = (
        [F.col("filled"), F.col("fill_method")]
        if has_fill
        else [
            F.lit(False).alias("filled"),
            F.lit(None).cast("string").alias("fill_method"),
        ]
    )
    out = state.select(
        "conv_id",
        "bucket_start",
        F.lit(tier).alias("tier"),
        # turn_rate: stats over the hourly rate series under this bucket
        (F.col("n_turns") / d).alias("turn_rate_sum"),
        F.col("hours_count").alias("turn_rate_count"),
        (F.col("hturns_min") / d).alias("turn_rate_min"),
        (F.col("hturns_max") / d).alias("turn_rate_max"),
        ((F.col("n_turns") / d) / F.col("hours_count")).alias("turn_rate_mean"),
        # token_count: stats over per-turn text lengths
        F.col("token_sum").cast("double").alias("token_count_sum"),
        F.col("n_turns").alias("token_count_count"),
        F.col("token_min").cast("double").alias("token_count_min"),
        F.col("token_max").cast("double").alias("token_count_max"),
        (F.col("token_sum") / F.col("n_turns")).alias("token_count_mean"),
        # tool_invocations: stats over the 0/1 per-turn indicator
        F.col("tool_sum").cast("double").alias("tool_invocations_sum"),
        F.col("n_turns").alias("tool_invocations_count"),
        F.col("tool_min").cast("double").alias("tool_invocations_min"),
        F.col("tool_max").cast("double").alias("tool_invocations_max"),
        (F.col("tool_sum") / F.col("n_turns")).alias("tool_invocations_mean"),
        *fill_cols,
    )
    return out


def bucket_rate_view(state: DataFrame, tier: str) -> DataFrame:
    """Per-bucket whole-span turn rate (turns/sec across the actual bucket
    span — calendar-aware for monthly)."""
    span = bucket_span_seconds(tier)
    return state.select(
        "conv_id",
        "bucket_start",
        (F.col("n_turns") / span).alias("bucket_turn_rate"),
        "n_turns",
    )
