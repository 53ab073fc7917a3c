"""Aggregate-rewrite onto continuous-aggregate tiers (SURVEY.md §4.3).

Answers a raw time-range aggregation from the CHEAPEST tier combination
instead of the raw table: [lo, hi) is decomposed greedily into
calendar-aligned spans — leading hours up to a day boundary, leading days up
to a month boundary, whole months, trailing days, trailing hours — and each
span is served by the matching tier. Because tier state is integer-backed
and the range aggregates (sum/count/min/max) are algebraic, the composed
answer is bit-identical to aggregating raw rows; the driver checks exactly
that (tier_rewrite_range's oracle aggregates the RAW table).

At 10^12-turn scale this is the reason tiers exist: a quarter-long range
over a year of data touches ~90 daily rows + ~3 monthly rows per
conversation instead of ~10^5 raw turns, and every scan is partition-pruned
(bucket_date / bucket_month are the physical partition keys).
"""

from __future__ import annotations

from datetime import datetime, timedelta
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import observed_state


def _floor_day(t: datetime) -> datetime:
    return t.replace(hour=0, minute=0, second=0, microsecond=0)


def _floor_month(t: datetime) -> datetime:
    return t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)


def _ceil_day(t: datetime) -> datetime:
    return _floor_day(t) + timedelta(days=1) if t != _floor_day(t) else t


def _next_month(t: datetime) -> datetime:
    return datetime(t.year + (t.month == 12), t.month % 12 + 1, 1)


def _ceil_month(t: datetime) -> datetime:
    return _next_month(t) if t != _floor_month(t) else t


def split_range(lo: datetime, hi: datetime) -> list[tuple[str, datetime, datetime]]:
    """Greedy calendar decomposition of [lo, hi) into disjoint, covering,
    tier-aligned spans. lo/hi must be hour-aligned (the leaf tier)."""
    for t in (lo, hi):
        if (t.minute, t.second, t.microsecond) != (0, 0, 0):
            raise ValueError(f"range edge not hour-aligned: {t}")
    if lo >= hi:
        return []
    out: list[tuple[str, datetime, datetime]] = []
    cur = lo
    # leading hours → day boundary
    if cur != _floor_day(cur):
        end = min(hi, _ceil_day(cur))
        out.append(("hourly", cur, end))
        cur = end
    # leading days → month boundary
    if cur < hi and cur == _floor_day(cur):
        end = min(_floor_day(hi), _ceil_month(cur))
        if end > cur:
            out.append(("daily", cur, end))
            cur = end
    # whole months
    if cur < hi and cur == _floor_month(cur):
        end = _floor_month(_floor_day(hi))
        if end > cur:
            out.append(("monthly", cur, end))
            cur = end
    # trailing days
    if cur < hi:
        end = _floor_day(hi)
        if end > cur:
            out.append(("daily", cur, end))
            cur = end
    # trailing hours
    if cur < hi:
        out.append(("hourly", cur, hi))
    return out


#: state columns an arbitrary-range request can compose exactly
RANGE_STATE = ["n_turns", "token_sum", "token_min", "token_max", "tool_sum"]


def rewrite_range_agg(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime
) -> DataFrame:
    """Per-conversation (n_turns, token_sum, token_min, token_max, tool_sum)
    over [lo, hi), composed from tier rows only — raw data is never read.
    A tier row with bucket_start in a span contributes its whole bucket
    (span edges are aligned to the tier unit by construction)."""
    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", *RANGE_STATE)
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    return u.groupBy("conv_id").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("token_sum").alias("token_sum"),
        F.min("token_min").alias("token_min"),
        F.max("token_max").alias("token_max"),
        F.sum("tool_sum").alias("tool_sum"),
    )


def rewrite_range_variance(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime
) -> DataFrame:
    """Per-conversation EXACT population variance of token_count over
    [lo, hi), composed from tier rows only — requires the Σx² tier state
    (`sumsq_cols=["token_count"]`, engine/rollup.py sumsq_partial_aggs).
    n/Σx/Σx² each compose by long addition across the greedy calendar
    spans, so the range variance is served from O(tiers) rows with ONE
    final float expression — bit-identical to computing it over the raw
    rows of the range (the driver oracle does exactly that)."""
    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    sq = "token_count_sumsq"
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if sq not in st.columns:
            raise ValueError(f"{tier} tier has no sumsq column {sq!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", "n_turns", "token_sum", sq)
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    agg = u.groupBy("conv_id").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("token_sum").alias("token_sum"),
        F.sum(sq).alias("token_sumsq"),
    )
    n = F.col("n_turns").cast("double")
    s = F.col("token_sum").cast("double")
    q = F.col("token_sumsq").cast("double")
    return agg.select(
        "conv_id",
        "n_turns",
        "token_sum",
        "token_sumsq",
        ((q - s * s / n) / n).alias("token_var_pop"),
    )


def rewrite_range_distinct(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str
) -> DataFrame:
    """Per-conversation approximate DISTINCT(col) over [lo, hi), composed
    from tier HLL sketch columns only (`rollup_hourly(sketch_cols=[col])` /
    `TierPipeline(sketch_cols=[col])`) — raw data is never read.

    The non-algebraic member of the range-rewrite family: exact distinct
    cannot compose across buckets, but HLL register-max union can, and the
    union over the greedy calendar decomposition is *estimate-identical* to
    a single sketch built over the raw rows of the range (union is
    associative/commutative and each tier's sketch IS the union of its
    children's), so rewriting costs no accuracy beyond the sketch's own rsd
    (lgK=12 ≈ 1.6%). Same O(tiers)-not-O(raw) scan shape as
    `rewrite_range_agg`; per-span scans stay partition-pruned."""
    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    sk = f"{col}_hll"
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if sk not in st.columns:
            raise ValueError(f"{tier} tier has no sketch column {sk!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", sk)
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    return u.groupBy("conv_id").agg(
        F.hll_sketch_estimate(F.hll_union_agg(sk)).alias(f"{col}_distinct_est")
    )


#: hourly-tier state an on-the-fly tail rollup reproduces exactly
_SERVE_COLS = [
    "conv_id",
    "bucket_start",
    "n_turns",
    "token_sum",
    "token_min",
    "token_max",
    "tool_sum",
]


def serve_hourly_realtime(
    hourly: DataFrame, t0: DataFrame, watermark
) -> DataFrame:
    """Real-time continuous aggregate (TimescaleDB real-time caggs shape):
    hourly buckets BELOW the materialization watermark come from the
    persisted tier table; buckets at/after it are aggregated on the fly
    from the raw tail — one UNION ALL with no overlap and no gap at the
    seam.

    The filters enforce the seam invariant from both sides: tier rows at or
    past the watermark are dropped (a materializer that ran ahead must not
    double-count against the raw tail), and only raw turns at/after the
    watermark are aggregated (the materialized region is never recomputed).
    `watermark` must be hour-aligned — a mid-bucket watermark would split a
    bucket across both sources and double-count it; refuse loudly instead.

    At scale the tail is one partition-pruned scan of the current day (the
    tier table serves everything older from ~5 orders of magnitude fewer
    rows), which is what makes the view cheap enough to serve per-query.
    """
    from .rollup import rollup_hourly

    if (watermark.minute, watermark.second, watermark.microsecond) != (0, 0, 0):
        raise ValueError(f"watermark must be hour-aligned: {watermark!r}")
    wm = F.lit(watermark).cast("timestamp_ntz")
    mat = (
        observed_state(hourly)
        .filter(F.col("bucket_start") < wm)
        .select(_SERVE_COLS)
    )
    tail = rollup_hourly(
        t0.filter(F.col("ts").cast("timestamp_ntz") >= wm)
    ).select(_SERVE_COLS)
    return mat.unionByName(tail)


def rewrite_range_agg_realtime(
    tiers: dict[str, DataFrame],
    t0: DataFrame,
    lo: datetime,
    hi: datetime,
    watermark: datetime,
) -> DataFrame:
    """The two serving rewrites composed: an arbitrary hour-aligned range
    [lo, hi) that STRADDLES the materialization watermark is answered from
    tier rows below the watermark (greedy calendar decomposition,
    `rewrite_range_agg`) unioned with an on-the-fly leaf rollup of the raw
    tail at/after it (`serve_hourly_realtime`'s seam rule). Integer tier
    state makes the straddling answer bit-identical to aggregating raw rows
    over the whole range, regardless of where the materializer stopped.

    This is the query path a live system actually runs: tiers always lag
    ingestion, and a "last 30 days" dashboard range ends in the
    un-materialized present. Cost shape: O(tier rows) for everything below
    the watermark + ONE partition-pruned raw scan bounded by
    [watermark, hi) — the tail is at most the materializer's lag.

    `watermark` must be hour-aligned (same both-sided seam refusal as
    serve_hourly_realtime); tier rows at/after it are excluded by span
    construction, so a materializer that ran ahead cannot double-count."""
    from .rollup import rollup_hourly

    if (watermark.minute, watermark.second, watermark.microsecond) != (0, 0, 0):
        raise ValueError(f"watermark must be hour-aligned: {watermark!r}")
    if lo >= hi:
        raise ValueError("empty range")
    parts = []
    tier_hi = min(hi, watermark)
    if lo < tier_hi:
        for tier, a, b in split_range(lo, tier_hi):
            st = observed_state(tiers[tier])
            parts.append(
                st.filter(
                    (F.col("bucket_start") >= F.lit(a))
                    & (F.col("bucket_start") < F.lit(b))
                ).select("conv_id", *RANGE_STATE)
            )
    tail_lo = max(lo, watermark)
    if tail_lo < hi:
        ts = F.col("ts").cast("timestamp_ntz")
        tail = rollup_hourly(
            t0.filter((ts >= F.lit(tail_lo)) & (ts < F.lit(hi)))
        )
        parts.append(tail.select("conv_id", *RANGE_STATE))
    u = reduce(lambda x, y: x.unionByName(y), parts)
    return u.groupBy("conv_id").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("token_sum").alias("token_sum"),
        F.min("token_min").alias("token_min"),
        F.max("token_max").alias("token_max"),
        F.sum("tool_sum").alias("tool_sum"),
    )


def rewrite_range_freq(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str, k: int = 3
) -> DataFrame:
    """Per-conversation EXACT top-k categories of `col` over [lo, hi),
    composed from tier frequency-map state only (`TierPipeline(freq_cols=
    [col])`, engine/rollup.py freq_maps) — raw data is never read. The maps
    merge across the greedy calendar spans by key-union addition (exact
    under any order), then explode to (value, n) rows ranked with a full
    deterministic tiebreak (n desc, value asc). O(tiers) rows scanned, and
    the answer is bit-identical to counting raw rows in the range — exact
    heavy-hitters at 10^12-turn scale without a raw scan."""
    from pyspark.sql import Window
    from .rollup import freq_merge_aggs

    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    fq = f"{col}_freq"
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if fq not in st.columns:
            raise ValueError(f"{tier} tier has no freq column {fq!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", fq)
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    merged = u.groupBy("conv_id").agg(*freq_merge_aggs([fq]))
    exploded = merged.select(
        "conv_id", F.explode(fq).alias("value", "n")
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("n"), "value")
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("conv_id", "rank", "value", "n")
    )


def rewrite_range_hh(
    tiers: dict[str, DataFrame],
    lo: datetime,
    hi: datetime,
    col: str,
    cap: int,
    k: int = 3,
) -> DataFrame:
    """Per-conversation heavy-hitter candidates of `col` over [lo, hi),
    served from BOUNDED Misra–Gries tier state (`TierPipeline(hh_cols=
    {col: cap})`, engine/heavyhitters.py) — the capped sibling of
    rewrite_range_freq for columns whose exact maps would be data-sized.

    Span-matched summaries fold by exact key-union addition (NO extra
    truncation at serve time — merging ≤ O(spans × cap) entries per conv,
    still metadata-scale, keeps the bound tight), and the companion totals
    sum. Output per (conv, rank): `est` (a lower bound on the true range
    count), `err_bound` = (ΣN − ΣS)/(cap+1) (upper bound on any
    undercount, from state alone), so `est + err_bound` brackets the true
    count; every value whose true range count exceeds ΣN/(cap+1) is
    guaranteed present (mergeable-summaries no-false-dismissal). Bounds
    and bracketing are pytest-asserted against raw recounts."""
    from pyspark.sql import Window
    from .countmap import empty_counts, fold_counts
    from .heavyhitters import hh_col_name, hhn_col_name

    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    hh, hhn = hh_col_name(col, cap), hhn_col_name(col, cap)
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if hh not in st.columns:
            raise ValueError(f"{tier} tier has no hh column {hh!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", F.col(hh).alias("m"), F.col(hhn).alias("n"))
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    merged = u.groupBy("conv_id").agg(
        fold_counts(F.collect_list("m"), empty_counts()).alias("m"),
        F.sum("n").alias("n_total"),
    )
    retained = F.aggregate(
        F.map_values("m"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    err = F.ceil((F.col("n_total") - retained) / F.lit(float(cap + 1))).cast(
        "long"
    )
    exploded = merged.select(
        "conv_id",
        F.explode("m").alias("value", "est"),
        err.alias("err_bound"),
        "n_total",
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("est"), "value")
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("conv_id", "rank", "value", "est", "err_bound", "n_total")
    )


def rewrite_range_hist(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str
) -> DataFrame:
    """Per-conversation percentiles (p50/p95 bins) of `col` over [lo, hi),
    served from mergeable histogram tier state (`TierPipeline(hist_cols=
    {col: (origin, width, k)})`) — the last member of the range-rewrite
    family: sum/min/max (agg), Σx² (variance), HLL (distinct), freq maps
    (top-k), and now bin arrays (distribution shape). Span-matched hist
    arrays fold by element-wise addition (exact under any order); the
    percentile is integer rank arithmetic over the merged bins, so the
    answer is bit-identical to binning the raw rows of the range. O(tiers)
    rows, one tier-bounded explode + window — never a raw scan."""
    from pyspark.sql import Window
    from .rollup import hist_merge_aggs

    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    h = f"{col}_hist"
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if h not in st.columns:
            raise ValueError(f"{tier} tier has no hist column {h!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", h)
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    merged = u.groupBy("conv_id").agg(*hist_merge_aggs([h]))
    bins = merged.select("conv_id", F.posexplode(h)).withColumnsRenamed(
        {"pos": "bin", "col": "cnt"}
    )
    wb = Window.partitionBy("conv_id").orderBy("bin")
    wt = Window.partitionBy("conv_id")
    w = bins.withColumn("cum", F.sum("cnt").over(wb)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    return (
        w.filter(F.col("total") > 0)
        .groupBy("conv_id")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("bin")))
            .cast("long")
            .alias("p50_bin"),
            F.min(
                F.when(F.col("cum") * 20 >= F.col("total") * 19, F.col("bin"))
            )
            .cast("long")
            .alias("p95_bin"),
            F.max("total").cast("long").alias("n"),
        )
    )


def _range_kmv_sketch(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str
):
    """Compose ONE KMV sketch per conversation over [lo, hi) from
    span-matched tier `<col>_kmv{k}` columns. Because the KMV merge
    (sorted-union-truncate, engine/kmv.py) is EXACT-deterministic, the
    composed sketch is bit-identical to a sketch built directly over the
    range's raw rows — stronger than the HLL path's estimate-identity.
    Returns (DataFrame[conv_id, <state col>], k)."""
    from .kmv import kmv_is_state_col, kmv_cap, kmv_merge_aggs

    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    sk = None
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if sk is None:
            cands = [
                c
                for c in st.columns
                if kmv_is_state_col(c) and c.rsplit("_kmv", 1)[0] == col
            ]
            if not cands:
                raise ValueError(f"{tier} tier has no KMV column for {col!r}")
            sk = cands[0]
        if sk not in st.columns:
            raise ValueError(f"{tier} tier has no KMV column {sk!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", sk)
        )
    u = reduce(lambda x, y: x.unionByName(y), parts)
    return u.groupBy("conv_id").agg(*kmv_merge_aggs([sk])), kmv_cap(sk)


def rewrite_range_kmv_overlap(
    tiers: dict[str, DataFrame],
    col: str,
    lo_a: datetime,
    hi_a: datetime,
    lo_b: datetime,
    hi_b: datetime,
) -> DataFrame:
    """§4.3 × M45: per-conversation SET OVERLAP of distinct `col` values
    between two arbitrary hour-aligned ranges, composed entirely from tier
    KMV sketches (`TierPipeline(kmv_cols={col: k})`) — raw data is never
    read. The question HLL state cannot answer: "how many distinct texts
    did this conversation use in BOTH range A and range B?"

    Each range's sketch is the bit-exact bottom-k of the range's distinct
    hash set (exact-deterministic merge), so while the UNION stays below
    k the returned n_common / jaccard are EXACT (`exact` flag true);
    saturated unions fall back to the Beyer et al. SIGMOD 2007 estimators
    (`n_common_est` / `jaccard_est` — also emitted in the exact regime,
    where they agree with the exact columns up to float rounding).
    O(tier rows in the two ranges) per conversation, never O(raw)."""
    from .kmv import kmv_estimate, kmv_union

    a, k = _range_kmv_sketch(tiers, lo_a, hi_a, col)
    b, k2 = _range_kmv_sketch(tiers, lo_b, hi_b, col)
    assert k == k2, (k, k2)
    sk = [c for c in a.columns if c != "conv_id"][0]
    a = a.withColumnRenamed(sk, "_ska")
    b = b.withColumnRenamed(sk, "_skb")
    j = a.join(b, "conv_id")
    x = kmv_union(F.col("_ska"), F.col("_skb"), k)
    n_x = F.size(x)
    n_common = F.size(F.array_intersect("_ska", "_skb")).cast("long")
    rho = F.when(
        n_x > 0,
        F.size(F.array_intersect(F.array_intersect(x, F.col("_ska")), F.col("_skb")))
        .cast("double")
        / n_x.cast("double"),
    ).otherwise(F.lit(0.0))
    n_union_est = kmv_estimate(x, k)
    return j.select(
        "conv_id",
        F.size("_ska").cast("long").alias("n_a"),
        F.size("_skb").cast("long").alias("n_b"),
        (n_x < k).alias("exact"),
        n_common.alias("n_common"),
        F.when(
            n_x > 0,
            n_common.cast("double")
            / (F.size("_ska") + F.size("_skb") - n_common).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
        n_union_est.alias("n_union_est"),
        rho.alias("jaccard_est"),
        (rho * n_union_est).alias("n_common_est"),
    )


def _range_state_rows(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str
) -> DataFrame:
    """Span-matched tier rows carrying one ordered-monoid state column
    (sessions_g{G} / statedur_{c}) for [lo, hi)."""
    spans = split_range(lo, hi)
    if not spans:
        raise ValueError("empty range")
    parts = []
    for tier, a, b in spans:
        st = observed_state(tiers[tier])
        if col not in st.columns:
            raise ValueError(f"{tier} tier has no state column {col!r}")
        parts.append(
            st.filter(
                (F.col("bucket_start") >= F.lit(a))
                & (F.col("bucket_start") < F.lit(b))
            ).select("conv_id", col)
        )
    return reduce(lambda x, y: x.unionByName(y), parts)


def rewrite_range_sessions(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, gap_minutes: int
) -> DataFrame:
    """§4.3 × M47: per-conversation SESSION COUNT over an arbitrary
    hour-aligned range, folded from span-matched tier `sessions_g{G}`
    structs (`TierPipeline(session_gaps=[G])`) — the ordered monoid
    composes across mixed hourly/daily/monthly spans exactly like it
    composes up the tiers, so the count equals a gaps-and-islands scan
    of the range's raw turns. O(tier rows in range), never O(raw)."""
    from .sessionstate import sess_merge_aggs, sess_state_col

    col = sess_state_col(gap_minutes)
    u = _range_state_rows(tiers, lo, hi, col)
    return u.groupBy("conv_id").agg(*sess_merge_aggs([col])).select(
        "conv_id", F.col(col)["n"].alias("n_sessions")
    )


def rewrite_range_statedur(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str
) -> DataFrame:
    """§4.3 × M48: per-conversation TIME-IN-STATE over an arbitrary
    hour-aligned range from span-matched `statedur_{col}` structs —
    exact integer micros, identical to lead()-attribution over the
    range's raw turns (intervals crossing span seams are re-attributed
    by the boundary rule during the fold)."""
    from .statedur import sd_merge_aggs, sd_state_col

    c = sd_state_col(col)
    u = _range_state_rows(tiers, lo, hi, c)
    folded = u.groupBy("conv_id").agg(*sd_merge_aggs([c]))
    return folded.select(
        "conv_id", F.explode(F.col(c)["durs"]).alias("state", "micros")
    )


def rewrite_range_twa(
    tiers: dict[str, DataFrame], lo: datetime, hi: datetime, col: str
) -> DataFrame:
    """§4.3 × M49: per-conversation TIME-WEIGHTED AVERAGE (plus gauge
    delta / per-second rate) over an arbitrary hour-aligned range from
    span-matched `twa_{col}` structs — the ordered-monoid fold closes
    span seams with the LOCF boundary term, so the integer area equals a
    fresh lead()-attribution scan of the range's raw turns; the only
    float is the final area/span division. O(tier rows), never O(raw)."""
    from .twa import twa_merge_aggs, twa_serve_cols, twa_state_col

    c = twa_state_col(col)
    u = _range_state_rows(tiers, lo, hi, c)
    folded = u.groupBy("conv_id").agg(*twa_merge_aggs([c]))
    serve = twa_serve_cols(F.col(c))
    return folded.select(
        "conv_id",
        F.col(c)["area"].alias("area"),
        (F.col(c)["last_us"] - F.col(c)["first_us"]).alias("span_us"),
        serve["twa"].alias("twa"),
        serve["delta"].alias("delta"),
        serve["rate_per_s"].alias("rate_per_s"),
    )


def rewrite_range_qsk_percentiles(
    tiers: dict[str, DataFrame],
    lo: datetime,
    hi: datetime,
    col: str,
    qs: list[float],
) -> DataFrame:
    """§4.3 × M50: per-conversation QUANTILES over an arbitrary
    hour-aligned range from span-matched `{col}_qsk` maps — counts
    compose exactly (key-union addition), so the served value is the
    deterministic bucket representative of the range's true rank-target
    element: rank exact, value within 1/32 relative error, and the whole
    answer a pure function of the raw multiset (full-hash gateable)."""
    from .qsketch import qsk_percentiles, qsk_state_col

    c = qsk_state_col(col)
    u = _range_state_rows(tiers, lo, hi, c)
    return qsk_percentiles(u, ["conv_id"], c, qs)


def rewrite_range_topn(
    tiers: dict[str, DataFrame],
    lo: datetime,
    hi: datetime,
    col: str,
    n: int,
    direction: str = "top",
) -> DataFrame:
    """§4.3 × M52: the n extreme values (with timestamps) over an
    arbitrary hour-aligned range, folded from span-matched
    `{col}_top{n}`/`{col}_bot{n}` arrays — bit-exact (the union's n
    extremes are a pure function of each span's n extremes). Returns
    one row per rank: (conv_id, rank, value, ts, turn_idx)."""
    from .topn import topn_explode, topn_merge_aggs, topn_state_col

    c = topn_state_col(col, n, direction)
    u = _range_state_rows(tiers, lo, hi, c)
    folded = u.groupBy("conv_id").agg(*topn_merge_aggs([c]))
    return topn_explode(folded, c)


def serve_series_chunked(
    hourly: DataFrame,
    chunks: DataFrame,
    lo,
    hi,
    metrics: list[str] | None = None,
) -> DataFrame:
    """Long-form hourly series over [lo, hi) that survives retention: days
    still present in the hourly tier are served from tier rows (cheap,
    partition-pruned, no decode); days the retention policy dropped are
    decoded from the compressed T4 chunk blobs (M55 pruned range read).
    The union equals the pre-drop `hourly_series` bit-exactly — the
    "continuous aggregates remain queryable" guarantee extended down to
    the raw-resolution series itself.

    Day-granular routing matches the drop granularity: a month-spanning
    chunk is decoded once and only its points on MISSING days survive, so
    nothing is double-served. The day spine is built with sequence() over
    the range literals and the missing-day set rides a broadcast semi/anti
    join — metadata-scale, never a raw scan."""
    from .codec.chunks import read_chunk_range
    from .gapfill import hourly_series

    lo_c = F.lit(lo).cast("timestamp_ntz")
    hi_c = F.lit(hi).cast("timestamp_ntz")
    obs = observed_state(hourly).filter(
        (F.col("bucket_start") >= lo_c) & (F.col("bucket_start") < hi_c)
    )
    tier_pts = hourly_series(obs, metrics)

    spark = hourly.sparkSession
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(lo_c),
                F.to_date(hi_c - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    present = hourly.select(
        F.to_date("bucket_start").alias("d")
    ).distinct()
    missing = days.join(present, "d", "left_anti")

    decoded, _bad = read_chunk_range(chunks, lo, hi)
    if metrics is not None:
        decoded = decoded.filter(F.col("metric").isin(list(metrics)))
    chunk_pts = decoded.join(
        F.broadcast(missing),
        F.to_date("bucket_start") == F.col("d"),
        "left_semi",
    ).select("conv_id", "bucket_start", "metric", "value")

    return tier_pts.select(
        "conv_id", "bucket_start", "metric", "value"
    ).unionByName(chunk_pts)


def serve_gapfill(
    hourly: DataFrame,
    chunks: DataFrame,
    lo,
    hi,
    method: str = "locf",
    metrics: list[str] | None = None,
) -> DataFrame:
    """Gap-filled long-form hourly series over [lo, hi), filled on read:
    engine/gapfill.py SERIES_SCHEMA rows, one per hour from each
    (conv_id, metric) series' first to its last observation, clipped to
    the range. The `gapfill` kernel runs over the whole retention-surviving
    series (`serve_series_chunked` across the span of the hourly tier and
    of the chunks table, which no hourly or daily drop shortens), so LOCF
    carries and linear anchors from outside the range are the ones the
    full series has.
    Chunk decode returns a null value as NaN (the codec stores doubles);
    it is mapped back to null, which the metrics never produce as NaN."""
    from .gapfill import SERIES_SCHEMA, gapfill

    span = (
        hourly.selectExpr("bucket_start AS s", "bucket_start AS e")
        .unionByName(chunks.selectExpr("chunk_start AS s", "chunk_end AS e"))
        .agg(F.min("s"), F.max("e"))
        .first()
    )
    if span[0] is None:
        return hourly.sparkSession.createDataFrame([], SERIES_SCHEMA)
    pts = serve_series_chunked(
        hourly, chunks, str(_floor_day(span[0])),
        str(_floor_day(span[1]) + timedelta(days=1)), metrics,
    ).withColumn("value", F.when(~F.isnan("value"), F.col("value")))
    bs = F.col("bucket_start")
    lo_c, hi_c = (F.lit(str(t)).cast("timestamp_ntz") for t in (lo, hi))
    return (
        gapfill(pts, method)
        .filter((bs >= lo_c) & (bs < hi_c))
        .select(*[f.name for f in SERIES_SCHEMA.fields])
    )
