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

Adding a state family: append one StateFamily record to the END of
FAMILIES. It supplies the keyword name and its normaliser (shared by
rollup_hourly and TierPipeline, whose attribute of that name holds the
normalised spec), the day-token fragment and the fingerprint hash
expressions (engine/pipeline.py), the column predicate recognising its
state columns, their merge aggregates, and its leaf: either `partial`
aggregates inside the core groupBy (which pass through the salt) or a
fine-keyed `leaf` state frame joined onto the hourly rows, with the
`empty` state a bucket without values gets. The table's order fixes the
day-token, fingerprint and tier-schema column order of every root already
written, so a record is never inserted, reordered or removed.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bucket import TIER_ORDER, TIER_UNIT, bucket_span_seconds, with_metrics
from .countmap import empty_counts, fold_counts
from .heavyhitters import (
    hh_col_name,
    hh_empty_state,
    hh_is_state_col,
    hh_merge_aggs,
    hh_partial_maps,
    hhn_col_name,
)
from .kmv import (
    empty_kmv_array,
    kmv_arrays,
    kmv_is_state_col,
    kmv_merge_aggs,
    kmv_state_col,
)
from .qsketch import (
    empty_qsk_map,
    qsk_is_state_col,
    qsk_maps,
    qsk_merge_aggs,
    qsk_state_col,
)
from .sessionstate import (
    sess_is_state_col,
    sess_leaf_states,
    sess_merge_aggs,
    sess_state_col,
)
from .statedur import sd_is_state_col, sd_leaf_states, sd_merge_aggs, sd_state_col
from .topn import (
    empty_topn_array,
    topn_is_state_col,
    topn_leaf_states,
    topn_merge_aggs,
    topn_state_col,
)
from .twa import (
    empty_twa_struct,
    twa_is_state_col,
    twa_leaf_states,
    twa_merge_aggs,
    twa_state_col,
)

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


def freq_merge_aggs(cols: list[str]) -> list:
    """Merge aggregates for `<col>_freq` maps: fold the tier-bounded list
    of maps with map_zip_with (key-union, count addition) — exact under any
    merge order, so frequency maps compose across tiers AND salts
    bit-identically (as multisets of entries; internal key order is
    canonicalized at hash/compare time)."""
    return [
        fold_counts(F.collect_list(c), empty_counts()).alias(c) for c in cols
    ]


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


@dataclass(frozen=True)
class StateFamily:
    """One optional mergeable tier-state family (see FAMILIES). `spec` is
    the family's keyword value after `normalise`; a falsy spec is off."""

    #: the rollup_hourly / TierPipeline keyword (and TierPipeline attribute)
    kwarg: str
    #: keyword value → spec; idempotent, so a normalised spec passes again
    normalise: Callable[[Any], Any]
    #: spec → its fragment of the day-stage fingerprint token
    token: Callable[[Any], str]
    #: spec → the expressions its state joins tier fingerprints with
    hash_cols: Callable[[Any], list]
    #: column name → whether it is this family's state
    is_state: Callable[[str], bool]
    #: state column names → merge aggregates; None when a sibling
    #: family's merge step takes its columns
    merge: Callable[[list[str]], list] | None
    #: spec → partial aggregates inside the core hourly groupBy
    partial: Callable[[Any], list] | None = None
    #: (rows, keys, spec) → fine-keyed state frame joined onto the hourly rows
    leaf: Callable[[DataFrame, list[str], Any], DataFrame] | None = None
    #: spec → {state column: the state of a bucket with no values}
    empty: Callable[[Any], dict] = lambda spec: {}


def _sorted(v) -> list:
    return sorted(v or [])


def _sorted_set(v) -> list:
    return sorted(set(v or []))


def _caps(v) -> dict:
    return {c: int(k) for c, k in sorted((v or {}).items())}


def _list_token(tag: str):
    return lambda spec: f"{tag}:" + ";".join(str(x) for x in spec)


def _caps_token(tag: str):
    return lambda spec: f"{tag}:" + ";".join(f"{c}={k}" for c, k in spec.items())


def _json(col: str):
    return F.to_json(F.col(col))


def _map_json(m):
    return F.to_json(F.sort_array(F.map_entries(m)))


def _statedur_hash(spec) -> list:
    out = []
    for c in spec:
        st = F.col(sd_state_col(c))
        out += [st["first_us"], st["last_us"], st["last_state"]]
        out.append(_map_json(st["durs"]))
    return out


def _topn_family(kwarg: str, direction: str, merge) -> StateFamily:
    return StateFamily(
        kwarg,
        normalise=_caps,
        token=_caps_token(f"{direction}n"),
        hash_cols=lambda spec: [
            _json(topn_state_col(c, n, direction)) for c, n in spec.items()
        ],
        is_state=topn_is_state_col,
        merge=merge,
        leaf=lambda df, keys, spec: topn_leaf_states(df, keys, spec, direction),
        empty=lambda spec: {
            topn_state_col(c, n, direction): empty_topn_array()
            for c, n in spec.items()
        },
    )


#: The optional tier-state families, in the order that fixes the day token,
#: the fingerprint columns and the tier-schema column order — new families
#: go at the END (module docstring). Every family is exact and mergeable
#: (HLL is estimate-exact), so it composes hourly→daily→monthly and across
#: salts, and enabling or disabling one on an existing root is a one-time
#: manifest-gated backfill of every day: its spec is part of the day token.
#: Fingerprints hash exact deterministic state raw; map state hashes its
#: sorted entry array (map key order depends on merge order); and empty-able
#: arrays, maps and structs hash AS JSON, because xxhash64 skips empty
#: arrays and NULLs, so enable/disable migrations would miss every all-empty
#: day, while the "[]" string is never hash-invisible. Fine-keyed families
#: give a bucket with no values its `empty` state, never NULL, so the
#: densifier's gap-carry cannot fire on observed rows.
FAMILIES: tuple[StateFamily, ...] = (
    # `<col>_hll` Datasketches HLL distinct-count sketch: the algebra's one
    # non-algebraic member — exact distincts cannot compose, register-max
    # union can. Nulls are skipped. Hashed as its ESTIMATE: raw sketch
    # bytes vary with aggregation order.
    StateFamily(
        "sketch_cols",
        normalise=lambda v: list(v or []),
        token=lambda spec: "sketch:" + ",".join(sorted(spec)),
        hash_cols=lambda spec: [
            F.hll_sketch_estimate(f"{c}_hll") for c in sorted(spec)
        ],
        is_state=lambda c: c.endswith("_hll"),
        merge=lambda cols: [F.hll_union_agg(c).alias(c) for c in cols],
        partial=lambda spec: [
            F.hll_sketch_agg(c, F.lit(HLL_LGK)).alias(f"{c}_hll") for c in spec
        ],
    ),
    # `<col>_hist` bin counts, {col: (origin, width, n_bins)}: exact
    # distribution state, merged by element-wise addition
    StateFamily(
        "hist_cols",
        normalise=lambda v: dict(v or {}),
        token=lambda spec: "hist:"
        + ";".join(f"{c}={o},{w},{k}" for c, (o, w, k) in sorted(spec.items())),
        hash_cols=lambda spec: [F.col(f"{c}_hist") for c in sorted(spec)],
        is_state=lambda c: c.endswith("_hist"),
        merge=hist_merge_aggs,
        partial=hist_partial_aggs,
    ),
    # `<col>_first`/`<col>_last` open/close values + the shared order keys
    # that make them composable (the keys are unique, so no ties)
    StateFamily(
        "firstlast_cols",
        normalise=_sorted,
        token=_list_token("fl"),
        hash_cols=lambda spec: [
            F.col(f"{c}_{side}") for c in spec for side in ("first", "last")
        ],
        is_state=lambda c: c.endswith(("_first", "_last")),
        merge=firstlast_merge_aggs,
        partial=firstlast_partial_aggs,
    ),
    # `<col>_sumsq` Σx² (variance/stddev from any tier with one final
    # float expression); its merge step also takes the Σxy columns, sorted
    # jointly, which fixes their order in the upper tiers
    StateFamily(
        "sumsq_cols",
        normalise=_sorted,
        token=_list_token("sq"),
        hash_cols=lambda spec: [F.col(f"{c}_sumsq") for c in spec],
        is_state=lambda c: c.endswith(("_sumsq", "_sumprod")),
        merge=lambda cols: [F.sum(c).alias(c) for c in sorted(cols)],
        partial=sumsq_partial_aggs,
    ),
    # `<a>_x_<b>_sumprod` Σxy per (a, b) pair (covariance, correlation,
    # regression slope from tiers); merged by the Σx² step
    StateFamily(
        "sumprod_cols",
        normalise=lambda v: sorted(tuple(p) for p in (v or [])),
        token=lambda spec: "sp:" + ";".join(f"{a}*{b}" for a, b in spec),
        hash_cols=lambda spec: [F.col(f"{a}_x_{b}_sumprod") for a, b in spec],
        is_state=lambda c: c.endswith("_sumprod"),
        merge=None,
        partial=sumprod_partial_aggs,
    ),
    # `<col>_freq` value→count maps, merged by key-union addition
    StateFamily(
        "freq_cols",
        normalise=_sorted,
        token=_list_token("fq"),
        hash_cols=lambda spec: [_map_json(f"{c}_freq") for c in spec],
        is_state=lambda c: c.endswith("_freq"),
        merge=freq_merge_aggs,
        leaf=freq_maps,
        empty=lambda spec: {f"{c}_freq": empty_counts() for c in spec},
    ),
    # {col: cap}: `<col>_hh{cap}` Misra–Gries map + `<col>_hhn{cap}` total
    # (engine/heavyhitters.py), the freq variant hard-capped per bucket for
    # high-cardinality columns
    StateFamily(
        "hh_cols",
        normalise=_caps,
        token=_caps_token("hh"),
        hash_cols=lambda spec: [
            e
            for c, k in spec.items()
            for e in (_map_json(hh_col_name(c, k)), F.col(hhn_col_name(c, k)))
        ],
        is_state=hh_is_state_col,
        merge=hh_merge_aggs,
        leaf=hh_partial_maps,
        empty=hh_empty_state,
    ),
    # {col: k}: `<col>_kmv{k}` bottom-k distinct-hash arrays (engine/kmv.py),
    # the set-algebra member (intersection, Jaccard — which HLL cannot);
    # exact below k distincts per bucket
    StateFamily(
        "kmv_cols",
        normalise=_caps,
        token=_caps_token("kmv"),
        hash_cols=lambda spec: [
            _json(kmv_state_col(c, k)) for c, k in spec.items()
        ],
        is_state=kmv_is_state_col,
        merge=kmv_merge_aggs,
        leaf=kmv_arrays,
        empty=lambda spec: {
            kmv_state_col(c, k): empty_kmv_array() for c, k in spec.items()
        },
    ),
    # gap minutes: `sessions_g{G}` island structs (engine/sessionstate.py).
    # Every observed hourly row has a turn, so every key gets a state.
    StateFamily(
        "session_gaps",
        normalise=lambda v: sorted({int(g) for g in (v or [])}),
        token=_list_token("sess"),
        hash_cols=lambda spec: [_json(sess_state_col(g)) for g in spec],
        is_state=sess_is_state_col,
        merge=sess_merge_aggs,
        leaf=sess_leaf_states,
    ),
    # `statedur_{col}` time-in-state structs (engine/statedur.py); the
    # nested map hashes as sorted entries. Every key gets a state.
    StateFamily(
        "statedur_cols",
        normalise=_sorted_set,
        token=_list_token("sd"),
        hash_cols=_statedur_hash,
        is_state=sd_is_state_col,
        merge=sd_merge_aggs,
        leaf=sd_leaf_states,
    ),
    # `twa_{col}` time-weighted-average structs (engine/twa.py)
    StateFamily(
        "twa_cols",
        normalise=_sorted_set,
        token=_list_token("twa"),
        hash_cols=lambda spec: [_json(twa_state_col(c)) for c in spec],
        is_state=twa_is_state_col,
        merge=twa_merge_aggs,
        leaf=twa_leaf_states,
        empty=lambda spec: {twa_state_col(c): empty_twa_struct() for c in spec},
    ),
    # `{col}_qsk` log-bucket quantile-sketch maps (engine/qsketch.py)
    StateFamily(
        "qsk_cols",
        normalise=_sorted_set,
        token=_list_token("qsk"),
        hash_cols=lambda spec: [_map_json(qsk_state_col(c)) for c in spec],
        is_state=qsk_is_state_col,
        merge=qsk_merge_aggs,
        leaf=qsk_maps,
        empty=lambda spec: {qsk_state_col(c): empty_qsk_map() for c in spec},
    ),
    # {col: n}: `{col}_top{n}` / `{col}_bot{n}` extreme-value arrays
    # (engine/topn.py); one merge step takes both directions
    _topn_family("topn_cols", "top", topn_merge_aggs),
    _topn_family("botn_cols", "bot", None),
)


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

    Each other keyword enables one of the FAMILIES of optional tier state.
    The partial families (HLL, hist, first/last, Σx², Σxy) aggregate in
    the core groupBy; the rest are built from fine-keyed (conv, hour, …)
    state that is skew-proof without salt plumbing, and join the
    aggregated rows.
    """
    given = locals()  # the family keywords, by name
    on = [(f, s) for f in FAMILIES if (s := f.normalise(given[f.kwarg]))]
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
        *[a for f, s in on if f.partial for a in f.partial(s)],
    )
    if n_salts is not None:
        hourly = hourly.groupBy("conv_id", "bucket_start").agg(
            *state_merge_aggs(hourly.columns)
        )
    keys = ["conv_id", "bucket_start"]
    leaf = df.withColumn("bucket_start", hour)
    for f, s in on:
        if f.leaf:
            hourly = hourly.join(f.leaf(leaf, keys, s), keys, "left")
            for c, e in f.empty(s).items():
                hourly = hourly.withColumn(c, F.coalesce(c, e))
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
        c for c in hourly.columns if any(f.is_state(c) for f in FAMILIES)
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
    keyed on the self-describing column names (FAMILIES). Any grouping of tier
    rows composed with these aggregates equals recomputing from raw —
    rollup_up (calendar tiers) and rollup_grain (arbitrary N-hour grains)
    are the same operation over different bucket keys."""
    family_merges = [
        a
        for f in FAMILIES
        if f.merge
        for a in f.merge([c for c in columns if f.is_state(c)])
    ]
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
        *family_merges,
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
