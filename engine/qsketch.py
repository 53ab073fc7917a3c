"""Integer log-bucket quantile sketch tier state (M50) — the DDSketch /
UDDSketch idea (relative-error-bounded quantiles from a mergeable
bucket-count map) rebuilt on EXACT integer bucket math so the whole
sketch sits under the engine's full-hash DuckDB oracle gate.

Bucket scheme (fixed, "qsk" v1), for a value v (long, v > LONG_MIN):

    a = |v|
    a < 32          →  key = sign(v) · a                      (EXACT)
    a ≥ 32          →  e   = length(bin(a)) − 1   (= ⌊log2 a⌋)
                       top = a >> (e − 4)         (top 5 bits, ∈ [16, 31])
                       key = sign(v) · (16·e − 64 + top)

i.e. base-2 octaves split into 16 sub-buckets — a geometric grid with
ratio 2^(1/16)-ish, giving a hard RELATIVE ERROR bound: the bucket
holding a spans [top·2^(e−4), (top+1)·2^(e−4) − 1], whose representative
(the integer midpoint) is within width/2 ≤ 2^(e−5) of any member, and
every member is ≥ 16·2^(e−4), so |rep − a| / a ≤ 1/32 (~3.1%); values
below 32 are exact. Keys are monotone in v (within and across octaves),
so rank walks over sorted keys find the bucket containing any order
statistic. The whole mapping is integer shifts plus `length(bin(x))` —
verified bit-identical between Spark and DuckDB — which is what lets an
*approximate* quantile operator pass a full-hash oracle: the
approximation is a deterministic pure function of the input multiset.

State column ``{col}_qsk``: map<long,long> of key → count. Counts are
EXACT, so the merge (key-union addition, the freq_cols fold) composes
hourly→daily→monthly and across salts bit-identically to a direct build
from raw — unlike t-digest/KLL, whose merge is order-sensitive. Bucket
count is bounded by ~2·960 keys total (59 octaves × 16 + 32 exact), so
per-row state is capped regardless of data volume — the property that
lets a 100-TB corpus keep per-(conv, month) quantile state in one map
column where exact percentile_approx state would not compose at all.

Leaf construction is the freq_maps shape: a fine-keyed (group, key)
two-phase count — inherently salt-proof (a hot conversation-hour splits
across its VALUE BUCKETS and map-side partial combine absorbs the rest),
so the salted leaf joins this state directly with no salt plumbing.
Nulls are skipped; an all-null bucket carries an EMPTY map (never NULL)
so the densifier's gap-carry cannot fire on observed rows. No UDFs
anywhere — shifts, bin(), map_zip_with, window cumsum.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

from .countmap import empty_counts, fold_counts

_QSK_RE = re.compile(r"^(?P<base>.+)_qsk$")

#: values with |v| below this are their own bucket (exact regime)
EXACT_BELOW = 32


def qsk_state_col(col: str) -> str:
    return f"{col}_qsk"


def qsk_is_state_col(name: str) -> bool:
    return _QSK_RE.match(name) is not None


def qsk_key_expr(name: str) -> Column:
    """Bucket key for the long column `name` (see module docstring).
    Pure integer ops — `length(bin(x))` is the bit length, and shiftright
    accepts a column shift amount in SQL form."""
    return F.expr(
        f"""
        CAST(sign({name}) AS BIGINT) * (
          CASE WHEN abs({name}) < {EXACT_BELOW} THEN abs({name})
               ELSE 16 * (length(bin(abs({name}))) - 1) - 64
                    + shiftright(abs({name}),
                                 CAST(length(bin(abs({name}))) AS INT) - 5)
          END)
        """
    )


def qsk_rep_expr(key: str) -> Column:
    """Representative value (integer midpoint of the key's bucket,
    lo + 2^(e−5) − 1 — computed WITHOUT forming lo + hi, which overflows
    long in the top octave). Inverse of qsk_key_expr up to the ≤1/32
    quantization; exact below EXACT_BELOW."""
    return F.expr(
        f"""
        CAST(sign({key}) AS BIGINT) * (
          CASE WHEN abs({key}) < {EXACT_BELOW} THEN abs({key})
               ELSE shiftleft((abs({key}) + 64) % 16 + 16,
                              CAST((abs({key}) + 64) DIV 16 AS INT) - 5)
                    + shiftleft(CAST(1 AS BIGINT),
                                CAST((abs({key}) + 64) DIV 16 AS INT) - 6)
                    - 1
          END)
        """
    )


# the same two mappings as ANSI SQL for DuckDB oracles ({v} = a value
# expression; DuckDB's bin()/shifts match Spark's bit-for-bit)
QSK_KEY_SQL = (
    "CAST(CASE WHEN {v} < 0 THEN -1 ELSE 1 END AS BIGINT) * ("
    "CASE WHEN abs({v}) < 32 THEN abs({v}) "
    "ELSE 16 * (length(bin(abs({v}))) - 1) - 64 "
    "     + (abs({v}) >> (length(bin(abs({v}))) - 5)) END)"
)
QSK_REP_SQL = (
    "CAST(CASE WHEN {k} < 0 THEN -1 ELSE 1 END AS BIGINT) * ("
    "CASE WHEN abs({k}) < 32 THEN abs({k}) "
    "ELSE (((abs({k}) + 64) % 16 + 16) << (((abs({k}) + 64) // 16) - 5)) "
    "     + (CAST(1 AS BIGINT) << (((abs({k}) + 64) // 16) - 6)) - 1 END)"
)


def qsk_maps(df: DataFrame, keys: list[str], qsk_cols: list[str] | None):
    """Leaf sketch state: one `{col}_qsk` map<long,long> per spec'd
    column, via the fine-keyed two-phase count (freq_maps shape). Entries
    are sort_array'd so leaf maps are deterministic under any
    partitioning; callers must coalesce with empty_qsk_map()."""
    if not qsk_cols:
        return None
    out = None
    for c in sorted(set(qsk_cols)):
        m = (
            df.filter(F.col(c).isNotNull())
            .withColumn("_lv", F.col(c).cast("long"))
            .groupBy(*keys, qsk_key_expr("_lv").alias("_k"))
            .agg(F.count("*").alias("_n"))
            .groupBy(*keys)
            .agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("_k", "_n")))
                ).alias(qsk_state_col(c))
            )
        )
        out = m if out is None else out.join(m, keys, "full")
    return out


def empty_qsk_map() -> Column:
    return empty_counts("long")


def qsk_fold_agg(col: str) -> Column:
    """Key-union count addition folded over the group's map list, as an
    unaliased aggregate expression — exact under any merge order (as a
    multiset of entries; canonicalize via sort_array(map_entries) when
    hashing). Shared by the tier merges and the continuous-aggregate
    'percentile_qsk' kind."""
    return fold_counts(F.collect_list(col), empty_qsk_map())


def qsk_merge_aggs(colnames) -> list[Column]:
    """Merge aggregates for every `{col}_qsk` map (see qsk_fold_agg)."""
    return [
        qsk_fold_agg(c).alias(c) for c in colnames if qsk_is_state_col(c)
    ]


def qsk_percentile_key_expr(state_col: str, q: float) -> Column:
    """Scalar expression: the BUCKET KEY at quantile q of one sketch map
    (the lower-rank rule of qsk_percentiles, as a pure column fold — no
    explode/window, so it can finalize a continuous-aggregate row).
    Returns NULL on an empty map. Apply qsk_rep_expr to the aliased
    result to obtain the served value."""
    m = F.col(state_col)
    entries = F.sort_array(F.map_entries(m))
    total = F.aggregate(
        F.map_values(m), F.lit(0).cast("long"), lambda a, x: a + x
    )
    target = (
        F.floor(F.lit(float(q)) * (total - 1).cast("double")).cast("long")
        + 1
    )
    pick = F.aggregate(
        entries,
        F.struct(
            F.lit(0).cast("long").alias("c"),
            F.lit(None).cast("long").alias("k"),
        ),
        lambda acc, e: F.struct(
            (acc["c"] + e["value"]).alias("c"),
            F.when(
                acc["k"].isNull() & (acc["c"] + e["value"] >= target),
                e["key"],
            )
            .otherwise(acc["k"])
            .alias("k"),
        ),
    )["k"]
    return F.when(total > 0, pick)


def qsk_percentiles(
    df: DataFrame, group_cols: list[str], state_col: str, qs: list[float]
) -> DataFrame:
    """Serve quantiles from sketch state: per group, the value at quantile
    q is the representative of the bucket containing the
    (⌊q·(N−1)⌋ + 1)-th smallest value (lower-rank rule, exact rank — the
    counts are exact; only the VALUE is quantized, rel err ≤ 1/32).

    One explode + per-group key-ordered cumulative sum; per-group bucket
    count is capped by the scheme (~2k keys), so the windows are
    metadata-scale whatever the data volume. Returns one row per
    (group, q): group_cols…, q double, value long."""
    merged = df.groupBy(*group_cols).agg(*qsk_merge_aggs([state_col]))
    per_key = merged.select(
        *group_cols, F.explode(state_col).alias("_k", "_n")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    cum = per_key.withColumn("_cum", F.sum("_n").over(w)).withColumn(
        "_tot", F.sum("_n").over(wtot)
    )
    out = None
    for q in qs:
        target = (
            F.floor(
                F.lit(float(q)) * (F.col("_tot") - 1).cast("double")
            ).cast("long")
            + 1
        )
        hit = (
            cum.filter(F.col("_cum") >= target)
            .groupBy(*group_cols)
            .agg(F.min("_k").alias("_k"))
            .select(
                *group_cols,
                F.lit(float(q)).alias("q"),
                qsk_rep_expr("_k").alias("value"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
