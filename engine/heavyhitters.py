"""Bounded heavy-hitters tier state (Misra–Gries mergeable summaries).

`freq_cols` (engine/rollup.py) keeps EXACT value→count maps — the right
tool when per-bucket cardinality is bounded (roles, tools, languages). At
100 TB a high-cardinality column (user agents, URLs, error strings) makes
exact maps as big as the data; the scale-safe sibling is a summary with a
HARD capacity bound whose estimates still compose across tiers.

This module implements the Misra–Gries summary as pure JVM column algebra
(no UDFs): a map<string,long> holding at most `cap` counters, with the
classic mergeable-summaries guarantees (Agarwal, Cormode, Huang, Phillips,
Wei, Yi — "Mergeable Summaries", PODS 2012):

  * underestimates only:  0 ≤ true(v) − est(v)          for every value v
  * bounded error:        true(v) − est(v) ≤ D          where D is the sum
    of all MG decrements, and D ≤ (N − S)/(cap+1) with N = total counted
    values and S = sum of retained counters (each reduction subtracting d
    removes ≥ (cap+1)·d from the total, so ΣD ≤ removed/(cap+1))
  * no false dismissals:  any v with true(v) > N/(cap+1) is in the summary

The error bound is computable FROM STATE ALONE: each `<col>_hh{cap}` map
travels with a companion `<col>_hhn{cap}` long (total non-null values
seen), so `(hhn − map_sum)/(cap+1)` bounds every estimate's undercount at
any tier without touching raw data.

Merge strategy (the determinism subtlety): a truncation-inside-the-fold
would make results depend on Spark's nondeterministic collect_list order.
Instead each tier-up merge folds maps with EXACT key-union addition
(commutative + associative ⇒ order-independent), then truncates ONCE per
output row. The intermediate union is bounded by (#lower rows in the
group × cap) entries — e.g. 744·cap for a month of hours — never by raw
cardinality, and the final state is a pure function of the input multiset.
When per-bucket cardinality never exceeds `cap`, no truncation fires at
any tier and the state is bit-identical to `freq_cols` exact maps — the
regime the driver oracle pins with a full hash; the truncating regime is
pinned by the property tests (tests/test_heavyhitters.py).

Column naming is self-describing: the capacity is part of the state's
identity (`role_hh32`), so `rollup_up`-style merges can recover the cap
from the schema alone and summaries of different caps can never be mixed.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .countmap import empty_counts, fold_counts

_HH_RE = re.compile(r"^(?P<col>.+)_hh(?P<cap>\d+)$")
_HHN_RE = re.compile(r"^(?P<col>.+)_hhn(?P<cap>\d+)$")


def hh_col_name(col: str, cap: int) -> str:
    return f"{col}_hh{cap}"


def hhn_col_name(col: str, cap: int) -> str:
    return f"{col}_hhn{cap}"


def parse_hh_col(name: str):
    """`role_hh32` → ("role", 32); None if not an hh state column."""
    m = _HH_RE.match(name)
    if m and not _HHN_RE.match(name):
        return m.group("col"), int(m.group("cap"))
    return None


def mg_truncate(map_col, cap: int):
    """Misra–Gries reduction as a column expression: if the map holds more
    than `cap` entries, subtract the (cap+1)-th largest count from every
    entry and drop the non-positive ones (≤ cap survive — only entries
    strictly greater than the (cap+1)-th largest can stay positive).
    Subtract-and-filter is order-independent, so ties need no breaking and
    the result is deterministic for any entry order."""
    m = map_col if not isinstance(map_col, str) else F.col(map_col)
    entries = F.map_entries(m)
    # counts sorted descending; element_at is 1-indexed → (cap+1)-th largest
    counts_desc = F.reverse(F.array_sort(F.transform(entries, lambda e: e.value)))
    d = F.element_at(counts_desc, cap + 1)
    reduced = F.map_from_entries(
        F.filter(
            F.transform(
                entries,
                lambda e: F.struct(
                    e.key.alias("key"), (e.value - d).alias("value")
                ),
            ),
            lambda e: e.value > 0,
        )
    )
    return F.when(F.size(entries) <= cap, m).otherwise(reduced)


def hh_partial_maps(df: DataFrame, keys: list[str], hh_cols: dict[str, int] | None):
    """Leaf summaries: exact per-(group, value) counts (fine-keyed two-phase
    aggregate — inherently skew/salt-proof, same shape as freq_maps), map
    assembly, then ONE MG truncation per leaf bucket. Returns a DataFrame
    keyed by `keys` with `<col>_hh{cap}` + `<col>_hhn{cap}` columns, or
    None. Nulls are skipped (and excluded from hhn, so the error bound
    stays tight)."""
    if not hh_cols:
        return None
    out = None
    for c in sorted(hh_cols):
        cap = int(hh_cols[c])
        m = (
            df.filter(F.col(c).isNotNull())
            .groupBy(*keys, F.col(c).cast("string").alias("_v"))
            .agg(F.count("*").alias("_n"))
            .groupBy(*keys)
            .agg(
                mg_truncate(
                    F.map_from_entries(
                        F.sort_array(F.collect_list(F.struct("_v", "_n")))
                    ),
                    cap,
                ).alias(hh_col_name(c, cap)),
                F.sum("_n").alias(hhn_col_name(c, cap)),
            )
        )
        out = m if out is None else out.join(m, keys, "full")
    return out


def hh_empty_state(hh_cols: dict[str, int]) -> dict:
    """The state of a bucket with no non-null values: an empty map + 0
    total (the freq_cols convention: never NULL, so densify's gap-carry
    can't fire on observed rows)."""
    out = {}
    for c in sorted(hh_cols):
        cap = int(hh_cols[c])
        out[hh_col_name(c, cap)] = empty_counts()
        out[hhn_col_name(c, cap)] = F.lit(0).cast("long")
    return out


def hh_merge_aggs(colnames: list[str]) -> list:
    """Tier-up merge aggregates, discovered from state column names alone.
    `<col>_hh{cap}`: exact key-union addition fold (order-independent),
    then one MG truncation of the merged map. `<col>_hhn{cap}`: sum."""
    out = []
    for name in colnames:
        if _HHN_RE.match(name):
            out.append(F.sum(name).alias(name))
            continue
        parsed = parse_hh_col(name)
        if parsed is None:
            continue
        _, cap = parsed
        merged = fold_counts(F.collect_list(name), empty_counts())
        out.append(mg_truncate(merged, cap).alias(name))
    return out


def hh_is_state_col(name: str) -> bool:
    return bool(_HH_RE.match(name) or _HHN_RE.match(name))


def hh_error_bound(col: str, cap: int):
    """Per-row upper bound on any value's undercount, from state alone:
    ceil((total counted − sum retained) / (cap + 1)) as a long — the true
    bound is the real-valued quotient and undercounts are integral, so the
    ceiling is the tightest integer that is still conservative."""
    retained = F.aggregate(
        F.map_values(hh_col_name(col, cap)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.ceil(
        (F.col(hhn_col_name(col, cap)) - retained)
        / F.lit(float(cap + 1))
    ).cast("long")


def hh_topk(state: DataFrame, col: str, cap: int, k: int) -> DataFrame:
    """Serve guaranteed-order-insensitive top-k candidates from summary
    state: explode the map, attach the per-row error bound, rank by
    estimate. Every true heavy hitter (count > N/(cap+1)) is guaranteed
    present; `est` is a lower bound and `est + err_bound` an upper bound
    on the true count."""
    from pyspark.sql import Window

    err = hh_error_bound(col, cap).alias("err_bound")
    exploded = state.select(
        *[c for c in ("conv_id", "bucket_start", "tier") if c in state.columns],
        F.explode(hh_col_name(col, cap)).alias("value", "est"),
        err,
    )
    keys = [c for c in ("conv_id", "bucket_start") if c in exploded.columns]
    w = Window.partitionBy(*keys).orderBy(F.desc("est"), "value")
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
