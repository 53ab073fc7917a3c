"""Duration-in-state tier state (M48) — the TimescaleDB toolkit
`state_agg`, Spark-first.

State column ``statedur_{col}`` per categorical column (e.g. role), a
struct per tier bucket:

    first_us   — unix micros of the bucket's first turn
    last_us    — unix micros of the bucket's last turn
    last_state — `col` value of the bucket's last turn
    durs       — map<state, micros>: time spent in each state WITHIN the
                 bucket, where the interval [t_i, t_{i+1}) between
                 consecutive turns is attributed to the state at t_i
                 (the standard state_agg attribution; the bucket's final
                 turn contributes nothing until a later bucket closes it)

Like the sessionization state (engine/sessionstate.py) this is a
TIME-ORDERED MONOID over disjoint buckets: merging adjacent spans a ⊕ b
adds the boundary interval (b.first_us − a.last_us) to a.last_state's
duration, key-union-adds the maps, and carries (a.first_us, b.last_us,
b.last_state). Folding hourly rows therefore yields EXACTLY the
durations a fresh lead()-attribution scan over the month's raw turns
produces — "how long was this conversation in tool-use vs. chatting
this month" from ≤31 daily structs, never a raw scan.

Null state values are folded into the literal "<null>" key (a map key
cannot be NULL; dropping the rows would silently re-attribute their
intervals to the neighboring states).

The merge fold sorts the tier-bounded struct list with an array_sort
COMPARATOR on first_us — structs containing maps are not natively
orderable, but a field comparator is all the fold needs. Everything is
JVM column algebra: one bounded window at the leaf (partitioned by
(conv, hour) — skew-bounded per conversation-hour), map_zip_with folds
at merge time, no UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

from .countmap import add_counts, empty_counts

_SD_RE = re.compile(r"^statedur_(?P<col>.+)$")

NULL_STATE = "<null>"


def sd_state_col(col: str) -> str:
    return f"statedur_{col}"


def sd_is_state_col(name: str) -> bool:
    return _SD_RE.match(name) is not None


def _us(col) -> Column:
    return F.unix_micros(F.col(col).cast("timestamp_ltz"))


def sd_leaf_states(
    df: DataFrame, keys: list[str], statedur_cols: list[str] | None
):
    """Per-(conv, hour) duration-in-state leaf: intervals between
    consecutive turns of the SAME bucket, attributed to the earlier
    turn's state; map entries sort_array'd so leaf maps are
    deterministic under any partitioning."""
    if not statedur_cols:
        return None
    w = Window.partitionBy(*keys).orderBy("ts", "turn_idx")
    nxt = F.lead(_us("ts")).over(w)
    dur = nxt - _us("ts")  # NULL on the bucket's last turn
    order = F.struct(_us("ts").alias("u"), F.col("turn_idx").alias("i"))
    out = None
    for c in sorted(set(statedur_cols)):
        state = F.coalesce(F.col(c).cast("string"), F.lit(NULL_STATE))
        flagged = df.withColumns({"_st": state, "_dur": dur})
        per_state = (
            flagged.filter(F.col("_dur").isNotNull())
            .groupBy(*keys, "_st")
            .agg(F.sum("_dur").alias("_d"))
            .groupBy(*keys)
            .agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("_st", "_d")))
                ).alias("_durs")
            )
        )
        bounds = flagged.groupBy(*keys).agg(
            F.min(_us("ts")).alias("_first_us"),
            F.max(_us("ts")).alias("_last_us"),
            F.max_by("_st", order).alias("_last_state"),
        )
        # single-turn buckets have no completed interval -> empty map
        m = bounds.join(per_state, keys, "left").select(
            *keys,
            F.struct(
                F.col("_first_us").alias("first_us"),
                F.col("_last_us").alias("last_us"),
                F.col("_last_state").alias("last_state"),
                F.coalesce("_durs", empty_counts()).alias("durs"),
            ).alias(sd_state_col(c)),
        )
        out = m if out is None else out.join(m, keys, "full")
    return out


def sd_merge_aggs(colnames) -> list[Column]:
    """Ordered-monoid fold: sort the tier-bounded struct list by first_us
    (comparator — structs with maps are not natively orderable), then
    fold adjacent spans, attributing each boundary interval to the
    earlier span's last_state."""
    out = []
    for c in colnames:
        if not sd_is_state_col(c):
            continue
        lst = F.array_sort(
            F.collect_list(c),
            lambda l, r: F.when(l["first_us"] < r["first_us"], -1)
            .when(l["first_us"] > r["first_us"], 1)
            .otherwise(0),
        )
        fold = F.aggregate(
            F.slice(lst, 2, F.size(lst) - 1),
            F.element_at(lst, 1),
            lambda acc, s: F.struct(
                acc["first_us"].alias("first_us"),
                s["last_us"].alias("last_us"),
                s["last_state"].alias("last_state"),
                add_counts(
                    add_counts(
                        acc["durs"],
                        F.map_from_arrays(
                            F.array(acc["last_state"]),
                            F.array(
                                (s["first_us"] - acc["last_us"]).cast("long")
                            ),
                        ),
                    ),
                    s["durs"],
                ).alias("durs"),
            ),
        )
        out.append(fold.alias(c))
    return out
