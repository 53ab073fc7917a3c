"""Count maps (`map<key, long>`): the key-union addition shared by the
map-valued tier-state families — categorical frequencies (engine/rollup.py),
heavy hitters, quantile sketches and duration-in-state. Addition of counts
is associative and commutative, so a fold of count maps is exact under any
merge order (as a multiset of entries; the map's internal key order is not,
so hashing canonicalises via sort_array(map_entries(m)))."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def empty_counts(key_type: str = "string") -> Column:
    return F.map_from_arrays(
        F.array().cast(f"array<{key_type}>"), F.array().cast("array<long>")
    )


def add_counts(a: Column, b: Column) -> Column:
    """Key-union addition of two count maps (a key missing on one side
    counts 0)."""
    return F.map_zip_with(
        a,
        b,
        lambda k, x, y: F.coalesce(x, F.lit(0).cast("long"))
        + F.coalesce(y, F.lit(0).cast("long")),
    )


def fold_counts(maps: Column, seed: Column) -> Column:
    """Every count map of the array `maps` added into `seed`."""
    return F.aggregate(maps, seed, add_counts)
