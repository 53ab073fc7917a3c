"""Incremental downstream consumer over the snapshot changelog
(engine/snapstore.diff / read_changes) — the CDC pattern a 100-TB serving
layer uses instead of re-scanning the tier store.

`IncrementalConvSummary` maintains a per-(conv_id, day) PARTIAL-aggregate
table keyed by the hourly tier's own partition unit. Each `refresh()`:

1. diffs the consumed hourly snapshot against the published one —
   partition-level, resolved from file inventories, no data read;
2. recomputes partials for exactly the added/rewritten days (partition-
   pruned scans) and overwrites those day partitions (dynamic overwrite);
3. drops partials of removed days (retention downstream-propagation);
4. records the consumed snapshot id (`atomic_write`, crash-safe).

The serving view (`read()`) aggregates the partials — correct under
arbitrary day REWRITES, not just appends, because a day's partial is
replaced wholesale; min/max/sum all compose from per-day partials. Refresh
cost is O(changed days), not O(history): one late turn re-rolls one day in
the pipeline and one day here. If the consumed snapshot has been expired
before the next refresh (GC raced the consumer), refresh degrades to a
full rebuild — correct, just not incremental; pin `expire(keep_last≥2)`
to consumer cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import observed_state
from .snapstore import SnapshotError, SnapStore
from .io import atomic_write, read_pointer, spread_partitions


class IncrementalConvSummary:
    def __init__(self, pipe, path: str):
        self.pipe = pipe
        self.path = path
        os.makedirs(path, exist_ok=True)

    @property
    def partials_path(self) -> str:
        return os.path.join(self.path, "partials")

    @property
    def _consumed_file(self) -> str:
        return os.path.join(self.path, "_CONSUMED")

    def consumed_id(self) -> str | None:
        return read_pointer(self._consumed_file)

    def _record_consumed(self, sid: str) -> None:
        atomic_write(self._consumed_file, sid)

    def _day_partials(self, hourly: DataFrame, days: list[str] | None) -> DataFrame:
        h = observed_state(hourly)
        if days is not None:
            h = h.filter(F.col("bucket_date").cast("string").isin(days))
        return h.groupBy(
            "conv_id", F.col("bucket_date").cast("string").alias("bucket_date")
        ).agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("token_sum").alias("token_sum"),
            F.min("token_min").alias("token_min"),
            F.max("token_max").alias("token_max"),
            F.max("bucket_start").alias("last_active"),
        )

    def refresh(self) -> dict:
        """Consume the hourly changelog up to the published snapshot.
        Returns {'mode': 'full'|'incremental'|'noop', 'days': [...]}."""
        store = SnapStore(self.pipe.tier_path("hourly"))
        current = store.current_id()
        if current is None:
            raise SnapshotError("hourly tier has no published snapshot")
        consumed = self.consumed_id()
        if consumed == current:
            return {"mode": "noop", "days": []}
        hourly = store.read(self.pipe.spark, as_of=current)
        if consumed is None or not os.path.isdir(store.snapshot_path(consumed)):
            # first build, or GC expired the consumed snapshot: full rebuild
            (
                spread_partitions(self._day_partials(hourly, None),
                                  ["bucket_date"])
                .write.partitionBy("bucket_date")
                .mode("overwrite")
                .parquet(self.partials_path)
            )
            self._record_consumed(current)
            return {"mode": "full", "days": []}
        d = store.diff(consumed, current)
        changed = sorted(
            p.split("=", 1)[1] for p in d["added"] + d["rewritten"]
        )
        if changed:
            (
                spread_partitions(self._day_partials(hourly, changed),
                                  ["bucket_date"])
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket_date")
                .mode("overwrite")
                .parquet(self.partials_path)
            )
        import shutil

        for p in d["removed"]:
            day = p.split("=", 1)[1]
            shutil.rmtree(
                os.path.join(self.partials_path, f"bucket_date={day}"),
                ignore_errors=True,
            )
        self._record_consumed(current)
        return {"mode": "incremental", "days": changed, "removed": len(d["removed"])}

    def read(self) -> DataFrame:
        """The serving view: per-conversation totals composed from day
        partials (sums/min/max compose; last_active = max over days)."""
        p = self.pipe.spark.read.parquet(self.partials_path)
        return p.groupBy("conv_id").agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("token_sum").alias("token_sum"),
            F.min("token_min").alias("token_min"),
            F.max("token_max").alias("token_max"),
            F.max("last_active").alias("last_active"),
        )


class IncrementalSlidingView:
    """M88: the trailing-window series (engine/sliding.sliding_state) as
    an incrementally-maintained, day-partitioned serving table.

    Sliding windows are the op where naive incremental maintenance goes
    WRONG: a changed hourly day D does not only invalidate D's output
    buckets — every bucket in the first (window−1) hours of the following
    day(s) reaches back into D through its RANGE frame. refresh() widens
    the dirty set accordingly (D .. D+⌈(W−1)/24⌉) and, symmetrically,
    recomputes each dirty output day from its own day plus the
    ⌈(W−1)/24⌉ preceding input days the frames look back into. Cost is
    O(changed days × (lookback+1)), never O(history); one late turn
    re-rolls one hourly day in the pipeline and at most 1+lookback
    output days here, each answer bit-identical to a full
    `sliding_state` recompute (the parity the tests pin).

    Same changelog discipline as IncrementalConvSummary: partition-level
    snapshot diff (no data read), dynamic day overwrites, removed days
    dropped AND their successors recomputed, crash-safe _CONSUMED
    pointer, GC race → full rebuild.
    """

    def __init__(self, pipe, path: str, window_hours: int, series_fn=None):
        """`series_fn` (M89) generalizes the view to ANY trailing-window
        family: a callable mapping (observed hourly rows) -> the series
        DataFrame (must carry bucket_start; window already bound). The
        invalidation machinery only depends on `window_hours` (how far a
        frame reaches back / a change spills forward), so the same
        refresh maintains sliding_hist_percentile, sliding_kmv_distinct,
        sliding_hh, ... tables. Default: the core sliding_state merge."""
        if window_hours <= 0:
            raise ValueError(f"window_hours must be positive: {window_hours}")
        self.pipe = pipe
        self.path = path
        self.series_fn = series_fn
        self.window_hours = int(window_hours)
        #: how many PRECEDING days a frame can reach into / a change can
        #: spill forward over
        self.lookback_days = (self.window_hours - 1 + 23) // 24
        os.makedirs(path, exist_ok=True)

    @property
    def series_path(self) -> str:
        return os.path.join(self.path, "sliding")

    @property
    def _consumed_file(self) -> str:
        return os.path.join(self.path, "_CONSUMED")

    def consumed_id(self) -> str | None:
        return read_pointer(self._consumed_file)

    def _record_consumed(self, sid: str) -> None:
        atomic_write(self._consumed_file, sid)

    def _sliding(self, hourly: DataFrame, out_days: list[str] | None):
        """Sliding series restricted to `out_days` output partitions,
        computed over those days plus the lookback input days each frame
        needs. None = full series."""
        from datetime import date, timedelta

        from .sliding import sliding_state

        h = observed_state(hourly)
        if out_days is not None:
            in_days = set()
            for d in out_days:
                d0 = date.fromisoformat(d)
                for k in range(self.lookback_days + 1):
                    in_days.add(str(d0 - timedelta(days=k)))
            h = h.filter(
                F.col("bucket_date").cast("string").isin(sorted(in_days))
            )
        build = self.series_fn or (
            lambda hh: sliding_state(hh, self.window_hours)
        )
        s = build(h).withColumn(
            "bucket_date", F.to_date("bucket_start").cast("string")
        )
        if out_days is not None:
            s = s.filter(F.col("bucket_date").isin(out_days))
        return s

    def _spill(self, days) -> set:
        """A changed input day dirties itself plus the following
        lookback_days output days."""
        from datetime import date, timedelta

        out = set()
        for d in days:
            d0 = date.fromisoformat(d)
            for k in range(self.lookback_days + 1):
                out.add(str(d0 + timedelta(days=k)))
        return out

    def refresh(self) -> dict:
        store = SnapStore(self.pipe.tier_path("hourly"))
        current = store.current_id()
        if current is None:
            raise SnapshotError("hourly tier has no published snapshot")
        consumed = self.consumed_id()
        if consumed == current:
            return {"mode": "noop", "days": []}
        hourly = store.read(self.pipe.spark, as_of=current)
        if consumed is None or not os.path.isdir(store.snapshot_path(consumed)):
            (
                spread_partitions(self._sliding(hourly, None),
                                  ["bucket_date"])
                .write.partitionBy("bucket_date")
                .mode("overwrite")
                .parquet(self.series_path)
            )
            self._record_consumed(current)
            return {"mode": "full", "days": []}
        d = store.diff(consumed, current)
        changed = [p.split("=", 1)[1] for p in d["added"] + d["rewritten"]]
        removed = [p.split("=", 1)[1] for p in d["removed"]]
        # removed input days spill forward too: successors' frames shrink
        dirty = sorted(self._spill(changed) | self._spill(removed))
        # an output day exists iff the input day still has observed rows
        live = {
            r["d"]
            for r in observed_state(hourly)
            .select(F.col("bucket_date").cast("string").alias("d"))
            .filter(F.col("d").isin(dirty))
            .distinct()
            .collect()
        }
        recompute = [x for x in dirty if x in live]
        if recompute:
            (
                spread_partitions(self._sliding(hourly, recompute),
                                  ["bucket_date"])
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket_date")
                .mode("overwrite")
                .parquet(self.series_path)
            )
        import shutil

        dropped = 0
        for day in dirty:
            if day in live:
                continue
            p = os.path.join(self.series_path, f"bucket_date={day}")
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                dropped += 1
        self._record_consumed(current)
        return {"mode": "incremental", "days": recompute, "dropped": dropped}

    def read(self) -> DataFrame:
        return self.pipe.spark.read.parquet(self.series_path).drop(
            "bucket_date"
        )
