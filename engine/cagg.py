"""User-DEFINED continuous aggregates over the tier changelog.

`IncrementalConvSummary` (engine/incremental.py) is one hard-coded
materialized view; `ContinuousAggregate` is the general machine: the user
declares GROUP KEYS (SQL expressions over hourly-tier rows) and AGGREGATES
drawn from a mergeable algebra, and the engine maintains the result
incrementally from the hourly snapshot changelog — the TimescaleDB
"continuous aggregate" / Materialize "materialized view" feature, Spark-
first.

Why an algebra instead of arbitrary SQL: the partials table is keyed by
(user keys, bucket_date) — the changelog's partition unit — so a refresh
can replace re-rolled days wholesale and the serving view re-merges across
days. That is only correct for aggregates that DECOMPOSE into
(per-day partial, cross-day merge, finalize):

    kind              partial state          merge            finalize
    sum(x)            sum                    sum              id
    count([x])        count                  sum              id
    min/max(x)        min/max                min/max          id
    avg(x)            (sum, count)           (sum, sum)       s / c
    approx_distinct(x) HLL sketch            hll_union_agg    estimate
    distinct_kmv(x,k) bottom-k hash array    union-truncate   size | (k-1)/U_k
    first(v, o)       min(struct(o, v))      min              .v
    last(v, o)        max(struct(o, v))      max              .v

first/last carry their order key in a struct so the lexicographic
(o, v) min/max is deterministic even under order-key ties — the same
carrier idea as the pipeline's firstlast tier state (engine/rollup.py
firstlast_partial_aggs), but per user-defined view. Exact unbounded
COUNT DISTINCT is deliberately NOT in the algebra (it does not merge
across days); `approx_distinct` is its mergeable HLL stand-in, and
`distinct_kmv(x, k)` (engine/kmv.py) is the stand-in that stays EXACT
while a group's cardinality is below k — the bottom-k distinct-hash
array merges across days by sorted-union-truncate, bit-deterministically
under any day grouping, and finalizes to the exact size below
saturation or the (k−1)/U_(k) estimate beyond.

Refresh protocol (identical consume-pointer discipline as
IncrementalConvSummary, plus spec versioning):

1. the aggregate DEFINITION is hashed into `_SPEC`; a changed definition
   (new key, new agg, changed filter) forces one full rebuild — schema
   evolution as a spec-token change, mirroring the pipeline's
   state-column migration idiom;
2. snapshot diff (inode inventory, no data reads) names the changed days;
3. partials for exactly those days are recomputed from partition-pruned
   scans and dynamically overwritten; removed days' partials are dropped
   (retention propagates downstream);
4. the consumed snapshot id commits last (write-temp-rename, crash-safe:
   a crash between overwrite and pointer re-consumes the same diff —
   idempotent because day partials are replaced wholesale).

Cost: O(changed days) per refresh, never O(history); an expired diff base
(GC raced the consumer) degrades to one correct full rebuild.

At 100 TB this is the serving pattern: dashboards and downstream jobs
read small pre-merged views that track petabyte tiers by consuming a
partition-level changelog, instead of re-scanning the store on a cron.

**Versioned partials and hierarchical views.** With ``versioned=True`` the
partials table itself becomes a SnapStore (CoW snapshot per refresh,
atomic pointer publish) — readers are never torn by a concurrent refresh,
AND the partials table now EMITS the same partition-level changelog it
consumes. That closes the composition loop: `HierarchicalAggregate`
declares a coarser view OVER a versioned parent view (TimescaleDB 2.9's
"hierarchical continuous aggregates"), re-merging the parent's mergeable
day-partial STATE — never re-touching the hourly tier — and refreshing
from the parent partials' snapshot diff with the identical consume-pointer
protocol. Day partials make this sound: every algebra kind's state merges
associatively (sum/count/min/max/avg-pairs, HLL register-max, KMV
sorted-union-truncate, twa ordered-monoid fold, qsk map-add, first/last
lexicographic structs), so child-of-parent == child-of-raw bit-exactly,
and a chain hourly→daily-view→monthly-view→quarterly-view refreshes each
level in O(that level's changed days). At 100 TB this is the dashboard
pyramid: one pass over the changed tier partitions feeds the finest view,
and every coarser view refreshes from the view below it at strictly
decreasing cost.

**Views outliving raw retention.** With ``retain_dropped=True`` an
upstream removal is split by WHY it happened, using the pipeline
manifest: days recorded as retention drops (stage='retention') FREEZE in
the view — their partials keep serving after the raw tier is gone, the
TimescaleDB rule that a continuous aggregate outlives its hypertable's
retention policy — while removals with no retention record (true
deletions, explicit ``drop_days``) still propagate, so right-to-be-
forgotten erasure is never silently retained for days the raw can still
re-roll. Full-rebuild fallbacks carry frozen days forward from the stored
partials when the spec is unchanged; a spec CHANGE cannot re-derive them
(the raw is gone) and reports them as ``lost_frozen`` instead of hiding
the loss. ``drop_days`` is the operator's erasure hatch for frozen days.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import HLL_LGK, observed_state
from .snapstore import SnapshotError, SnapStore
from .io import atomic_write, read_pointer, spread_partitions

KINDS = (
    "sum",
    "count",
    "min",
    "max",
    "avg",
    "approx_distinct",
    "distinct_kmv",
    "first",
    "last",
    "twa",
    "percentile_qsk",
)


class ContinuousAggregate:
    """A named, incrementally-maintained grouped aggregate over the hourly
    tier. `keys` is a dict {out_name: sql_expr} (or a list of plain column
    names); `aggs` is {out_name: (kind, *args)} with kinds from KINDS;
    `filter` is an optional SQL predicate applied to source rows (filled
    gap rows are always excluded — aggregation inputs are observed-only).
    """

    def __init__(
        self,
        pipe,
        path: str,
        *,
        keys,
        aggs: dict,
        filter: str | None = None,  # noqa: A002 - mirrors DataFrame.filter
        versioned: bool = False,
        retain_dropped: bool = False,
        lease: bool = True,
    ):
        self.pipe = pipe
        self.path = path
        self.keys = {k: k for k in keys} if isinstance(keys, (list, tuple)) else dict(keys)
        self.aggs = {k: tuple(v) for k, v in aggs.items()}
        self.filter = filter
        self.versioned = bool(versioned)
        self.retain_dropped = bool(retain_dropped)
        self.lease = bool(lease)
        self._validate()
        os.makedirs(path, exist_ok=True)

    def _validate(self) -> None:
        names = list(self.keys) + list(self.aggs)
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate output names: {sorted(names)}")
        if "bucket_date" in names:
            raise ValueError("'bucket_date' is reserved (the changelog partition unit)")
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind not in KINDS:
                raise ValueError(f"{name}: unknown agg kind {kind!r} (valid: {KINDS})")
            need = {
                "count": (1, 2),
                "first": (3, 3),
                "last": (3, 3),
                "distinct_kmv": (3, 3),
                "percentile_qsk": (3, 3),
            }.get(kind, (2, 2))
            if not (need[0] <= len(spec) <= need[1]):
                raise ValueError(f"{name}: {kind} expects {need} spec fields, got {len(spec)}")

    # -- spec versioning -------------------------------------------------
    def spec_token(self) -> str:
        blob = json.dumps(
            {"keys": self.keys, "aggs": {k: list(v) for k, v in self.aggs.items()},
             "filter": self.filter,
             # storage-layout flag: flipping it forces one full rebuild into
             # the new layout (plain dir <-> snapshot store)
             **({"versioned": True} if self.versioned else {})},
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    @property
    def partials_path(self) -> str:
        return os.path.join(self.path, "partials")

    @property
    def partials_store(self) -> SnapStore:
        """The versioned partials table (``versioned=True`` only) — the
        changelog seam a `HierarchicalAggregate` child consumes."""
        if not self.versioned:
            raise ValueError("partials_store requires versioned=True")
        return SnapStore(self.partials_path)

    def _read_partials(self) -> DataFrame:
        if self.versioned:
            return self.partials_store.read(self.pipe.spark)
        return self.pipe.spark.read.parquet(self.partials_path)

    def _partial_days(self) -> set[str]:
        """Days currently present in the stored partials (directory
        listing — metadata-scale)."""
        root = self.partials_path
        if self.versioned:
            sid = self.partials_store.current_id()
            if sid is None:
                return set()
            root = self.partials_store.snapshot_path(sid)
        try:
            return {
                d.split("=", 1)[1]
                for d in os.listdir(root)
                if d.startswith("bucket_date=")
            }
        except FileNotFoundError:
            return set()

    def _write_full(self, partials: DataFrame) -> None:
        if not self.versioned:
            (
                spread_partitions(partials, ["bucket_date"])
                .write.partitionBy("bucket_date")
                .mode("overwrite")
                .parquet(self.partials_path)
            )
            return
        store = self.partials_store
        sid = store.begin("full")
        try:
            snap = store.snapshot_path(sid)
            # the CoW tree inherits the prior snapshot's days; a FULL
            # rebuild must not leave days the new spec no longer produces
            for d in os.listdir(snap):
                if "=" in d and os.path.isdir(os.path.join(snap, d)):
                    shutil.rmtree(os.path.join(snap, d))
            (
                spread_partitions(partials, ["bucket_date"])
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket_date")
                .mode("overwrite")
                .parquet(snap)
            )
        except Exception:
            store.abort(sid)
            raise
        store.publish(sid)

    def _write_incremental(
        self, partials: DataFrame | None, removed_days: list[str]
    ) -> None:
        if not self.versioned:
            if partials is not None:
                (
                    spread_partitions(partials, ["bucket_date"])
                    .write.option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket_date")
                    .mode("overwrite")
                    .parquet(self.partials_path)
                )
            for day in removed_days:
                shutil.rmtree(
                    os.path.join(self.partials_path, f"bucket_date={day}"),
                    ignore_errors=True,
                )
            return
        store = self.partials_store
        sid = store.begin("refresh")
        try:
            snap = store.snapshot_path(sid)
            if partials is not None:
                (
                    spread_partitions(partials, ["bucket_date"])
                    .write.option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket_date")
                    .mode("overwrite")
                    .parquet(snap)
                )
            for day in removed_days:
                shutil.rmtree(
                    os.path.join(snap, f"bucket_date={day}"), ignore_errors=True
                )
        except Exception:
            store.abort(sid)
            raise
        store.publish(sid)

    def consumed_id(self) -> str | None:
        """The upstream snapshot id this view last reconciled to — the
        consumer protocol `expire_snapshots(consumers=...)` pins so GC
        can't silently degrade the next refresh to a full rebuild."""
        return self._pointer("_CONSUMED")

    def deferred_days(self) -> list[str]:
        """Days a budgeted refresh left pending (the `_DEFERRED` ledger).
        Unlike the pipeline's budgeted backfill — which must NOT advance
        its reconcile pointer, because fingerprints are its only memory —
        a view CAN advance `_CONSUMED` past deferred days: the ledger is
        the memory, and a deferred day is always recomputed WHOLESALE
        from whatever snapshot is current when its turn comes, so a later
        recompute is never stale. Advancing the pointer also keeps GC
        pinning cheap: only the latest consumed snapshot needs to
        survive, not the pre-deferral base."""
        raw = self._pointer("_DEFERRED")
        return json.loads(raw) if raw else []

    def _retention_days(self) -> set[str]:
        """Days the PIPELINE manifest records as retention-dropped from the
        hourly tier (stage='retention' rows) — the discrimination
        `retain_dropped` needs: an upstream removal caused by retention
        freezes in the view, any other removal (true deletion, explicit
        `drop_days`) propagates. Valid at every hierarchy level because
        bucket_date is preserved down the chain."""
        return {
            k.split("=", 1)[1]
            for k in self.pipe._retention_dropped("hourly")
        }

    def _pointer(self, name: str) -> str | None:
        return read_pointer(os.path.join(self.path, name))

    def _record(self, name: str, value: str) -> None:
        atomic_write(os.path.join(self.path, name), value)

    # -- the algebra -----------------------------------------------------
    def _partial_aggs(self) -> list:
        out = []
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind == "sum":
                out.append(F.sum(F.expr(spec[1])).alias(name))
            elif kind == "count":
                e = F.count(F.expr(spec[1])) if len(spec) > 1 else F.count(F.lit(1))
                out.append(e.alias(name))
            elif kind in ("min", "max"):
                out.append(getattr(F, kind)(F.expr(spec[1])).alias(name))
            elif kind == "avg":
                out.append(F.sum(F.expr(spec[1])).alias(f"{name}__s"))
                out.append(F.count(F.expr(spec[1])).alias(f"{name}__c"))
            elif kind == "approx_distinct":
                out.append(
                    F.hll_sketch_agg(F.expr(spec[1]), F.lit(HLL_LGK)).alias(name)
                )
            elif kind == "percentile_qsk":
                # key-union-add the day's hourly sketch maps
                # (engine/qsketch.py); exact multiset composition, the
                # quantile is finalized from the merged map
                from .qsketch import qsk_fold_agg

                out.append(qsk_fold_agg(spec[1]).alias(name))
            elif kind == "twa":
                # fold the day's hourly twa structs (engine/twa.py): the
                # ordered-monoid day partial composes across days by the
                # SAME fold, so the view's time-weighted average equals a
                # raw lead()-integral over the whole group span. Requires
                # the pipeline to carry twa_cols for the named state col.
                from .twa import twa_fold_agg

                out.append(twa_fold_agg(spec[1]).alias(name))
            elif kind == "distinct_kmv":
                # bottom-k of the day's distinct value hashes (engine/kmv.py):
                # the mergeable COUNT DISTINCT stand-in that is EXACT while a
                # group's per-view cardinality stays below k. The when-guard
                # yields NULL on null values (collect_set drops them) —
                # xxhash64(NULL) would otherwise hash the seed and count
                # nulls as a value.
                e = F.expr(spec[1])
                out.append(
                    F.slice(
                        F.array_sort(
                            F.collect_set(F.when(e.isNotNull(), F.xxhash64(e)))
                        ),
                        1,
                        int(spec[2]),
                    ).alias(name)
                )
            else:  # first / last: lexicographic (order, value) carrier struct
                carrier = F.struct(
                    F.expr(spec[2]).alias("o"), F.expr(spec[1]).alias("v")
                )
                fn = F.min if kind == "first" else F.max
                out.append(fn(carrier).alias(name))
        return out

    def _merge_aggs(self) -> list:
        out = []
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind in ("sum", "count"):
                out.append(F.sum(name).alias(name))
            elif kind in ("min", "first"):
                out.append(F.min(name).alias(name))
            elif kind in ("max", "last"):
                out.append(F.max(name).alias(name))
            elif kind == "avg":
                out.append(F.sum(f"{name}__s").alias(f"{name}__s"))
                out.append(F.sum(f"{name}__c").alias(f"{name}__c"))
            elif kind == "twa":
                from .twa import twa_fold_agg

                out.append(twa_fold_agg(name).alias(name))
            elif kind == "percentile_qsk":
                from .qsketch import qsk_fold_agg

                out.append(qsk_fold_agg(name).alias(name))
            elif kind == "distinct_kmv":
                # sorted-union-truncate: exact-deterministic under any
                # day grouping (engine/kmv.py)
                out.append(
                    F.slice(
                        F.array_sort(
                            F.array_distinct(F.flatten(F.collect_list(name)))
                        ),
                        1,
                        int(spec[2]),
                    ).alias(name)
                )
            else:  # approx_distinct
                out.append(F.hll_union_agg(name).alias(name))
        return out

    def _finalize(self, merged: DataFrame) -> DataFrame:
        cols = [F.col(k) for k in self.keys]
        rep_pass: list[str] = []
        for name, spec in self.aggs.items():
            kind = spec[0]
            if kind == "percentile_qsk":
                # two steps: the rank walk yields the BUCKET KEY (a pure
                # column fold), the representative-value mapping needs the
                # key under a name — applied in a second projection
                from .qsketch import qsk_percentile_key_expr

                cols.append(
                    qsk_percentile_key_expr(name, float(spec[2])).alias(name)
                )
                rep_pass.append(name)
                continue
            if kind == "avg":
                cols.append(
                    (F.col(f"{name}__s").cast("double") / F.col(f"{name}__c").cast("double"))
                    .alias(name)
                )
            elif kind == "approx_distinct":
                cols.append(F.hll_sketch_estimate(name).alias(name))
            elif kind == "distinct_kmv":
                from .kmv import kmv_estimate

                cols.append(kmv_estimate(F.col(name), int(spec[2])).alias(name))
            elif kind == "twa":
                from .twa import twa_serve_cols

                cols.append(twa_serve_cols(F.col(name))["twa"].alias(name))
            elif kind in ("first", "last"):
                cols.append(F.col(name)["v"].alias(name))
            else:
                cols.append(F.col(name))
        out = merged.select(*cols)
        if rep_pass:
            from .qsketch import qsk_rep_expr

            out = out.withColumns(
                {name: qsk_rep_expr(name) for name in rep_pass}
            )
        return out

    # -- refresh ---------------------------------------------------------
    def _locked(self, fn):
        """Single-writer mutual exclusion per view (the same RunLease idiom
        as TierPipeline.run): concurrent refreshes of one view would race
        the partials overwrite against the pointer commit. Readers
        (read / read_realtime) never take the lease."""
        if not self.lease:
            return fn()
        from .lease import RunLease

        lock = RunLease(self.path).acquire()
        try:
            return fn()
        finally:
            lock.release()

    def _source(self, store: SnapStore, sid: str) -> DataFrame:
        df = observed_state(store.read(self.pipe.spark, as_of=sid))
        if self.filter:
            df = df.filter(self.filter)
        return df

    def _day_partials(self, src: DataFrame, days: list[str] | None) -> DataFrame:
        if days is not None:
            src = src.filter(F.col("bucket_date").cast("string").isin(days))
        keyed = src.withColumns({k: F.expr(e) for k, e in self.keys.items()})
        return keyed.groupBy(
            *self.keys, F.col("bucket_date").cast("string").alias("bucket_date")
        ).agg(*self._partial_aggs())

    def _upstream_store(self) -> SnapStore:
        """The snapshot store this view consumes (the hourly tier here; a
        hierarchical child overrides with its parent's partials store)."""
        return SnapStore(self.pipe.tier_path("hourly"))

    def refresh(
        self,
        budget: int | None = None,
        window: tuple[str | None, str | None] | None = None,
    ) -> dict:
        """Consume the upstream changelog up to the published snapshot.
        Returns {'mode': 'full'|'incremental'|'noop', 'days': [...]}.
        Lease-serialized per view path (LeaseHeldError on contention).

        With ``budget=K`` an incremental refresh recomputes at most the K
        OLDEST pending days and defers the rest to the `_DEFERRED` ledger
        (TimescaleDB refresh policies process bounded windows for the
        same reason: a huge backlog must not monopolize the cluster).
        With ``window=(lo, hi)`` (day strings, lo inclusive / hi
        exclusive, either side None for unbounded — TimescaleDB's
        `refresh_continuous_aggregate(start, end)`) only pending days
        INSIDE the window recompute now; days outside it go to the same
        ledger, so they are never silently skipped — a later unbounded
        refresh (or realtime read) still reconciles them. Day removals
        are NEVER budgeted or windowed — deferring a deletion is a
        correctness hazard (erasure must not lag) — and a full rebuild
        ignores both bounds (it is one overwrite either way). The report
        carries ``deferred``; loop until it is empty to drain."""
        if budget is not None and budget < 1:
            raise ValueError(f"budget must be >= 1, got {budget}")
        if window is not None and window[0] is not None and window[1] is not None \
                and window[0] >= window[1]:
            raise ValueError(f"empty refresh window {window}")
        return self._locked(lambda: self._refresh_impl(budget, window))

    def _refresh_impl(self, budget=None, window=None) -> dict:
        store = self._upstream_store()
        current = store.current_id()
        if current is None:
            raise SnapshotError(f"{store.root}: no published upstream snapshot")
        consumed = self._pointer("_CONSUMED")
        deferred = self.deferred_days()
        spec_now, spec_then = self.spec_token(), self._pointer("_SPEC")
        if consumed == current and spec_then == spec_now and not deferred:
            return {"mode": "noop", "days": []}
        if (
            consumed is None
            or spec_then != spec_now
            or not os.path.isdir(store.snapshot_path(consumed))
        ):
            # first build, spec evolution, or GC expired the diff base
            new = self._day_partials(self._source(store, current), None)
            out = {"mode": "full", "days": []}
            if self.retain_dropped and consumed is not None:
                # a full rebuild reads only the CURRENT tier — frozen days
                # (retention-dropped upstream) exist nowhere else, so carry
                # their stored partials forward when the spec still matches;
                # a spec CHANGE cannot re-derive them (the raw is gone) —
                # they are lost, and the report says so instead of hiding it
                frozen = sorted(self._retention_days() & self._partial_days())
                if frozen and spec_then == spec_now:
                    old = (
                        self._read_partials()
                        .withColumn(
                            "bucket_date", F.col("bucket_date").cast("string")
                        )
                        .filter(F.col("bucket_date").isin(frozen))
                    )
                    if not self.versioned:
                        # plain mode overwrites the directory the carried
                        # rows are read from — materialize them first
                        # (versioned mode is CoW-safe: read published,
                        # write staged)
                        old = old.localCheckpoint()
                    new = new.unionByName(old)
                    out["retained"] = len(frozen)
                elif frozen:
                    out["lost_frozen"] = frozen
            self._write_full(new)
            self._record("_SPEC", spec_now)
            self._record("_DEFERRED", "[]")  # a full rebuild covers all days
            self._record("_CONSUMED", current)
            return out
        d = store.diff(consumed, current)
        # layout-agnostic: top-level partition dirs are bucket_date=D in
        # both the flat and the day/conv_bucket evolved layout.
        # Deferred days join the pending set; a deferred day the diff now
        # REMOVES leaves the ledger through the removal handling below
        # (true deletion propagates; a retention drop freezes whatever
        # partial is stored — a deferred change overtaken by retention is
        # lost with the raw, the same lazy-refresh race TimescaleDB has).
        removed_all = {p.split("=", 1)[1] for p in d["removed"]}
        changed = sorted(
            ({p.split("=", 1)[1] for p in d["added"] + d["rewritten"]}
             | set(deferred)) - removed_all
        )
        removed = sorted(removed_all)
        retained: list[str] = []
        if removed and self.retain_dropped:
            # TimescaleDB semantics: the view OUTLIVES raw retention —
            # retention-dropped upstream days freeze in the view; removals
            # with no retention record (true deletions) still propagate
            frozen = self._retention_days()
            retained = [x for x in removed if x in frozen]
            removed = [x for x in removed if x not in frozen]
        left: list[str] = []
        if window is not None:
            lo, hi = window
            out_of_window = [
                x for x in changed
                if (lo is not None and x < lo) or (hi is not None and x >= hi)
            ]
            changed = [x for x in changed if x not in set(out_of_window)]
            left.extend(out_of_window)
        if budget is not None and len(changed) > budget:
            # oldest-first, like the pipeline's budgeted backfill
            changed, left = changed[:budget], sorted(changed[budget:] + left)
        if changed or removed:
            self._write_incremental(
                self._day_partials(self._source(store, current), changed)
                if changed
                else None,
                removed,
            )
        # ledger before pointer: a crash between the two re-consumes the
        # same diff UNION the recorded leftovers — extra work, never loss
        self._record("_DEFERRED", json.dumps(left))
        self._record("_CONSUMED", current)
        return {
            "mode": "incremental",
            "days": changed,
            "removed": len(removed),
            "retained": len(retained),
            "deferred": left,
        }

    # -- serving ---------------------------------------------------------
    def read(self) -> DataFrame:
        """The serving view: user keys + finalized aggregates, merged from
        day partials (one small groupBy over the partials table — O(view
        rows), never O(tier history))."""
        p = self._read_partials()
        return self._finalize(p.groupBy(*self.keys).agg(*self._merge_aggs()))

    def read_realtime(self) -> DataFrame:
        """The view with upstream data that arrived SINCE the last refresh
        folded in at serve time — TimescaleDB "real-time aggregates":
        stored partials for still-valid days ∪ freshly-computed partials
        for the days the upstream changelog names as changed since the
        consumed snapshot, merged in one groupBy. Strictly read-only: no
        partials write, no pointer advance — a read replica without write
        permission serves a fresh view, and the next refresh() still
        consumes the full diff. Degrades to a full on-the-fly compute when
        there is no usable base (first read, spec change, expired diff
        base); equals refresh()-then-read() bit-exactly in every case.

        For a hierarchical child this folds the IMMEDIATE upstream's
        (the parent partials') changelog only — a lagging parent must
        itself refresh or be read via its own read_realtime.
        """
        store = self._upstream_store()
        current = store.current_id()
        if current is None:
            raise SnapshotError(f"{store.root}: no published upstream snapshot")
        consumed = self._pointer("_CONSUMED")
        deferred = self.deferred_days()
        spec_ok = self._pointer("_SPEC") == self.spec_token()
        if consumed == current and spec_ok and not deferred:
            return self.read()
        if (
            consumed is None
            or not spec_ok
            or not os.path.isdir(store.snapshot_path(consumed))
        ):
            merged = self._day_partials(self._source(store, current), None)
            return self._finalize(
                merged.groupBy(*self.keys).agg(*self._merge_aggs())
            )
        # deferred days (budgeted refresh leftovers) are stale in the
        # stored partials — fold them like changelog days: recomputed
        # live, replaced wholesale in the merge
        d = (
            store.diff(consumed, current)
            if consumed != current
            else {"added": [], "rewritten": [], "removed": []}
        )
        removed_days = {p.split("=", 1)[1] for p in d["removed"]}
        changed = sorted(
            ({p.split("=", 1)[1] for p in d["added"] + d["rewritten"]}
             | set(deferred)) - removed_days
        )
        if removed_days and self.retain_dropped:
            # same discrimination as refresh(): retention-dropped days keep
            # serving from their frozen stored partials
            removed_days -= self._retention_days()
        dropped = sorted(removed_days | set(changed))
        p = self._read_partials().withColumn(
            "bucket_date", F.col("bucket_date").cast("string")
        )
        if dropped:
            # rewritten days are replaced wholesale, removed days vanish —
            # the same day-granular semantics a refresh would apply
            p = p.filter(~F.col("bucket_date").isin(dropped))
        if changed:
            p = p.unionByName(
                self._day_partials(self._source(store, current), changed)
            )
        return self._finalize(p.groupBy(*self.keys).agg(*self._merge_aggs()))

    # -- lifecycle ---------------------------------------------------------
    def drop_days(self, days: list[str]) -> dict:
        """Explicitly remove day partials from THIS view — the operator's
        escape hatch for erasure on retained-frozen days that no upstream
        rewrite can reach (the raw is retention-dropped, so a forget
        cannot re-roll them through the view). Versioned views emit the
        removal on their changelog, but a `retain_dropped` CHILD will
        still freeze a day the pipeline manifest marks as retention-
        dropped — call drop_days on every level of a hierarchy."""
        days = sorted(set(days))

        def _impl():
            self._write_incremental(None, days)
            return {"removed": len(days)}

        return self._locked(_impl)

    # -- composition -------------------------------------------------------
    def child(
        self,
        path: str,
        *,
        keys,
        aggs,
        filter: str | None = None,  # noqa: A002
        versioned: bool = False,
        retain_dropped: bool = False,
        lease: bool = True,
    ) -> "HierarchicalAggregate":
        """Declare a coarser view OVER this one (requires
        ``versioned=True`` on self): keys are SQL expressions over THIS
        view's key columns and ``bucket_date``; aggs name this view's
        aggregates to adopt. See `HierarchicalAggregate`."""
        return HierarchicalAggregate(
            self, path, keys=keys, aggs=aggs, filter=filter,
            versioned=versioned, retain_dropped=retain_dropped, lease=lease,
        )


class HierarchicalAggregate(ContinuousAggregate):
    """A continuous aggregate over ANOTHER continuous aggregate
    (TimescaleDB 2.9 "hierarchical continuous aggregates"): the child
    declares coarser keys (SQL expressions over the parent's KEY columns
    and ``bucket_date``) and ADOPTS a subset of the parent's aggregates —
    it re-merges the parent's mergeable day-partial STATE, never touching
    the hourly tier, and refreshes from the parent partials' snapshot
    changelog with the identical consume-pointer protocol.

    ``aggs`` is a list of parent aggregate names to adopt, or a dict
    ``{child_name: parent_name}`` (rename), or ``{child_name:
    (parent_name, q)}`` for ``percentile_qsk`` only — the sketch state
    answers ANY quantile, so a child may finalize a different ``q`` than
    its parent (parent p50, child p99, one shared state).

    Correctness rests on day partials being a mergeable algebra: every
    kind's state composes associatively, so child-of-parent equals
    child-of-raw bit-exactly under any refresh schedule. The parent must
    be ``versioned=True`` (its partials table emits the changelog);
    children may themselves be versioned, giving arbitrary-depth view
    pyramids each refreshing in O(its own changed days).
    """

    def __init__(
        self,
        parent: ContinuousAggregate,
        path: str,
        *,
        keys,
        aggs,
        filter: str | None = None,  # noqa: A002 - over parent KEY columns
        versioned: bool = False,
        retain_dropped: bool = False,
        lease: bool = True,
    ):
        if not parent.versioned:
            raise ValueError(
                "hierarchical aggregate requires a versioned=True parent "
                "(the parent partials table must emit a snapshot changelog)"
            )
        self.parent = parent
        adoption = (
            {n: n for n in aggs} if isinstance(aggs, (list, tuple)) else dict(aggs)
        )
        specs: dict[str, tuple] = {}
        for child, ref in adoption.items():
            if isinstance(ref, (tuple, list)):
                pname, q = ref
                pspec = parent.aggs.get(pname)
                if pspec is None:
                    raise ValueError(f"{child}: parent has no aggregate {pname!r}")
                if pspec[0] != "percentile_qsk":
                    raise ValueError(
                        f"{child}: finalize override only valid for "
                        f"percentile_qsk (parent {pname!r} is {pspec[0]!r})"
                    )
                specs[child] = (pspec[0], pspec[1], float(q))
                adoption[child] = pname
            else:
                pspec = parent.aggs.get(ref)
                if pspec is None:
                    raise ValueError(f"{child}: parent has no aggregate {ref!r}")
                specs[child] = pspec
        # child aliases ride alongside the parent KEY columns in the
        # pre-group select — a collision would silently shadow a key
        parent_ns = set(parent.keys) | {"bucket_date"}
        for child, pname in adoption.items():
            if child != pname and child in parent_ns:
                raise ValueError(
                    f"{child}: renamed adoption collides with a parent key column"
                )
        self.adopt = adoption
        super().__init__(
            parent.pipe, path, keys=keys, aggs=specs,
            filter=filter, versioned=versioned,
            retain_dropped=retain_dropped, lease=lease,
        )

    def spec_token(self) -> str:
        blob = json.dumps(
            {"keys": self.keys, "adopt": self.adopt, "filter": self.filter,
             "aggs": {k: list(v) for k, v in self.aggs.items()},
             "parent": self.parent.spec_token(),
             **({"versioned": True} if self.versioned else {})},
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def _upstream_store(self) -> SnapStore:
        return self.parent.partials_store

    def _source(self, store: SnapStore, sid: str) -> DataFrame:
        # parent partials are already observed-only (the parent excluded
        # filled rows); the child filter is over parent key columns
        df = store.read(self.pipe.spark, as_of=sid)
        if self.filter:
            df = df.filter(self.filter)
        return df

    def _day_partials(self, src: DataFrame, days: list[str] | None) -> DataFrame:
        if days is not None:
            src = src.filter(F.col("bucket_date").cast("string").isin(days))
        # aliased select, not rename: one parent state column may feed TWO
        # child aggregates (the shared-sketch q-override case), and
        # non-adopted parent aggregates drop out here for free
        sel = [F.col(k) for k in self.parent.keys] + [F.col("bucket_date")]
        for child, pname in self.adopt.items():
            if self.aggs[child][0] == "avg":
                sel.append(F.col(f"{pname}__s").alias(f"{child}__s"))
                sel.append(F.col(f"{pname}__c").alias(f"{child}__c"))
            else:
                sel.append(F.col(pname).alias(child))
        keyed = src.select(*sel).withColumns(
            {k: F.expr(e) for k, e in self.keys.items()}
        )
        # the child day partial IS the parent states merged within the day:
        # the same _merge_aggs that later folds across days — associativity
        # is what makes the two-level fold equal the direct build
        return keyed.groupBy(
            *self.keys, F.col("bucket_date").cast("string").alias("bucket_date")
        ).agg(*self._merge_aggs())
