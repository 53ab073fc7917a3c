"""TierEngine — the one front door a user drives the engine through.

Everything here is a thin, documented delegation to the real modules (the
pipeline, the rewrite family, retention, the result cache); it exists so
the common lifecycle reads as one object:

    eng = TierEngine(spark, root, salted=True, snapshots=True,
                     freq_cols=["tool"])
    eng.run(t0)                                   # tiers + chunks
    eng.serve_range(lo, hi)                        # exact agg from tiers
    eng.serve_gapfill(lo, hi)                      # LOCF/linear fill on read
    eng.serve_range_topk(lo, hi, "tool")           # exact heavy hitters
    eng.serve_realtime(lo, hi, watermark, t0_live) # straddles the watermark
    eng.sql("SELECT * FROM tiers_monthly ...")     # SQL over the tiers
    df, hit = eng.cached("dash_q1", lambda: ...)   # snapshot-keyed reuse
    eng.drop_hourly_before("2026-02-01")           # retention
    eng.rollback(run_id)                           # undo to a run barrier
    eng.forget(["conv-000007"], t0=t0)             # right-to-be-forgotten
    eng.replica("/dr/site-b").sync()               # diff-only DR replication

Every serving call is tier-composed (O(tier rows), partition-pruned) and
oracle/pytest-verified in its home module; see engine/rewrite.py,
engine/resultcache.py, engine/retention.py for semantics and scale notes.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import rewrite as _rw
from .pipeline import TierPipeline
from .resultcache import ResultCache
from .rollup import tier_view


class TierEngine:
    TIERS = ("hourly", "daily", "monthly")

    def __init__(self, spark: SparkSession, root: str, **pipeline_opts):
        self.spark = spark
        self.root = root
        self.pipeline = TierPipeline(spark, root, **pipeline_opts)
        self._cache = ResultCache(spark, root)

    # -- ingest / lifecycle ---------------------------------------------------

    def run(
        self,
        t0: DataFrame,
        run_id: str | None = None,
        stages=None,
        budget: int | None = None,
    ) -> dict:
        """One batch run: dedup/mask → hourly → daily → monthly → compress,
        manifest-gated per partition (only changed work re-rolls),
        serialized by the root's writer lease. `budget` bounds each stage
        to its N oldest pending partitions (bounded-increment backfill);
        deferred work is reported in the result's `left` map."""
        return self.pipeline.run(t0, run_id=run_id, stages=stages, budget=budget)

    def backfill(self, t0: DataFrame, budget: int, max_runs: int = 1000) -> list[dict]:
        """Budgeted runs until nothing is pending — the bounded historical
        backfill loop (each increment is crash-recoverable and publishes a
        consistent prefix)."""
        return self.pipeline.run_until_complete(t0, budget, max_runs=max_runs)

    def tier(self, name: str) -> DataFrame:
        return self.pipeline.read_tier(name)

    def view(self, name: str) -> DataFrame:
        """FIXTURES.md tier-row shape (per-metric sum/count/min/max/mean)."""
        return tier_view(self.pipeline.read_tier(name), name)

    def drop_hourly_before(self, older_than: str, run_id: str = "retention"):
        from .retention import drop_hourly_partitions, droppable_hourly_days

        self.pipeline._migrate_chunks(run_id)
        days = droppable_hourly_days(self.pipeline, older_than)
        return drop_hourly_partitions(self.pipeline, days, run_id=run_id)

    def status(self) -> dict:
        """L13 operational snapshot of the root — METADATA-SCALE ONLY (one
        driver-side manifest read, directory pointer probes, zero data
        scans; the manifest is already memoized as a local relation).
        What an operator pages through before touching a production root:

        - ``stages``: per data stage, total commits, live distinct
          partitions (sentinel deletions/rollbacks excluded), sentinel
          count, last run id and commit time.
        - ``lifecycle``: retention / frozen-month / forget audit rows and
          the number of sealed cross-table run barriers.
        - ``snapshots``: per table, the current snapshot
          id, how many snapshots are retained (expire/GC pressure), and
          named tag pins.
        - ``tombstones``: forgotten conversation count (right-to-be-
          forgotten backlog indicator), read driver-side via pyarrow.
        """
        from .checkpoint import Manifest

        pdf = self.pipeline.manifest.read_pandas()
        stages: dict = {}
        data = pdf[~pdf.stage.isin(Manifest.PRESERVED_STAGES)]
        for stage, g in data.groupby("stage"):
            g = g.sort_values("committed_at")
            latest = g.groupby("partition_key").tail(1)
            sen = latest.input_snapshot_id.isin(Manifest.SENTINELS)
            stages[str(stage)] = {
                "commits": int(len(g)),
                "partitions": int((~sen).sum()),
                "sentinels": int(sen.sum()),
                "last_run": str(g.run_id.iloc[-1]),
                "last_at": str(g.committed_at.iloc[-1]),
            }
        out: dict = {
            "stages": stages,
            "lifecycle": {
                "retention_rows": int((pdf.stage == "retention").sum()),
                "frozen_months": int((pdf.stage == "frozen").sum()),
                "forget_rows": int((pdf.stage == "forget").sum()),
                "run_barriers": int(pdf[pdf.stage == "snapshot"].run_id.nunique()),
            },
        }
        snaps: dict = {}
        for name in self.pipeline.TABLE_NAMES:
            store = self.pipeline._store(self.pipeline.table_path(name))
            cur = store.current_id()
            snaps[name] = {
                "current": cur,
                "retained": len(store.snapshot_ids()) if cur else 0,
                "tags": store.tags(),
            }
        out["snapshots"] = snaps
        tomb_dir = os.path.join(self.root, "_tombstones")
        n_tomb = 0
        if os.path.isdir(tomb_dir):
            import pyarrow.parquet as pq

            for f in os.listdir(tomb_dir):
                if f.endswith(".parquet"):
                    n_tomb += pq.read_table(
                        os.path.join(tomb_dir, f)
                    ).num_rows
        out["tombstones"] = n_tomb
        return out

    def compact_manifest(self, prune_superseded: bool = False) -> dict:
        """Fold the manifest's accumulated per-commit files into one
        (lease-serialized). With prune_superseded, drop data-stage rows a
        newer commit for the same partition supersedes; run-barrier /
        retention / freeze / forget history always survives."""
        return self.pipeline.compact_manifest(prune_superseded)

    def rollback(self, run_id: str) -> None:
        """Pointer-flip every table to a sealed run barrier and re-arm
        resume (engine/pipeline.py rollback_run)."""
        self.pipeline.rollback_run(run_id)

    # -- tier-composed serving (§4.3 rewrite family) ---------------------------

    def _tiers(self) -> dict[str, DataFrame]:
        return {t: self.pipeline.read_tier(t) for t in self.TIERS}

    def explain_range(
        self,
        lo: datetime,
        hi: datetime,
        watermark: datetime | None = None,
    ) -> dict:
        """Planner transparency for the §4.3 rewrite family: the greedy
        calendar decomposition a range request will be served with —
        which tier covers which span, how many tier rows each span costs
        at most (per conversation: hours/days/months in the span), and
        the raw tail if a materialization `watermark` splits the range
        (rewrite_range_agg_realtime). Pure metadata — no Spark job."""
        from .rewrite import split_range

        def spans_of(a: datetime, b: datetime) -> list[dict]:
            out = []
            for tier, s, e in split_range(a, b):
                hours = int((e - s).total_seconds()) // 3600
                rows = {"hourly": hours, "daily": hours // 24}.get(
                    tier, (e.year - s.year) * 12 + e.month - s.month
                )
                out.append(
                    {
                        "tier": tier,
                        "lo": s.isoformat(),
                        "hi": e.isoformat(),
                        "rows_per_conv": rows,
                    }
                )
            return out

        if watermark is None or watermark >= hi:
            spans, tail = spans_of(lo, hi), None
        elif watermark <= lo:
            spans, tail = [], {"lo": lo.isoformat(), "hi": hi.isoformat()}
        else:
            spans = spans_of(lo, watermark)
            tail = {"lo": watermark.isoformat(), "hi": hi.isoformat()}
        return {
            "spans": spans,
            "raw_tail": tail,
            "tier_rows_per_conv": sum(s["rows_per_conv"] for s in spans),
            "raw_hours": (
                0
                if tail is None
                else int(
                    (
                        datetime.fromisoformat(tail["hi"])
                        - datetime.fromisoformat(tail["lo"])
                    ).total_seconds()
                )
                // 3600
            ),
        }

    def serve_range(self, lo: datetime, hi: datetime) -> DataFrame:
        """Exact per-conversation (n_turns, token sum/min/max, tool_sum)
        over an hour-aligned [lo, hi) from tier rows only."""
        return _rw.rewrite_range_agg(self._tiers(), lo, hi)

    def serve_range_variance(self, lo: datetime, hi: datetime) -> DataFrame:
        """Exact range variance from Σx² state (needs sumsq_cols)."""
        return _rw.rewrite_range_variance(self._tiers(), lo, hi)

    def serve_range_distinct(
        self, lo: datetime, hi: datetime, col: str
    ) -> DataFrame:
        """Approx range distinct from HLL state (needs sketch_cols)."""
        return _rw.rewrite_range_distinct(self._tiers(), lo, hi, col)

    def serve_range_topk(
        self, lo: datetime, hi: datetime, col: str, k: int = 3
    ) -> DataFrame:
        """Exact top-k categories from freq-map state (needs freq_cols)."""
        return _rw.rewrite_range_freq(self._tiers(), lo, hi, col, k=k)

    def serve_range_hist(self, lo: datetime, hi: datetime, col: str) -> DataFrame:
        """Range percentiles from histogram state (needs hist_cols)."""
        return _rw.rewrite_range_hist(self._tiers(), lo, hi, col)

    def serve_range_heavyhitters(
        self, lo: datetime, hi: datetime, col: str, k: int = 3
    ) -> DataFrame:
        """Bounded heavy-hitter candidates with per-row error bounds from
        Misra–Gries state (needs hh_cols={col: cap}) — the capped variant
        of serve_range_topk for high-cardinality columns."""
        cap = self.pipeline.hh_cols.get(col)
        if cap is None:
            raise ValueError(f"hh_cols has no cap for column {col!r}")
        return _rw.rewrite_range_hh(self._tiers(), lo, hi, col, cap, k=k)

    def serve_grain(self, grain_hours: int) -> DataFrame:
        """Arbitrary N-hour downsample served from the cheapest tier
        (daily for whole-day grains, else hourly) — exact tier-algebra
        regrouping, bit-identical to a raw rollup at that grain."""
        from .rollup import rollup_grain

        return rollup_grain(self._tiers(), grain_hours)

    def serve_drift(
        self,
        range_a: tuple[datetime, datetime],
        range_b: tuple[datetime, datetime],
        col: str,
    ) -> DataFrame:
        """Categorical drift between two ranges from freq-map state (needs
        freq_cols): per-value counts/shares + exact total-variation."""
        from .drift import freq_drift

        return freq_drift(self._tiers(), range_a, range_b, col)

    def serve_drift_ks(
        self,
        range_a: tuple[datetime, datetime],
        range_b: tuple[datetime, datetime],
        col: str,
    ) -> DataFrame:
        """Per-conversation two-sample KS between two ranges from histogram
        state (needs hist_cols) — exact at bin resolution."""
        from .drift import hist_drift_ks

        return hist_drift_ks(self._tiers(), range_a, range_b, col)

    def serve_drift_baseline(
        self, col: str, baseline_days: int = 7
    ) -> DataFrame:
        """Per-day TV of `col`'s corpus distribution vs its trailing
        baseline_days union — the production drift alarm (needs
        freq_cols)."""
        from .drift import freq_drift_baseline

        return freq_drift_baseline(self._tiers(), col, baseline_days)

    def serve_drift_attribution(
        self,
        range_a: tuple[datetime, datetime],
        range_b: tuple[datetime, datetime],
        col: str,
        k: int = 10,
    ) -> DataFrame:
        """Top-k conversations driving the shift between two ranges —
        per-conv TV weighted by volume (needs freq_cols)."""
        from .drift import freq_drift_by_conv

        return freq_drift_by_conv(self._tiers(), range_a, range_b, col, k=k)

    def serve_drift_timeline(self, col: str) -> DataFrame:
        """Day-over-day total-variation of `col`'s corpus distribution from
        the daily tier's freq maps — localizes a mix-shift to a day."""
        from .drift import freq_drift_timeline

        return freq_drift_timeline(self._tiers(), col)

    def serve_concentration(self, col: str, tier: str = "monthly") -> DataFrame:
        """Per-bucket Gini concentration of a categorical column from freq
        state (needs freq_cols)."""
        from .drift import freq_concentration

        return freq_concentration(self.pipeline.read_tier(tier), col)

    def serve_burstiness(self, count_col: str = "n_turns") -> DataFrame:
        """Per-conversation Fano factor (var/mean of the hourly count
        series over its own span, zeros included arithmetically) from the
        hourly tier — burstiness ranking without reading raw (M81)."""
        from .ts_analytics import burstiness_fano

        return burstiness_fano(self.pipeline.read_tier("hourly"), count_col)

    def serve_sliding_percentiles(
        self,
        col: str,
        n_bins: int,
        window_hours: int,
        percentiles: tuple[int, ...] = (50, 95),
    ) -> DataFrame:
        """Trailing-window p50/p95 bins at every observed hourly bucket
        from mergeable histogram state (needs hist_cols on the pipeline) —
        M83, one exchange, raw never read."""
        from .sliding import sliding_hist_percentile

        hourly = self.pipeline.read_tier("hourly")
        hist = f"{col}_hist"
        if hist not in hourly.columns:
            raise ValueError(
                f"hourly tier has no {hist!r} state — configure hist_cols"
            )
        return sliding_hist_percentile(
            hourly, hist, n_bins, window_hours, percentiles
        )

    def serve_sliding_distinct(
        self, col: str, window_hours: int
    ) -> DataFrame:
        """Trailing-window distinct count per series from KMV sketch
        state (needs kmv_cols on the pipeline) — M85: exact below the
        sketch cap, deterministic estimate at saturation."""
        from .kmv import kmv_is_state_col
        from .sliding import sliding_kmv_distinct

        hourly = self.pipeline.read_tier("hourly")
        cand = [
            c for c in hourly.columns
            if kmv_is_state_col(c) and c.startswith(f"{col}_kmv")
        ]
        if not cand:
            raise ValueError(
                f"hourly tier has no {col}_kmv<k> state — configure kmv_cols"
            )
        return sliding_kmv_distinct(hourly, cand[0], window_hours)

    def serve_sliding_hh(
        self, col: str, cap: int, window_hours: int
    ) -> DataFrame:
        """Trailing-window heavy hitters per series from Misra–Gries
        state (needs hh_cols on the pipeline) — M86: exact below cap,
        mergeable-summaries error bound computable from state above."""
        from .sliding import sliding_hh

        return sliding_hh(
            self.pipeline.read_tier("hourly"), col, cap, window_hours
        )

    def serve_sliding_corr(
        self, a_col: str, b_col: str, window_hours: int
    ) -> DataFrame:
        """Rolling Pearson correlation + regression beta between two
        hourly tier metrics (M90) — one Window node over tier rows."""
        from .sliding import sliding_corr

        return sliding_corr(
            self.pipeline.read_tier("hourly"), a_col, b_col, window_hours
        )

    def serve_sliding(self, window_hours: int) -> DataFrame:
        """Trailing window_hours state merge at every observed hourly
        bucket (moving aggregates over the continuous aggregate) — RANGE
        frame on the epoch-hour index, gap-correct, one exchange."""
        from .sliding import sliding_state

        return sliding_state(self.pipeline.read_tier("hourly"), window_hours)

    def serve_trend(
        self,
        lo: datetime,
        hi: datetime,
        horizon_hours: int,
        value_col: str = "n_turns",
    ) -> DataFrame:
        """Per-conversation least-squares trend of an hourly tier metric
        over [lo, hi) + predict_linear forecast horizon_hours past the
        range end — exact integer sufficient statistics, one float
        finalize."""
        from .sliding import trend_linear

        return trend_linear(
            self.pipeline.read_tier("hourly"),
            lo,
            hi,
            horizon_hours,
            value_col=value_col,
        )

    def serve_alerts(
        self,
        hi: int,
        lo: int,
        value_col: str = "token_sum",
        min_len: int = 1,
    ) -> DataFrame:
        """Hysteresis threshold alert episodes (enter ≥ hi, exit ≤ lo,
        hold between; fire after min_len observed buckets) over the
        hourly tier — the Grafana/Prometheus alert state machine via LOCF
        over crossing marks + gaps-and-islands."""
        from .alerting import hysteresis_alerts

        return hysteresis_alerts(
            self.pipeline.read_tier("hourly"),
            hi,
            lo,
            value_col=value_col,
            min_len=min_len,
        )

    def serve_burn_rate(
        self,
        short_hours: int,
        long_hours: int,
        slo_ppm: int,
        mult: int = 1,
        bad_col: str = "tool_sum",
        total_col: str = "n_turns",
    ) -> DataFrame:
        """Multi-window SLO burn rate at every observed hourly bucket —
        trailing short/long RANGE-frame sums of bad vs total counters,
        fired = both windows burning past mult× budget (exact integer
        predicate)."""
        from .alerting import burn_rate_alerts

        return burn_rate_alerts(
            self.pipeline.read_tier("hourly"),
            short_hours,
            long_hours,
            slo_ppm,
            mult=mult,
            bad_col=bad_col,
            total_col=total_col,
        )

    def serve_gaps(self, min_gap_hours: int) -> DataFrame:
        """Per-series missing-data episodes ≥ min_gap_hours strictly
        inside each series' observed span — heartbeat-loss detection from
        the hourly tier's observed hour index."""
        from .alerting import data_gaps

        return data_gaps(
            self.pipeline.read_tier("hourly"), min_gap_hours
        )

    # -- graph analytics from freq tier state (M91-M94; raw never read) ----
    def graph_edges(self, col: str, tier: str = "monthly") -> DataFrame:
        """Weighted conv↔value bipartite edges recovered ENTIRELY from the
        `<col>_freq` map tier state: (conv_id, value, weight) with weight =
        the tier-summed count. The freq maps preserve the full incidence
        structure, so graph analytics never re-reads raw turns — the same
        property every other serve_* method banks on. Gap-filled rows are
        excluded (their maps are LOCF carries, not observations)."""
        from .rollup import observed_state

        t = observed_state(self.pipeline.read_tier(tier))
        fq = f"{col}_freq"
        if fq not in t.columns:
            raise ValueError(
                f"{tier} tier has no {fq!r} state — configure freq_cols"
            )
        return (
            t.select("conv_id", F.explode(F.col(fq)).alias("value", "w"))
            .groupBy("conv_id", "value")
            .agg(F.sum("w").alias("w"))
        )

    def serve_pagerank(
        self,
        col: str,
        tier: str = "monthly",
        n_iter: int = 4,
        seed_pred=None,
        weighted: bool = True,
    ) -> DataFrame:
        """Integer-exact PageRank over the conv↔value graph from freq tier
        state (engine/graphrank.py): conversation nodes are 'c:'-prefixed,
        value nodes 'v:'-prefixed; with `weighted`, mass splits by the
        tier-summed co-occurrence counts. Returns (node, rank) in 2^-30
        units — bit-identical under any partitioning."""
        from .graphrank import pagerank_integer

        e = self.graph_edges(col, tier).select(
            F.concat(F.lit("c:"), F.col("conv_id")).alias("src"),
            F.concat(F.lit("v:"), F.col("value")).alias("dst"),
            "w",
        )
        sym = e.unionAll(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        return pagerank_integer(
            sym,
            n_iter=n_iter,
            seed_pred=seed_pred,
            weight_col="w" if weighted else None,
        )

    def serve_projection(
        self, col: str, tier: str = "monthly", min_shared: int = 1
    ) -> DataFrame:
        """Value–value co-occurrence projection (shared conversations) from
        freq tier state — M93 served tier-side."""
        from .graphrank import project_tools

        eb = self.graph_edges(col, tier).select(
            F.col("conv_id").alias("conv"), F.col("value").alias("tool")
        )
        return project_tools(eb, min_shared=min_shared).select(
            F.col("tool_a").alias("value_a"),
            F.col("tool_b").alias("value_b"),
            "shared_convs",
        )

    def serve_triangles(
        self, col: str, tier: str = "monthly", min_shared: int = 1
    ) -> DataFrame:
        """Per-value triangle counts + degree on the thresholded projection
        (M94, degree-oriented) from freq tier state."""
        from .graphrank import project_tools, triangles

        eb = self.graph_edges(col, tier).select(
            F.col("conv_id").alias("conv"), F.col("value").alias("tool")
        )
        return triangles(project_tools(eb, min_shared=min_shared)).select(
            F.col("node").alias("value"), "deg", "triangles"
        )

    def serve_assortativity(self, col: str, tier: str = "monthly") -> DataFrame:
        """Degree assortativity of the conv↔value graph from freq tier
        state (M98) — one bit-exact (m_edges, r) row."""
        from .graphrank import degree_assortativity

        e = self.graph_edges(col, tier).select(
            F.concat(F.lit("c:"), "conv_id").alias("src"),
            F.concat(F.lit("v:"), "value").alias("dst"),
        )
        sym = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return degree_assortativity(sym)

    def serve_kcore(
        self, col: str, k: int, tier: str = "monthly", rounds: int = 8
    ) -> DataFrame:
        """k-core membership of the conv↔value graph from freq tier state
        (M99, fixed unrolled peeling)."""
        from .graphrank import kcore_membership

        e = self.graph_edges(col, tier).select(
            F.concat(F.lit("c:"), "conv_id").alias("src"),
            F.concat(F.lit("v:"), "value").alias("dst"),
        )
        sym = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return kcore_membership(sym, k, rounds)

    def serve_hw_forecast(
        self, metric: str = "token_sum", period: int = 24
    ) -> DataFrame:
        """Next-period additive-seasonal forecast per conversation (M95):
        phase-decomposed Holt recurrences over the hourly tier's metric
        series — one row per (conv_id, phase) with the predicted bucket
        and value. Raw never read; recurrences run as C-level ewm kernels
        partitioned by (conv, phase)."""
        from .rollup import observed_state
        from .ts_analytics import hw_additive_phase, hw_next_period_forecast

        h = observed_state(self.pipeline.read_tier("hourly")).select(
            "conv_id",
            F.col("bucket_start").alias("bucket"),
            F.col(metric).cast("double").alias("v"),
        )
        dec = hw_additive_phase(h, ["conv_id"], "bucket", "v", period=period)
        return hw_next_period_forecast(
            dec, ["conv_id"], "bucket", period=period
        ).select("conv_id", "phase", "forecast_bucket", "forecast")

    def day_shapes(self, segments: int = 4) -> DataFrame:
        """Rank-SAX shape word per (conversation, day) from the hourly
        tier — PAA segment sums + intra-day rank symbolization, the
        equi-join key for series motif discovery."""
        from .ts_analytics import day_shape_sax

        return day_shape_sax(
            self.pipeline.read_tier("hourly"), segments=segments
        )

    def serve_range_overlap(
        self,
        col: str,
        lo_a: datetime,
        hi_a: datetime,
        lo_b: datetime,
        hi_b: datetime,
    ) -> DataFrame:
        """Distinct-value SET OVERLAP (|A∩B|, Jaccard) between two ranges
        from KMV sketch state (needs kmv_cols={col: k}) — exact while the
        union sketch is unsaturated, Beyer-et-al estimates beyond."""
        if col not in self.pipeline.kmv_cols:
            raise ValueError(f"kmv_cols has no k for column {col!r}")
        return _rw.rewrite_range_kmv_overlap(
            self._tiers(), col, lo_a, hi_a, lo_b, hi_b
        )

    def serve_range_sessions(
        self, lo: datetime, hi: datetime, gap_minutes: int | None = None
    ) -> DataFrame:
        """Session count over a range from M47 monoid state (needs
        session_gaps=[G]); defaults to the pipeline's only gap."""
        gaps = self.pipeline.session_gaps
        if gap_minutes is None:
            if len(gaps) != 1:
                raise ValueError(f"specify gap_minutes (configured: {gaps})")
            gap_minutes = gaps[0]
        if gap_minutes not in gaps:
            raise ValueError(f"session_gaps has no {gap_minutes} (got {gaps})")
        return _rw.rewrite_range_sessions(self._tiers(), lo, hi, gap_minutes)

    def serve_range_statedur(
        self, lo: datetime, hi: datetime, col: str
    ) -> DataFrame:
        """Time-in-state over a range from M48 state_agg structs (needs
        statedur_cols=[col]) — exact integer micros."""
        if col not in self.pipeline.statedur_cols:
            raise ValueError(f"statedur_cols has no column {col!r}")
        return _rw.rewrite_range_statedur(self._tiers(), lo, hi, col)

    def serve_range_twa(
        self, lo: datetime, hi: datetime, col: str
    ) -> DataFrame:
        """Time-weighted average / gauge delta / rate over a range from
        M49 LOCF-monoid structs (needs twa_cols=[col]) — exact integer
        area, one float division."""
        if col not in self.pipeline.twa_cols:
            raise ValueError(f"twa_cols has no column {col!r}")
        return _rw.rewrite_range_twa(self._tiers(), lo, hi, col)

    def serve_range_percentiles(
        self, lo: datetime, hi: datetime, col: str, qs: list[float]
    ) -> DataFrame:
        """Quantiles over a range from M50 log-bucket sketch maps (needs
        qsk_cols=[col]) — exact ranks, values within 1/32 relative
        error."""
        if col not in self.pipeline.qsk_cols:
            raise ValueError(f"qsk_cols has no column {col!r}")
        return _rw.rewrite_range_qsk_percentiles(
            self._tiers(), lo, hi, col, qs
        )

    def serve_range_extremes(
        self,
        lo: datetime,
        hi: datetime,
        col: str,
        n: int | None = None,
        direction: str = "top",
    ) -> DataFrame:
        """The n extreme values (with timestamps) over a range from M52
        top/bot-N arrays (needs topn_cols/botn_cols) — bit-exact."""
        spec = (
            self.pipeline.topn_cols
            if direction == "top"
            else self.pipeline.botn_cols
        )
        if col not in spec:
            raise ValueError(f"{direction}n_cols has no column {col!r}")
        n = spec[col] if n is None else n
        if n > spec[col]:
            raise ValueError(f"{col} carries only {spec[col]} extremes")
        return _rw.rewrite_range_topn(
            self._tiers(), lo, hi, col, spec[col], direction
        ).filter(F.col("rank") <= n)

    def serve_interpolated_twa(self, tier: str, col: str) -> DataFrame:
        """M51: per-bucket TWA covering the full bucket window via
        cross-bucket boundary carry (needs twa_cols=[col])."""
        from .interp_serve import interpolated_twa

        if col not in self.pipeline.twa_cols:
            raise ValueError(f"twa_cols has no column {col!r}")
        return interpolated_twa(self.tier(tier), tier, col)

    def serve_interpolated_statedur(self, tier: str, col: str) -> DataFrame:
        """M51: per-bucket time-in-state incl. boundary-carry intervals
        (needs statedur_cols=[col])."""
        from .interp_serve import interpolated_statedur

        if col not in self.pipeline.statedur_cols:
            raise ValueError(f"statedur_cols has no column {col!r}")
        return interpolated_statedur(self.tier(tier), tier, col)

    def serve_series(
        self, lo: datetime, hi: datetime, metrics: list[str] | None = None
    ) -> DataFrame:
        """Long-form hourly series over [lo, hi) that survives retention:
        tier rows where the hourly partitions still exist, compressed-chunk
        decode (pruned) for dropped days — bit-identical to the pre-drop
        series."""
        return _rw.serve_series_chunked(
            self.pipeline.read_tier("hourly"),
            self.pipeline.read_table("chunks"),
            lo,
            hi,
            metrics,
        )

    def serve_gapfill(
        self, lo: datetime, hi: datetime, metrics: list[str] | None = None
    ) -> DataFrame:
        """Gap-filled long-form hourly series over [lo, hi), filled on read
        with the pipeline's `fill_method` ('locf' or 'linear'): for each
        (conv_id, metric), one row per hour from its first to its last
        observation (clipped to the range), observed hours as they are,
        missing hours filled (`filled`, `fill_method`), in
        engine/gapfill.py SERIES_SCHEMA. Survives retention like
        `serve_series`: the whole series is filled, then clipped
        (engine/rewrite.py serve_gapfill)."""
        return _rw.serve_gapfill(
            self.pipeline.read_tier("hourly"),
            self.pipeline.read_table("chunks"),
            lo,
            hi,
            self.pipeline.fill_method,
            metrics,
        )

    def serve_chunk_range(self, lo: datetime, hi: datetime) -> DataFrame:
        """The compressed-store range read: decode ONLY the T4 chunk blobs
        whose span overlaps [lo, hi) (the month directories overlapping the
        range, then row-group stats on chunk_start/chunk_end, before the
        Python boundary), clipped exactly.
        Serves historical series after raw/hourly retention drops."""
        from .codec.chunks import read_chunk_range

        pts, _bad = read_chunk_range(self.pipeline.read_table("chunks"), lo, hi)
        return pts

    def serve_realtime(
        self, lo: datetime, hi: datetime, watermark: datetime, t0: DataFrame
    ) -> DataFrame:
        """Range straddling the materialization watermark: tiers below it,
        one bounded raw-tail rollup above it — exact regardless of lag."""
        return _rw.rewrite_range_agg_realtime(self._tiers(), t0, lo, hi, watermark)

    def serve_hourly_realtime(self, watermark, t0: DataFrame) -> DataFrame:
        return _rw.serve_hourly_realtime(self.tier("hourly"), t0, watermark)

    # -- SQL over the tiers -----------------------------------------------------

    def register_views(
        self, prefix: str = "tiers", run_id: str | None = None
    ) -> list[str]:
        """Expose each tier as `<prefix>_<tier>` temp views for spark.sql.
        With `run_id`, every view is pinned to that sealed
        run's barrier snapshots — time-travel SQL over a mutually
        consistent cross-table state, immune to later runs/retention."""
        tiers = (
            {t: d for t, d in self.pipeline.read_consistent(run_id).items()
             if t in self.TIERS}
            if run_id is not None
            else {t: self.tier(t) for t in self.TIERS}
        )
        names = []
        for t, df in tiers.items():
            name = f"{prefix}_{t}"
            df.createOrReplaceTempView(name)
            names.append(name)
        from .bucket import register_time_bucket_sql

        register_time_bucket_sql(self.spark)
        return names

    def sql(self, query: str, run_id: str | None = None) -> DataFrame:
        self.register_views(run_id=run_id)
        return self.spark.sql(query)

    # -- snapshot-keyed result reuse ---------------------------------------------

    def cached(self, key: str, build) -> tuple[DataFrame, bool]:
        """Serve `build()` through the result cache keyed on the pipeline
        tables' snapshot pointers: unchanged tables hit (provably identical
        to recomputation), any run/retention/compaction/rollback/`forget`
        misses."""
        deps = ResultCache.deps_of(
            {
                n: self.pipeline._store(self.pipeline.table_path(n))
                for n in self.pipeline.TABLE_NAMES
            }
        )
        return self._cache.serve(key, deps, build)

    # -- erasure (right-to-be-forgotten, engine/forget.py) ---------------------

    def forget(
        self,
        conv_ids: list[str],
        t0: DataFrame | None = None,
        sweep: bool | str = "auto",
        note: str = "",
    ) -> dict:
        """Erase conversations from every engine-owned table: tombstone
        (future ingests filter them forever), re-roll affected days if the
        raw input is supplied, surgically sweep retention-frozen leftovers."""
        from .forget import forget_conversations

        return forget_conversations(
            self.pipeline, conv_ids, t0=t0, sweep=sweep, note=note
        )

    def forgotten_leftovers(self) -> dict:
        """Erasure verifier: rows still attributable to tombstoned
        conversations, per table (all zeros after a complete forget)."""
        from .forget import leftover_conversations

        return leftover_conversations(self.pipeline)

    # -- user-defined continuous aggregates (engine/cagg.py) --------------------

    def cagg(self, path: str, *, keys, aggs, filter=None, versioned=False,
             retain_dropped=False):  # noqa: A002
        """Declare (or re-attach) a user-defined continuous aggregate:
        group keys are SQL expressions over hourly-tier rows, aggregates
        come from the mergeable algebra (sum/count/min/max/avg/
        approx_distinct/first/last/twa/percentile_qsk/distinct_kmv).
        `.refresh()` consumes the hourly snapshot changelog — O(changed
        days); `.read()` serves the merged view. A changed definition
        rebuilds once (spec-token migration). With ``versioned=True`` the
        partials table is itself snapshot-versioned and emits a changelog,
        so `.child(...)` can stack coarser views over it (hierarchical
        continuous aggregates). With ``retain_dropped=True`` the view
        OUTLIVES raw retention: retention-dropped upstream days freeze in
        the view while true deletions still propagate."""
        from .cagg import ContinuousAggregate

        return ContinuousAggregate(
            self.pipeline, path, keys=keys, aggs=aggs,
            filter=filter, versioned=versioned, retain_dropped=retain_dropped,
        )

    def create_view(self, path: str, sql: str, *, parents=None, **cagg_kw):
        """Declare a continuous aggregate from SQL text (engine/
        caggsql.py) — the TimescaleDB `CREATE MATERIALIZED VIEW ...
        GROUP BY` front door: `FROM hourly` compiles the select list into
        the mergeable-aggregate spec; `FROM <view>` (resolved in
        `parents`) builds a hierarchical child whose `rollup(name)` items
        re-merge the parent's day-partial state. The compiled spec is
        token-identical to the dict form, so re-declaring an existing
        view in SQL attaches without a rebuild."""
        from .caggsql import create_continuous_aggregate

        return create_continuous_aggregate(
            self.pipeline, path, sql, parents=parents, **cagg_kw
        )

    def maintain(self, policy, run_id: str = "maintenance") -> dict:
        """Run one declarative maintenance cycle (engine/policies.py
        MaintenancePolicy): cagg refresh (parents before children) →
        hourly/daily retention → view reconcile → data + manifest
        compaction → snapshot expiry with every consumed snapshot pinned.
        Idempotent; returns the structured report."""
        return policy.apply(self.pipeline, run_id=run_id)

    # -- cross-root replication (engine/replicate.py) ---------------------------

    def point_index(self, tier: str = "hourly", key: str = "conv_id", **kw):
        """File-skipping index (engine/fileindex.py) over a tier's current
        files, persisted under the root; call .refresh() after runs (cheap:
        only new/rewritten files index — snapshot hardlinks keep unchanged
        partitions' identity)."""
        from .fileindex import FileIndex

        return FileIndex(
            self.spark,
            self.pipeline.tier_data_path(tier),
            f"{self.root}/_pointidx/{tier}-{key}",
            key,
            **kw,
        )

    def conversation(
        self, conv_id: str, tier: str = "hourly", refresh: bool = True
    ) -> DataFrame:
        """One conversation's tier series WITHOUT scanning the tier: the
        point index prunes to candidate files (min/max + Bloom), the exact
        predicate re-applies on read — the needle-in-100TB drill-down."""
        idx = self.point_index(tier)
        if refresh:
            idx.refresh()
        return idx.read_point(conv_id)

    def replica(self, root: str):
        """A pull-based replica of this engine's tables at
        `root`: `.sync()` ships partition diffs only, `.read(table)` serves
        from the replica's own atomic snapshots."""
        from .replicate import Replica

        return Replica(self.spark, self.pipeline, root)
