#!/usr/bin/env python3
"""spark-submit entry point for the tier pipeline (north rule: `run via
spark-submit --py-files on a multi-executor cluster`).

Cluster usage:
    python scripts/package.py                       # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        scripts/run_pipeline.py --input s3://…/t0 --root s3://…/tiers

Local smoke:
    python scripts/run_pipeline.py --synthetic 200000 --root /tmp/tiers
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="T0 parquet/Iceberg path")
    ap.add_argument("--synthetic", type=int, default=None,
                    help="generate ~N synthetic turns instead of --input")
    ap.add_argument("--root", required=True, help="tier-store root")
    ap.add_argument(
        "--salted",
        nargs="?",
        const=True,
        default=True,
        type=lambda v: v if v == "auto" else v.lower() in ("1", "true", "yes"),
        help="true | false | auto (auto = per-run skew probe decides)",
    )
    ap.add_argument("--fill-method", default="locf", choices=["locf", "linear"])
    ap.add_argument("--master", default=None)
    ap.add_argument("--retention-before", default=None,
                    help="drop raw hourly partitions older than YYYY-MM-DD "
                         "(only if lineage committed)")
    ap.add_argument("--snapshots", action="store_true",
                    help="keep every table snapshot until expired: time "
                         "travel and run-level rollback (without it each "
                         "table keeps only its current and last-barrier "
                         "snapshots)")
    ap.add_argument("--wap", action="store_true",
                    help="write-audit-publish: stage the whole run "
                         "unpublished, publish atomically at the seal")
    ap.add_argument("--sketch-cols", default=None,
                    help="comma-separated raw columns to sketch into "
                         "mergeable HLL tier state (e.g. 'tool')")
    ap.add_argument("--hist-cols", default=None,
                    help="exact mergeable histogram tier state, "
                         "'col:origin:width:nbins[,col:...]' "
                         "(e.g. 'token_count:0:32:8')")
    ap.add_argument("--compact-zorder", default=None,
                    help="after the run, z-order-compact a tier: "
                         "'tier:col1:col2' (e.g. "
                         "'hourly:conv_id:bucket_start') — multi-dim "
                         "row-group skipping via Morton clustering")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    help="snapshot GC after the run: keep newest N "
                         "snapshots per table")
    ap.add_argument("--freq-cols", default=None,
                    help="comma list of raw columns to carry exact "
                         "value->count frequency-map tier state for "
                         "(e.g. tool,role)")
    ap.add_argument("--hh-cols", default=None,
                    help="comma list of col:cap pairs to carry BOUNDED "
                         "Misra-Gries heavy-hitter tier state for "
                         "(e.g. tool:64,role:16)")
    ap.add_argument("--kmv-cols", default=None,
                    help="comma list of col:k pairs to carry KMV "
                         "distinct-sketch tier state for (bottom-k "
                         "distinct-hash arrays with set algebra — "
                         "intersection/Jaccard across buckets; e.g. "
                         "tool:256,text:4096)")
    ap.add_argument("--session-gaps", default=None,
                    help="comma list of inactivity-gap thresholds in "
                         "minutes to carry mergeable sessionization tier "
                         "state for (e.g. 30,120)")
    ap.add_argument("--statedur-cols", default=None,
                    help="comma list of categorical columns to carry "
                         "duration-in-state tier structs for (state_agg; "
                         "e.g. role)")
    ap.add_argument("--twa-cols", default=None,
                    help="comma list of numeric columns to carry "
                         "time-weighted-average (LOCF integral) tier "
                         "structs for (e.g. token_count)")
    ap.add_argument("--qsk-cols", default=None,
                    help="comma list of numeric columns to carry "
                         "log-bucket quantile-sketch tier maps for "
                         "(mergeable percentiles, rel err <= 1/32; "
                         "e.g. token_count)")
    ap.add_argument("--topn-cols", default=None,
                    help="comma list of col:n pairs to carry exact "
                         "top-N value state for (the n largest values "
                         "with timestamps; e.g. token_count:5)")
    ap.add_argument("--botn-cols", default=None,
                    help="comma list of col:n pairs to carry exact "
                         "bottom-N value state for")
    ap.add_argument("--budget", type=int, default=None,
                    help="max pending partitions per stage this run "
                         "(oldest-first); with --backfill, loop budgeted "
                         "runs until nothing is left pending")
    ap.add_argument("--backfill", action="store_true",
                    help="with --budget: run bounded increments to "
                         "completion instead of one run")
    ap.add_argument("--compact-manifest", action="store_true",
                    help="after the run, fold the manifest's accumulated "
                         "commit files into one (small-files lifecycle; "
                         "pairs with long --backfill loops)")
    ap.add_argument("--prune-superseded", action="store_true",
                    help="with --compact-manifest: also drop data-stage "
                         "rows a newer commit supersedes (run barriers, "
                         "retention/freeze/forget history always survive)")
    ap.add_argument("--no-lease", action="store_true",
                    help="skip the single-writer run lease (concurrent "
                         "runs on one root can then double-write)")
    ap.add_argument("--forget-convs", default=None,
                    help="comma list of conv_ids to erase (right-to-be-"
                         "forgotten): tombstoned before the run so the "
                         "re-roll + sweep remove them from every table")
    ap.add_argument("--replicate-to", default=None,
                    help="replica root to sync after the run: ships only "
                         "the partition diff (a full copy when the last "
                         "synced snapshot was expired)")
    args = ap.parse_args()

    from engine.session import get_spark

    spark = get_spark("tier-pipeline", master=args.master)

    from engine.io import read_transcripts
    from engine.pipeline import TierPipeline

    if args.synthetic:
        from engine.synth import synth_transcripts

        hot = max(400, args.synthetic // 7)
        t0 = synth_transcripts(
            spark, n_convs=max(200, args.synthetic // 50), hot_turns=hot
        )
    else:
        if not args.input:
            ap.error("--input or --synthetic required")
        t0 = read_transcripts(spark, args.input)

    pipe = TierPipeline(
        spark,
        args.root,
        salted=args.salted,
        fill_method=args.fill_method,
        snapshots=args.snapshots,
        wap=args.wap,
        sketch_cols=(
            [c for c in args.sketch_cols.split(",") if c]
            if args.sketch_cols
            else None
        ),
        hist_cols=(
            {
                s.split(":")[0]: (
                    float(s.split(":")[1]),
                    float(s.split(":")[2]),
                    int(s.split(":")[3]),
                )
                for s in args.hist_cols.split(",")
                if s
            }
            if args.hist_cols
            else None
        ),
        freq_cols=(
            [c for c in args.freq_cols.split(",") if c]
            if args.freq_cols
            else None
        ),
        hh_cols=(
            {
                s.split(":")[0]: int(s.split(":")[1])
                for s in args.hh_cols.split(",")
                if s
            }
            if args.hh_cols
            else None
        ),
        kmv_cols=(
            {
                s.split(":")[0]: int(s.split(":")[1])
                for s in args.kmv_cols.split(",")
                if s
            }
            if args.kmv_cols
            else None
        ),
        session_gaps=(
            [int(s) for s in args.session_gaps.split(",") if s]
            if args.session_gaps
            else None
        ),
        statedur_cols=(
            [c for c in args.statedur_cols.split(",") if c]
            if args.statedur_cols
            else None
        ),
        twa_cols=(
            [c for c in args.twa_cols.split(",") if c]
            if args.twa_cols
            else None
        ),
        qsk_cols=(
            [c for c in args.qsk_cols.split(",") if c]
            if args.qsk_cols
            else None
        ),
        topn_cols=(
            {
                s.split(":")[0]: int(s.split(":")[1])
                for s in args.topn_cols.split(",")
                if s
            }
            if args.topn_cols
            else None
        ),
        botn_cols=(
            {
                s.split(":")[0]: int(s.split(":")[1])
                for s in args.botn_cols.split(",")
                if s
            }
            if args.botn_cols
            else None
        ),
        lease=not args.no_lease,
    )
    if args.forget_convs:
        from engine.forget import forget_conversations

        doomed = [c for c in args.forget_convs.split(",") if c]
        rep = forget_conversations(pipe, doomed, t0=t0)
        result = rep["run"]
        result["forgotten"] = rep["tombstoned"]
        result["forget_swept"] = {k: len(v) for k, v in rep["swept"].items()}
    elif args.backfill:
        if not args.budget:
            ap.error("--backfill requires --budget")
        runs = pipe.run_until_complete(t0, args.budget)
        result = runs[-1]
        result["backfill_runs"] = len(runs)
    else:
        result = pipe.run(t0, budget=args.budget)

    if args.compact_zorder:
        from engine.retention import compact_partition

        tier, c1, c2 = args.compact_zorder.split(":")
        compact_partition(pipe, tier, zorder=(c1, c2))
        result["zorder_compacted"] = args.compact_zorder

    if args.compact_manifest:
        result["manifest_compacted"] = pipe.compact_manifest(
            prune_superseded=args.prune_superseded
        )

    if args.expire_keep_last:
        from engine.retention import expire_snapshots

        result["expired_snapshots"] = {
            k: len(v)
            for k, v in expire_snapshots(pipe, args.expire_keep_last).items()
        }

    if args.retention_before:
        from engine.retention import drop_hourly_partitions, droppable_hourly_days

        days = droppable_hourly_days(pipe, older_than=args.retention_before)
        dropped = drop_hourly_partitions(pipe, days, run_id=result["run_id"])
        result["retention_dropped"] = dropped

    if args.replicate_to:
        from engine.replicate import Replica

        sync = Replica(spark, pipe, args.replicate_to).sync()
        result["replicated"] = {
            t: {"mode": s["mode"], "shipped": len(s["copied"])}
            for t, s in sync.items()
        }

    pipe.register_views()
    result["monthly_rows"] = spark.table("tiers_monthly").count()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
