"""The traced run's layer probe: per-layer metrics measured from outside
the engine, through each layer's public functions.

After the workload has run (with spans on), the probe
  * on serve_mixed, makes the untimed warm-up run backfill_cold makes in
    its set-up and then one plain cold run, so that both workloads have a
    plain cold run after the same warm-up;
  * builds a second root from the same input with successive
    run(stages=prefix) calls, one span per stage;
  * times each layer's kernel on that input with a no-op sink;
  * on backfill_cold, which serves nothing, sends one cycle of the
    serve_mixed query classes to that root;
  * makes one of each late_mutations step on that root: a late batch on
    one or two past days and its read-back, forgetting two conversations,
    dropping the oldest hourly day; then checks the root against the
    oracle on the final input;
  * after the session stops, groups the Spark event log by span.
"""

from __future__ import annotations

import random
import statistics
from datetime import timedelta

import pandas as pd

import checks
import gen
from spans import EventLog

PIPELINE = ("hourly", "daily", "monthly", "series")
KERNELS = ("bucket.dedup", "skew.hourly", "rollup.up", "gapfill.fill", "codec.encode")
SERVE = ("range", "topk", "sql", "chunk", "series")
MUTATE = ("late", "forget", "retention", "readback")
SPARK = {
    "task_s": "s", "busy_frac": "ratio", "jobs": "count", "tasks": "count",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "input_records": "count",
    "task_skew": "ratio",
}
#: the stages whose scans run() reports, pruned or full
SCANNED = ("daily", "monthly", "series")

PER_LAYER = (
    ["wall.p50_s", "wall.throughput"]
    + [f"pipeline.{s}_s" for s in PIPELINE]
    + ["pipeline.overhead_s", "trace.overhead_s"]
    + [f"{k}_s" for k in KERNELS]
    + [f"spark.{k}" for k in SPARK]
    + [f"checkpoint.built.{s}" for s in ("hourly", "daily", "monthly", "gapfill", "compress")]
    + [f"checkpoint.scan.{s}" for s in SCANNED]
    + ["checkpoint.rebuild_ratio"]
    + ["snapstore.root_files", "snapstore.files_per_mutation", "codec.bytes_per_point"]
    + [f"mutate.{m}_s" for m in MUTATE]
    + [f"serve.{c}_s" for c in ("range", "topk", "sql", "chunk_range", "series", "cached_hit")]
    + ["serve.jobs_per_query", "serve.input_records_per_query", "resultcache.hit_rate"]
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernels(b, eng) -> None:
    """No-op-sink timing of each layer's public kernel on this input."""
    from engine.bucket import dedup_turns, mask_valid, with_metrics
    from engine.codec.chunks import make_chunks
    from engine.gapfill import gapfill, hourly_series
    from engine.rollup import observed_state, rollup_up
    from engine.skew import rollup_hourly_salted

    t0 = b.read_input()
    hourly = observed_state(eng.tier("hourly"))
    tr = b.tracer
    with tr.span("bucket.dedup"):
        noop(with_metrics(dedup_turns(mask_valid(t0))))
    with tr.span("skew.hourly"):
        noop(rollup_hourly_salted(dedup_turns(mask_valid(t0)), 16, freq_cols=["tool"]))
    with tr.span("rollup.up"):
        noop(rollup_up(hourly, "daily"))
        noop(rollup_up(eng.tier("daily"), "monthly"))
    with tr.span("gapfill.fill"):
        noop(gapfill(hourly_series(hourly), eng.pipeline.fill_method))
    with tr.span("codec.encode"):
        noop(make_chunks(hourly_series(hourly), tier="hourly"))


def probe(b) -> None:
    """Everything the traced run measures while the session is up."""
    from engine.codec.chunks import compression_stats

    tr = b.tracer
    if b.workload == "serve_mixed":
        b.warm_up()
        b.cold_run("plain")
    plain = next(s for s in tr.spans if s.name == "pipeline.run")
    staged_s = b.cold_run("staged", staged=True)["s"]
    eng = b.engine("staged")
    kernels(b, eng)
    stage_s = sum(tr.total(f"pipeline.{s}") for s in PIPELINE)
    for s in PIPELINE:
        b.metric(f"pipeline.{s}_s", tr.total(f"pipeline.{s}"), "s")
    b.metric("pipeline.overhead_s", stage_s - sum(tr.total(k) for k in KERNELS), "s")
    b.metric("trace.overhead_s", staged_s - (plain.end - plain.start), "s")
    for k in KERNELS:
        b.metric(f"{k}_s", tr.total(k), "s")

    if b.workload == "backfill_cold":
        # as on serve_mixed: the cycle once untraced, then the one measured
        qs = b.queries(len(b.CYCLE))
        b.tracer.enabled = False
        b.serve(eng, qs, None)
        b.tracer.enabled = True
        b.serve_done = b.serve(eng, qs, None)
        b.attempted += len(b.serve_done)
        b.check_answers(eng, b.serve_done, tag="probe")
    stats = compression_stats(eng.pipeline.read_table("chunks")).toPandas()
    b.metric("codec.bytes_per_point", stats["bytes"].sum() / stats["points"].sum(), "B/point")
    b.metric("snapstore.root_files", b.root_bytes("staged")[1], "count")

    lat = {c: [d.seconds for d in b.serve_done if d.query.cls == c] for c in SERVE}
    for c in SERVE:
        name = "chunk_range" if c == "chunk" else c
        b.metric(f"serve.{name}_s", statistics.median(lat[c]) if lat[c] else 0.0, "s")
    cached = [d for d in b.serve_done if d.hit is not None]
    hits = [d.seconds for d in cached if d.hit]
    b.metric("serve.cached_hit_s", statistics.median(hits) if hits else 0.0, "s")
    b.metric("resultcache.hit_rate", len(hits) / len(cached) if cached else 0.0, "ratio")
    mutations(b, eng)


def scan_share(report: str | None) -> float:
    """Share of a stage's upstream partitions a run scanned, from run()'s
    `scans` entry: 'full', 'pruned:<scanned>/<all>' or 'pruned-noop'."""
    if report is None or report == "pruned-noop":
        return 0.0
    if report.startswith("pruned:"):
        n, total = report.split(":", 1)[1].split("/")
        return int(n) / int(total) if int(total) else 0.0
    return 1.0


def mutations(b, eng) -> None:
    """One of each late_mutations step on the staged root, each in its own
    span, and the root checked against the oracle on the final input."""
    from engine.rollup import observed_state

    tr = b.tracer
    rng = random.Random(b.seed * 6007 + 11)
    days = sorted(rng.sample(range(b.shape.span_days), rng.choice((1, 2))))
    batch = gen.late_batch(b.shape, b.seed, max(50, len(b.raw) // 200), days)
    gen.write(batch, b.seed, str(b.work / "late" / "part-0.parquet"))
    t0 = b.spark.read.parquet(str(b.work / "input"), str(b.work / "late"))
    clean = checks.dedup(pd.concat([b.raw, batch], ignore_index=True))
    new_files = []

    def files():
        return set(p for p in (b.work / "staged").rglob("*") if p.is_file())

    before = files()
    with tr.span("mutate.late", tr.next_op()):
        res = eng.run(t0)
    after = files()
    new_files.append(len(after - before))
    lo = gen.EPOCH + timedelta(days=days[0])
    hi = gen.EPOCH + timedelta(days=days[-1] + 1)
    with tr.span("mutate.readback", tr.next_op()):
        got = eng.serve_range(lo, hi).toPandas()
    b.attempted += 2
    bad = checks.frame_diff(b.answer(got), checks.range_agg(clean, lo, hi), ["conv_id"],
                            f"late read-back [{lo}, {hi})")
    if bad:
        b.failures += bad
        b.failed_ops.add(("mutate", "readback"))
    built = res["stages"]
    for stage in ("hourly", "daily", "monthly", "gapfill", "compress"):
        b.metric(f"checkpoint.built.{stage}", built.get(stage, 0), "count")
    for stage in SCANNED:
        b.metric(f"checkpoint.scan.{stage}", scan_share(res["scans"].get(stage)), "ratio")
    months = {(gen.EPOCH + timedelta(days=d)).strftime("%Y-%m") for d in days}
    rebuilt = sum(built.get(s, 0) for s in ("hourly", "daily", "monthly"))
    b.metric("checkpoint.rebuild_ratio", rebuilt / (2 * len(days) + len(months)), "ratio")

    gone = [f"c{c:06d}" for c in rng.sample(range(1, b.shape.n_convs), 2)]
    before = after
    with tr.span("mutate.forget", tr.next_op()):
        eng.forget(gone, t0=t0)
    after = files()
    new_files.append(len(after - before))
    cutoff = gen.EPOCH + timedelta(days=1)
    before = after
    with tr.span("mutate.retention", tr.next_op()):
        dropped = eng.drop_hourly_before(cutoff.date().isoformat())
    new_files.append(len(files() - before))
    b.attempted += 2
    b.metric("snapstore.files_per_mutation", statistics.mean(new_files), "count")
    for m in MUTATE:
        b.metric(f"mutate.{m}_s", tr.total(f"mutate.{m}"), "s")

    tiers = {
        t: observed_state(eng.tier(t)).select(*checks.KEY, *checks.STATE).toPandas()
        for t in ("hourly", "daily", "monthly")
    }
    bad = checks.tiers_match(tiers, clean[~clean.conv_id.isin(gone)], hourly_from=cutoff)
    if dropped != [gen.EPOCH.date().isoformat()]:
        bad.append(f"retention dropped {dropped}, expected the oldest day only")
    for t, df in tiers.items():
        if df.conv_id.isin(gone).any():
            bad.append(f"forgotten conversations still in the {t} tier")
    if bad:
        b.failures += [f"after mutations: {p}" for p in bad]
        b.failed_ops.add(("mutate", "final"))


def event_log(b) -> None:
    """Per-layer Spark numbers, read once the session has stopped."""
    ev = EventLog.read(str(b.work / "eventlog"))
    lo, hi = b.main_window
    for k, v in ev.window(lo, hi).summary(hi - lo, b.cores).items():
        b.metric(f"spark.{k}", v, SPARK[k])
    queries = [s for s in b.tracer.spans if s.name.startswith("serve.")]
    per_q = [ev.window(s.start, s.end) for s in queries]
    n = max(1, len(per_q))
    b.metric("serve.jobs_per_query", sum(len(w.jobs) for w in per_q) / n, "count")
    b.metric(
        "serve.input_records_per_query",
        sum(t.records_in for w in per_q for t in w.tasks) / n,
        "count",
    )
