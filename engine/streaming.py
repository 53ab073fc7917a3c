"""Structured Streaming surface (SURVEY.md §2 J, optional tier — the
reference is batch; this is the incremental path for the same hourly tier).

Design: micro-batch ingestion of T0 files -> watermark (J1) -> tumbling
1-hour window aggregate (J2) with the SAME integer-backed state columns as
the batch leaf rollup -> foreachBatch upsert into a parquet tier directory
(update mode: late-but-in-watermark rows re-emit their window; each
micro-batch's rows carry batch_id so readers take the latest version per
key). Post-watermark stragglers fall back to the batch path: TierPipeline
fingerprints every stage input per partition (checkpoint.work_manifest), so
a batch rerun over raw-plus-stragglers re-rolls exactly the affected
day and month partitions (J4; tests/test_checkpoint.py
test_late_data_reroll_cascade) — late rows are never silently dropped.

J5 replay-dedup (`dropDuplicatesWithinWatermark`) is a separate operator:
chaining it in front of an update-mode aggregation hits Spark's
multi-stateful-operator restrictions, and the batch dedup (E2) already
guards the tier pipeline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bucket import T0_SCHEMA

def _state_aggs():
    # lazy: building Columns requires an active SparkContext
    return [
        F.count("*").alias("n_turns"),
        F.sum(F.length("text").cast("long")).alias("token_sum"),
        F.min(F.length("text").cast("long")).alias("token_min"),
        F.max(F.length("text").cast("long")).alias("token_max"),
        F.sum(F.col("tool").isNotNull().cast("long")).alias("tool_sum"),
        F.min(F.col("tool").isNotNull().cast("long")).alias("tool_min"),
        F.max(F.col("tool").isNotNull().cast("long")).alias("tool_max"),
    ]


def read_stream_t0(spark: SparkSession, input_path: str) -> DataFrame:
    df = (
        spark.readStream.schema(T0_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_path)
    )
    # watermarks require session-TZ TIMESTAMP; value-identical under UTC
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_stream_agg(t0_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """J1+J2: watermarked tumbling hourly aggregate, integer-backed state
    identical to the batch leaf rollup (engine/rollup.py)."""
    return (
        t0_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "conv_id")
        .agg(*_state_aggs())
        .select(
            "conv_id",
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "n_turns",
            "token_sum",
            "token_min",
            "token_max",
            "tool_sum",
            "tool_min",
            "tool_max",
        )
    )


def sliding_stream_agg(
    t0_stream: DataFrame,
    size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """C3 in streaming form: watermarked SLIDING (hopping) window — each
    turn lands in size/slide overlapping windows; state is the same
    integer-backed aggregate set as the tumbling path, keyed by
    (window, conv_id)."""
    return (
        t0_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"), "conv_id")
        .agg(*_state_aggs())
        .select(
            "conv_id",
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "n_turns",
            "token_sum",
            "token_min",
            "token_max",
            "tool_sum",
            "tool_min",
            "tool_max",
        )
    )


def run_sliding_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
):
    """Update-mode micro-batch run of the sliding aggregate; upserts resolve
    by latest batch_id per (conv_id, win_start) like the hourly tier."""
    agg = sliding_stream_agg(
        read_stream_t0(spark, input_path), size, slide, watermark
    )

    def _upsert(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .foreachBatch(_upsert)
        .start()
    )
    q.awaitTermination()
    return q


def run_hourly_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    watermark: str = "2 hours",
):
    """Update-mode micro-batch run (availableNow drains all pending files):
    every emitted row is stamped with its micro-batch id; `read_stream_tier`
    keeps the latest version per (conv_id, bucket_start)."""
    agg = hourly_stream_agg(read_stream_t0(spark, input_path), watermark)

    def _upsert(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .foreachBatch(_upsert)
        .start()
    )
    q.awaitTermination()
    return q


def read_stream_tier(spark: SparkSession, out_path: str) -> DataFrame:
    """Resolve upserts: latest batch_id wins per (conv_id, bucket_start)."""
    from pyspark.sql import Window

    df = spark.read.parquet(out_path)
    w = Window.partitionBy("conv_id", "bucket_start").orderBy(
        F.desc("batch_id")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def dedup_stream(t0_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """J5: stateful replay-dedup on the natural key within the watermark."""
    return t0_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def run_dedup_stream(
    spark: SparkSession, input_path: str, out_path: str, checkpoint: str
):
    q = (
        dedup_stream(read_stream_t0(spark, input_path))
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_path)
        .start()
    )
    q.awaitTermination()
    return q


RUNNING_OUT_SCHEMA = "conv_id string, n_turns_total long, token_sum_total long"
RUNNING_STATE_SCHEMA = "n_turns_total long, token_sum_total long"


def _running_totals_fn(key, pdf_iter, state):
    """J6 grouped-state function: fold each micro-batch's rows for one
    conv_id into persistent totals, emit the updated running row. Arrow
    batches in, one output row per (conv, micro-batch) out."""
    import pandas as pd

    n, tok = state.get if state.exists else (0, 0)  # .get is a property
    for pdf in pdf_iter:
        n += len(pdf)
        tok += int(pdf["text"].str.len().sum())
    state.update((n, tok))
    yield pd.DataFrame(
        {"conv_id": [key[0]], "n_turns_total": [n], "token_sum_total": [tok]}
    )


def running_conv_totals_stream(t0_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """J6 arbitrary stateful op: per-conversation running totals via
    applyInPandasWithState — custom state (two counters) that outlives any
    window, emitted incrementally per micro-batch. The state store shuffles
    on conv_id only; no global structure."""
    return (
        t0_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_OUT_SCHEMA,
            stateStructType=RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def run_running_totals_stream(
    spark: SparkSession, input_path: str, out_path: str, checkpoint: str
):
    """availableNow run of the J6 stateful op; each emitted row is stamped
    with its micro-batch id so readers can take the latest per conv."""
    agg = running_conv_totals_stream(read_stream_t0(spark, input_path))

    def _sink(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .foreachBatch(_sink)
        .start()
    )
    q.awaitTermination()
    return q


def session_window_agg(
    t0_stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """J3: conversation-burst sessions (session_window closes after `gap` of
    inactivity)."""
    return (
        t0_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_turns",
        )
    )


def ensure_dirs(*paths: str):
    for p in paths:
        os.makedirs(p, exist_ok=True)


def run_stream_into_pipeline(
    spark: SparkSession,
    input_path: str,
    pipe,
    raw_path: str,
    timeout_s: int = 120,
    caggs=(),
) -> dict:
    """EP1 end-to-end: micro-batch file ingest feeding the RESUMABLE batch
    tier pipeline (engine/pipeline.TierPipeline) — the lambda-architecture
    seam closed inside one engine.

    Each trigger appends its batch to the accumulated raw ingest table
    (one atomic parquet append per micro-batch), then runs the pipeline
    over the WHOLE accumulated table. That re-read is not a rescan-the-
    world at scale: `work_manifest` fingerprints every stage input per
    partition, so trigger k re-rolls exactly the day and month
    partitions batch k touched — the same incremental contract as the
    late-data path, now driven by a stream. Running the pipeline on the
    batch's rows alone would be WRONG (a day split across triggers would
    lose its earlier rows to the fingerprint re-roll); accumulation + diff
    is what makes micro-batch ingest and batch resume compose.

    `caggs` are continuous aggregates (engine/cagg.py) refreshed after
    every trigger's pipeline run, parents before children — the streaming
    materialized-view pattern: each micro-batch's changed days flow
    tier → view changelog inside the trigger, so dashboards read views
    that lag the stream by at most one trigger (or by zero, via
    read_realtime between triggers).

    Returns {"batches": n, "stage_rolls": [per-trigger stage counts],
    "cagg_rolls": [per-trigger {path: refresh mode}]}.
    """
    from .policies import _depth

    ordered_caggs = sorted(caggs, key=_depth)
    rolls: list[dict] = []
    cagg_rolls: list[dict] = []

    def each_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(raw_path)
        raw = spark.read.parquet(raw_path)
        res = pipe.run(raw, run_id=f"stream-{batch_id}")
        rolls.append(res["stages"])
        if ordered_caggs:
            cagg_rolls.append(
                {c.path: c.refresh()["mode"] for c in ordered_caggs}
            )

    q = (
        read_stream_t0(spark, input_path)
        .writeStream.foreachBatch(each_batch)
        .option(
            "checkpointLocation", os.path.join(raw_path + "_ckpt", "cp")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    q.stop()
    return {"batches": len(rolls), "stage_rolls": rolls,
            "cagg_rolls": cagg_rolls}


def run_stream_into_simindex(
    spark: SparkSession,
    input_path: str,
    idx,
    timeout_s: int = 180,
) -> dict:
    """Streaming similarity-index maintenance: each micro-batch of NEW
    embeddings ingests into the persisted SimIndex (engine/simindex.py)
    via foreachBatch — O(batch) hashing/assignment plus the
    partition-pruned candidate join against stored state, so the ANN /
    near-dup index stays query-fresh as the corpus streams in. A restarted
    stream replays its last uncommitted trigger into the SAME batch id,
    where the index's fingerprint gate turns the duplicate ingest into a
    no-op — exactly-once index maintenance from at-least-once micro-batch
    delivery. The final state is bit-identical to a one-shot full rebuild
    (tests/test_simindex.py::test_stream_ingest_equals_rebuild)."""
    ingested: list[str] = []

    def each_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = idx.ingest(batch_df, f"trig-{batch_id}")
        if res["ingested"]:
            ingested.append(res["batch"])

    schema = spark.read.parquet(input_path).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
        .writeStream.foreachBatch(each_batch)
        .option(
            "checkpointLocation", os.path.join(idx.root, "_stream_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    q.stop()
    return {"batches": len(ingested), "batch_ids": ingested}


# -- streaming CUSUM drift alerting (J6 × M23) -------------------------------

#: token_count (text length) control parameters — synth text lengths span
#: ~8-190 chars, so target+slack=120 keeps the in-control drift negative
STREAM_CUSUM_TARGET = 100
STREAM_CUSUM_SLACK = 20
STREAM_CUSUM_THRESH = 1500

CUSUM_OUT_SCHEMA = "conv_id string, cusum long, n_alerts long, max_cusum long"
CUSUM_STATE_SCHEMA = "s long, n_alerts long, max_cusum long"


def _cusum_fn(key, pdf_iter, state):
    """Per-conv streaming CUSUM: the persistent state is (current cusum,
    alerts so far, running max). Each micro-batch folds its rows — sorted by
    event time WITHIN the batch — through the reset recurrence using the
    same closed prefix form as the batch operator (engine/seqops.py):
    with carry-in s0 >= 0, cs = s0 + cumsum(d) and
    s_t = cs_t - min(0, running_min(cs_t)) — numpy-vectorized, no per-row
    python. Contract (standard streaming SPC): rows are processed in
    arrival order across micro-batches; in-order feeds reproduce the batch
    answer exactly (pytest pins this)."""
    import numpy as np
    import pandas as pd

    s, n_alerts, mx = state.get if state.exists else (0, 0, 0)
    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    pdf = pdf.sort_values(["ts", "turn_idx"], ignore_index=True)
    d = (
        pdf["text"].str.len().to_numpy(np.int64)
        - STREAM_CUSUM_TARGET
        - STREAM_CUSUM_SLACK
    )
    if len(d):
        cs = s + np.cumsum(d)
        run = cs - np.minimum.accumulate(np.minimum(cs, 0))
        s = int(run[-1])
        n_alerts += int((run > STREAM_CUSUM_THRESH).sum())
        mx = max(mx, int(run.max()))
    state.update((int(s), int(n_alerts), int(mx)))
    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "cusum": [s],
            "n_alerts": [n_alerts],
            "max_cusum": [mx],
        }
    )


def cusum_alert_stream(t0_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming change detection: per-conversation CUSUM state that
    outlives micro-batches, emitted per (conv, batch). State store shuffles
    on conv_id only; each update is O(batch rows) vectorized."""
    return (
        t0_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _cusum_fn,
            outputStructType=CUSUM_OUT_SCHEMA,
            stateStructType=CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def run_cusum_stream(
    spark: SparkSession, input_path: str, out_path: str, checkpoint: str,
    max_files: int = 1,
):
    """availableNow run of the CUSUM stream; one file per trigger keeps an
    in-order (time-partitioned) feed processing in event order, so the
    final state is comparable to the batch recurrence."""
    t0 = (
        spark.readStream.schema(T0_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = cusum_alert_stream(t0)

    def _sink(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .foreachBatch(_sink)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# J8: stream-stream event-time interval join
# ---------------------------------------------------------------------------


def _tool_context_sides(t0: DataFrame, lookback_minutes: int):
    """Shared projections: tool-invocation turns vs the user turns that
    preceded them in the same conversation within the lookback window."""
    tools = t0.filter(F.col("tool").isNotNull()).select(
        F.col("conv_id").alias("t_conv"),
        F.col("turn_idx").alias("tool_turn"),
        F.col("tool"),
        F.col("ts").alias("tool_ts"),
    )
    users = t0.filter(F.col("role") == "user").select(
        F.col("conv_id").alias("u_conv"),
        F.col("turn_idx").alias("user_turn"),
        F.length("text").cast("long").alias("user_chars"),
        F.col("ts").alias("user_ts"),
    )
    cond = (
        (F.col("t_conv") == F.col("u_conv"))
        & (
            F.col("user_ts")
            >= F.col("tool_ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES")
        )
        & (F.col("user_ts") <= F.col("tool_ts"))
    )
    return tools, users, cond


_TOOL_CONTEXT_COLS = [
    "conv_id", "tool_turn", "tool", "tool_ts", "user_turn", "user_ts",
    "user_chars",
]


def tool_context_join_stream(
    t0_stream: DataFrame,
    watermark: str = "2 hours",
    lookback_minutes: int = 10,
) -> DataFrame:
    """J8 stream-stream event-time interval join: each streaming tool
    invocation joined to the streaming user turns of the SAME conversation
    within the preceding `lookback_minutes` — both sides unbounded streams
    (a self-join of the transcript stream), so neither can be broadcast or
    buffered whole. Spark keys both sides' state by conv_id, the time-range
    condition bounds how long a row must be retained, and the watermarks
    let the join state evict: state size is O(active conversations ×
    lookback), independent of stream length — the property that makes the
    join runnable forever. Inner-join matches emit eagerly (no watermark
    hold, which only outer joins need), so the availableNow result equals
    the batch twin exactly (pytest)."""
    tools, users, cond = _tool_context_sides(t0_stream, lookback_minutes)
    return (
        tools.withWatermark("tool_ts", watermark)
        .join(users.withWatermark("user_ts", watermark), cond, "inner")
        .select(F.col("t_conv").alias("conv_id"), *_TOOL_CONTEXT_COLS[1:])
    )


def tool_context_left_join_stream(
    t0_stream: DataFrame,
    watermark: str = "2 hours",
    lookback_minutes: int = 10,
) -> DataFrame:
    """J9 stream-stream LEFT OUTER event-time interval join: like J8, but a
    tool invocation with NO preceding user turn in its lookback window still
    emits (user columns null). Unlike the inner join, unmatched left rows
    cannot emit eagerly — Spark must hold each tool row in state until the
    watermark proves no matching user turn can still arrive (user_ts ≤
    tool_ts, so watermark > tool_ts closes the row), then emits the
    null-padded row. State stays O(active conversations × watermark), and
    every tool row emits exactly once — matched immediately, unmatched at
    watermark close (pytest: equals the batch left join exactly once a
    flush row advances the watermark past the data)."""
    tools, users, cond = _tool_context_sides(t0_stream, lookback_minutes)
    return (
        tools.withWatermark("tool_ts", watermark)
        .join(users.withWatermark("user_ts", watermark), cond, "left_outer")
        .select(F.col("t_conv").alias("conv_id"), *_TOOL_CONTEXT_COLS[1:])
    )


def batch_tool_context_join(
    t0: DataFrame, lookback_minutes: int = 10, how: str = "inner"
) -> DataFrame:
    """Batch twin of tool_context_join_stream / tool_context_left_join_stream
    (same projections, same interval condition) — the parity oracle for the
    streaming joins."""
    tools, users, cond = _tool_context_sides(
        t0.withColumn("ts", F.col("ts").cast("timestamp")), lookback_minutes
    )
    return tools.join(users, cond, how).select(
        F.col("t_conv").alias("conv_id"), *_TOOL_CONTEXT_COLS[1:]
    )


def run_tool_context_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    ckpt_path: str,
    watermark: str = "2 hours",
    lookback_minutes: int = 10,
    how: str = "inner",
) -> None:
    """availableNow run of the stream-stream join into a parquet sink
    (append mode — the only mode stream-stream joins support)."""
    ensure_dirs(out_path, ckpt_path)
    build = (
        tool_context_join_stream
        if how == "inner"
        else tool_context_left_join_stream
    )
    j = build(read_stream_t0(spark, input_path), watermark, lookback_minutes)
    q = (
        j.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ckpt_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
