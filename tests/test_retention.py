"""Retention tests (SURVEY.md §5.6): post-drop, monthly tier still queryable
(EP3) and raw partitions gone; drop refuses when rollup not committed."""

import os
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine.pipeline import TierPipeline  # noqa: E402
from engine.retention import (  # noqa: E402
    RetentionError,
    drop_hourly_partitions,
    droppable_hourly_days,
    retention_status,
)
from engine.synth import synth_transcripts  # noqa: E402


@pytest.fixture(scope="module")
def t0(spark):
    df = synth_transcripts(spark, n_convs=40, hot_turns=300)
    df.cache().count()
    return df


def test_refuses_drop_without_downstream(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "r1"))
    pipe.run(t0, stages=("hourly",))  # no daily/monthly committed
    days = [
        r["partition_key"].split("=", 1)[1]
        for r in pipe.manifest.committed_keys("hourly").collect()
    ]
    assert droppable_hourly_days(pipe, "9999-12-31") == []
    with pytest.raises(RetentionError):
        drop_hourly_partitions(pipe, days[:1], run_id="t")


def test_drop_after_full_lineage(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "r2"))
    pipe.run(t0)
    monthly_before = pipe.read_tier("monthly").count()
    days = droppable_hourly_days(pipe, older_than="9999-12-31")
    assert days  # full lineage committed -> everything droppable
    dropped = drop_hourly_partitions(pipe, days[:2], run_id="t2")
    assert dropped == days[:2]
    for d in dropped:
        assert not os.path.exists(
            os.path.join(pipe.tier_data_path("hourly"), f"bucket_date={d}")
        )
    # EP3: continuous aggregates remain queryable after the raw drop
    pipe.register_views()
    got = pipe.spark.sql(
        "SELECT COUNT(*) AS n, SUM(token_count_sum) AS s FROM tiers_monthly"
    ).collect()[0]
    assert got["n"] == monthly_before and got["s"] > 0
    # retention recorded in the manifest
    assert retention_status(pipe).get("retention") == 2


def test_retention_policy_cutoff(spark, t0, tmp_path):
    pipe = TierPipeline(spark, str(tmp_path / "r3"))
    pipe.run(t0)
    all_days = sorted(droppable_hourly_days(pipe, "9999-12-31"))
    cutoff = all_days[len(all_days) // 2]
    older = droppable_hourly_days(pipe, older_than=cutoff)
    assert older and all(d < cutoff for d in older)


def test_compact_partition_file_counts_and_content(spark, tmp_path):
    from engine.pipeline import TierPipeline
    from engine.retention import compact_partition
    from engine.synth import synth_transcripts

    t0 = synth_transcripts(spark, n_convs=30, hot_turns=150)
    pipe = TierPipeline(spark, str(tmp_path / "c"))
    pipe.run(t0, stages=("hourly",))
    path = pipe.tier_path("hourly")
    before = (
        pipe.read_tier("hourly")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
    )

    def files_per_part():
        out = {}
        path = pipe.tier_data_path("hourly")
        for d in os.listdir(path):
            if d.startswith("bucket_date="):
                out[d] = len(
                    [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
                )
        return out

    compact_partition(pipe, "hourly", n_files=1)
    counts = files_per_part()
    assert counts and all(n == 1 for n in counts.values()), counts
    assert not os.path.exists(path + "__old"), "promote must clean up"
    after = (
        pipe.read_tier("hourly")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(before[after.columns], after, check_dtype=False)


def test_compaction_crash_recovery(spark, tmp_path):
    """Earlier versions compacted a plain tier in place: a compaction killed
    between its two promotion renames left the tier absent at its path with
    the data stranded at path+'__old'. The next pipeline read adopts
    path+'__old' as the table's first snapshot (ADVICE r2)."""
    import shutil

    from engine.synth import synth_transcripts

    t0 = synth_transcripts(spark, n_convs=10, hot_turns=50)
    pipe = TierPipeline(spark, str(tmp_path / "cr"))
    pipe.run(t0, stages=("hourly",))
    path = pipe.tier_path("hourly")
    before = (
        pipe.read_tier("hourly")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
    )
    # plant the crash window as the in-place compaction left it: the plain
    # tree renamed aside, the compacted copy never promoted
    shutil.copytree(pipe.tier_data_path("hourly"), path + "__old",
                    ignore=shutil.ignore_patterns("meta.json"))
    shutil.rmtree(path)
    assert not os.path.exists(path)
    after = (
        pipe.read_tier("hourly")  # first access adopts path+'__old'
        .toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True)
    )
    assert os.path.exists(path) and not os.path.exists(path + "__old")
    pd.testing.assert_frame_equal(before, after)
    # idempotent when nothing to adopt; never clobbers a live tier
    assert pipe._store(path).adopt() is None
    pd.testing.assert_frame_equal(
        pipe.read_tier("hourly").toPandas()
        .sort_values(["conv_id", "bucket_start"], ignore_index=True),
        before,
    )


def _table_pdf(pipe, name, keys):
    return (
        pipe.read_table(name)
        .toPandas()
        .sort_values(keys, ignore_index=True)
    )


def test_hourly_drop_then_rerun_is_stable(spark, t0, tmp_path):
    """The retention / resume interaction: after an L1 hourly drop, a rerun
    over the SAME raw input must be a full no-op — the dropped days must
    not be re-created, read as deleted input (stale cascade), or read as
    late data (spurious series re-roll truncating the archived chunks, and
    with them the gap-fill served over the dropped days).
    Pins the recommitted fingerprints + protect-set machinery."""
    import pandas as pd

    from engine.pipeline import TierPipeline
    from engine.rewrite import serve_gapfill

    pipe = TierPipeline(spark, str(tmp_path / "rr"))
    pipe.run(t0)
    days = droppable_hourly_days(pipe, older_than="9999-12-31")
    dropped = drop_hourly_partitions(pipe, days[:2], run_id="rr")
    assert dropped == days[:2]
    keys = {
        "daily": ["conv_id", "bucket_start"],
        "monthly": ["conv_id", "bucket_start"],
        "chunks": ["conv_id", "metric", "chunk_start"],
        "gapfill": ["conv_id", "metric", "bucket_start"],
    }

    def frames():
        out = {n: pipe.read_table(n) for n in ("daily", "monthly", "chunks")}
        out["gapfill"] = serve_gapfill(
            pipe.read_tier("hourly"),
            pipe.read_table("chunks"), "2000-01-01", "2100-01-01",
            pipe.fill_method,
        )
        return {
            n: df.toPandas().sort_values(keys[n], ignore_index=True)
            for n, df in out.items()
        }

    before = frames()
    res = pipe.run(t0)
    assert all(n == 0 for n in res["stages"].values()), res
    for d in dropped:
        assert not os.path.exists(
            os.path.join(pipe.tier_data_path("hourly"), f"bucket_date={d}")
        ), "rerun must not resurrect retention-dropped hourly days"
    for name, after in frames().items():
        b = before[name]
        pd.testing.assert_frame_equal(after[b.columns], b, obj=name)


def test_daily_retention_freezes_month(spark, t0, tmp_path):
    """VERDICT r2 item 9: daily days drop once their month is committed;
    the month is then FROZEN — late raw data is refused (frozen_skipped),
    never aggregated from a partial month — and the monthly tier stays
    queryable byte-for-byte."""
    import pandas as pd

    from engine.pipeline import TierPipeline
    from engine.retention import (
        drop_daily_partitions,
        droppable_daily_days,
        frozen_months,
    )
    from pyspark.sql import functions as F

    pipe = TierPipeline(spark, str(tmp_path / "dr"))
    pipe.run(t0, stages=("hourly", "daily"))
    with pytest.raises(RetentionError):
        drop_daily_partitions(pipe, ["1970-01-01"], run_id="d0")
    assert droppable_daily_days(pipe, "9999-12-31") == []  # monthly missing
    pipe.run(t0)  # complete the lineage
    days = droppable_daily_days(pipe, older_than="9999-12-31")
    assert days
    victim_month = days[0][:7]
    month_days = [d for d in days if d.startswith(victim_month)]
    monthly_before = _table_pdf(
        pipe, "monthly", ["conv_id", "bucket_start"]
    )
    dropped = drop_daily_partitions(pipe, month_days, run_id="d1")
    assert dropped == month_days
    assert frozen_months(pipe.manifest) == {victim_month}
    for d in dropped:
        assert not os.path.exists(
            os.path.join(pipe.tier_data_path("daily"), f"bucket_date={d}")
        )
    # late raw data lands in the frozen month -> refused, tiers unchanged
    late = t0.limit(50).withColumn(
        "ts", F.to_timestamp(F.lit(f"{victim_month}-15 12:00:00"))
    )
    res = pipe.run(t0.unionByName(late))
    assert "frozen_skipped" in res["stages"], res
    assert res["stages"]["frozen_skipped"] == [victim_month]
    monthly_after = _table_pdf(
        pipe, "monthly", ["conv_id", "bucket_start"]
    )
    frozen_rows_b = monthly_before[
        monthly_before["bucket_month"] == victim_month
    ].reset_index(drop=True)
    frozen_rows_a = monthly_after[
        monthly_after["bucket_month"] == victim_month
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(frozen_rows_a, frozen_rows_b)


def test_chunk_month_retention(spark, t0, tmp_path):
    """VERDICT r2 item 8: chunks month partitions expire with the same
    refusal/drop/still-queryable triple as hourly days, and a rerun over
    unchanged input keeps them dropped (fingerprint match)."""
    from pyspark.sql import functions as F

    from engine.pipeline import TierPipeline
    from engine.retention import drop_chunk_months, droppable_chunk_months

    pipe = TierPipeline(spark, str(tmp_path / "cm"))
    pipe.run(t0, stages=("hourly", "daily", "monthly"))  # compress not run
    assert droppable_chunk_months(pipe) == []
    month = sorted(
        r["m"] for r in t0.select(F.date_format("ts", "yyyy-MM").alias("m"))
        .distinct().collect()
    )[0]
    with pytest.raises(RetentionError):
        drop_chunk_months(pipe, [month], run_id="c0")
    pipe.run(t0)  # commit compress

    def chunks():
        return pipe.read_table("chunks")

    safe = droppable_chunk_months(pipe)
    assert safe
    victims = safe[:2]
    total_before = chunks().count()
    n_victim = (
        chunks()
        .filter(F.col("chunk_month").isin(victims))
        .count()
    )
    assert n_victim > 0
    dropped = drop_chunk_months(pipe, victims, run_id="c1")
    assert dropped == victims
    remaining = chunks()
    assert remaining.count() == total_before - n_victim
    assert remaining.filter(F.col("chunk_month").isin(victims)).count() == 0
    res = pipe.run(t0)  # unchanged input: months stay dropped
    assert all(n == 0 for n in res["stages"].values()), res
    assert (
        chunks()
        .filter(F.col("chunk_month").isin(victims))
        .count()
        == 0
    )


def test_compact_series_tables(spark, t0, tmp_path):
    """L2 extended to the month-keyed series table: chunk partitions
    compact to ~1 file each, content byte-identical."""
    from engine.retention import compact_partition

    pipe = TierPipeline(spark, str(tmp_path / "cs"))
    pipe.run(t0)
    keys = ["conv_id", "metric", "chunk_start"]
    before = _table_pdf(pipe, "chunks", keys)
    compact_partition(pipe, "compress", n_files=1)
    path = pipe._chunks_dir()
    counts = {
        d: len([f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")])
        for d in os.listdir(path) if d.startswith("chunk_month=")
    }
    assert counts and all(n == 1 for n in counts.values()), counts
    after = _table_pdf(pipe, "chunks", keys)
    pd.testing.assert_frame_equal(after, before)


def test_compact_with_sort_order_enables_rowgroup_skipping(spark, t0, tmp_path):
    """Iceberg rewrite-with-sort-order: after a sorted compaction, each
    file's row groups carry disjoint, ordered conv_id min/max stats — a
    point lookup can skip every non-matching row group from the footer
    alone — and the data is byte-identical to before."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from engine.retention import compact_partition

    dense = synth_transcripts(spark, n_convs=400, hot_turns=4000)
    pipe = TierPipeline(spark, str(tmp_path / "srt"))
    pipe.run(dense, stages=("hourly",))
    keys = ["conv_id", "bucket_start", "filled"]
    before = _table_pdf(pipe, "hourly", keys)
    compact_partition(
        pipe, "hourly", n_files=1,
        sort_by=("conv_id", "bucket_start"), rowgroup_bytes=4 * 1024,
    )
    pd.testing.assert_frame_equal(_table_pdf(pipe, "hourly", keys), before)
    path = pipe.tier_data_path("hourly")

    multi_rg_files = 0
    for d in os.listdir(path):
        if not d.startswith("bucket_date="):
            continue
        for fn in os.listdir(os.path.join(path, d)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, d, fn)).metadata
            idx = md.schema.names.index("conv_id")
            spans = [
                (
                    md.row_group(i).column(idx).statistics.min,
                    md.row_group(i).column(idx).statistics.max,
                )
                for i in range(md.num_row_groups)
            ]
            assert all(lo <= hi for lo, hi in spans)
            # ordered and non-overlapping beyond the shared boundary key:
            # a conv spanning two row groups may repeat at the seam
            for (plo, phi), (lo, hi) in zip(spans, spans[1:]):
                assert lo >= phi, (fn, spans)
            if md.num_row_groups >= 2:
                multi_rg_files += 1
    assert multi_rg_files > 0  # small block size actually split groups
    # the skipping-shaped query still answers correctly
    one = before["conv_id"].iloc[0]
    got = (
        pipe.read_tier("hourly")
        .filter(F.col("conv_id") == one)
        .count()
    )
    assert got == int((before["conv_id"] == one).sum())
