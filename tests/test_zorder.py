"""Z-order compaction (engine/zorder.py + compact_partition(zorder=...)):
Morton-key correctness, data preservation, and footer-level evidence that
row-group stats prune on BOTH dimensions — vs a linear sort that prunes
only its leading column."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from engine.pipeline import TierPipeline  # noqa: E402
from engine.retention import compact_partition  # noqa: E402
from engine.synth import synth_transcripts  # noqa: E402
from engine.zorder import with_zorder_key  # noqa: E402


def _morton(a: int, b: int) -> int:
    out = 0
    for i in range(16):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_morton_key_matches_reference(spark):
    """__z equals a bit-by-bit python Morton interleave of the rank-16
    positions of both dimensions."""
    pdf = pd.DataFrame(
        {
            "k": [f"c{i:03d}" for i in range(40) for _ in range(2)],
            "t": list(range(80)),
        }
    )
    df = spark.createDataFrame(pdf)
    got = with_zorder_key(df, ("k", "t")).toPandas()
    # reference ranks: percent_rank = (rank-1)/(n_distinct-1)
    for dim in ("k", "t"):
        vals = sorted(pdf[dim].unique())
        pos = {v: int((i / (len(vals) - 1)) * 65535) for i, v in enumerate(vals)}
        got[f"r_{dim}"] = got[dim].map(pos)
    expect = [
        _morton(a, b) for a, b in zip(got["r_k"], got["r_t"])
    ]
    assert list(got["__z"]) == expect
    assert len(got) == len(pdf)  # rank join is 1:1


def _rg_spans(path: str, col: str):
    """Per-file (row-group (min,max) list, per-file probe values) for `col`.
    Probes are drawn from each file's OWN distinct values (evenly sampled),
    so containment measures row-group skipping in isolation — global probes
    would credit the partition layout (a chunk_month dir holds only its
    month's chunks) with pruning the sort never did."""
    import pyarrow.parquet as pq

    out = {}
    for d in os.listdir(path):
        if "=" not in d or not os.path.isdir(os.path.join(path, d)):
            continue
        for fn in os.listdir(os.path.join(path, d)):
            if not fn.endswith(".parquet"):
                continue
            f = pq.ParquetFile(os.path.join(path, d, fn))
            md = f.metadata
            idx = md.schema.names.index(col)
            spans = [
                (
                    md.row_group(i).column(idx).statistics.min,
                    md.row_group(i).column(idx).statistics.max,
                )
                for i in range(md.num_row_groups)
            ]
            vals = sorted(set(f.read(columns=[col]).column(0).to_pylist()))
            probes = vals[:: max(1, len(vals) // 7)][:7]
            out[(d, fn)] = (spans, probes)
    return out


def _containment(spans_by_file) -> float:
    """Average fraction of row groups whose [min,max] contains a probe —
    the footer-level scan fraction for a point predicate on a value that
    exists in the file (lower = better skipping)."""
    fracs = []
    for spans, probes in spans_by_file.values():
        if len(spans) < 2:
            continue
        for p in probes:
            hit = sum(1 for lo, hi in spans if lo <= p <= hi)
            fracs.append(hit / len(spans))
    assert fracs, "no multi-row-group files — rowgroup_bytes too large"
    return sum(fracs) / len(fracs)


def test_zorder_rewrite_preserves_data(spark, tmp_path):
    """compact_partition(zorder=...) through a REAL pipeline chunks table:
    rows byte-identical, point lookups still correct on the new layout."""
    t0 = synth_transcripts(spark, n_convs=120, hot_turns=1200)
    pipe = TierPipeline(spark, os.path.join(str(tmp_path), "z"))
    pipe.run(t0)
    keys = ["conv_id", "metric", "chunk_start"]
    before = (
        pipe.read_table("chunks")
        .toPandas()
        .sort_values(keys, ignore_index=True)
        .reindex(sorted(pipe.read_table("chunks").columns), axis=1)
    )

    compact_partition(
        pipe, "compress", n_files=1,
        zorder=("conv_id", "chunk_start"), rowgroup_bytes=4 * 1024,
    )

    after = (
        pipe.read_table("chunks")
        .toPandas()
        .sort_values(keys, ignore_index=True)
        .reindex(sorted(before.columns), axis=1)
    )
    pd.testing.assert_frame_equal(after, before)

    one = before["conv_id"].iloc[0]
    got = (
        pipe.read_table("chunks")
        .filter(F.col("conv_id") == one)
        .count()
    )
    assert got == int((before["conv_id"] == one).sum())

    with pytest.raises(ValueError):
        compact_partition(
            pipe, "compress",
            zorder=("conv_id", "chunk_start"), sort_by=("conv_id",),
        )


@pytest.fixture(scope="module")
def grid_pipes(spark, tmp_path_factory):
    """Two pipelines whose chunks path holds the SAME dense uniform
    (conv × hour) grid, a test-local chunk_month-partitioned table — every
    conv spans the full time range, so the pruning theory is clean: a
    time-only sort cannot separate convs (every hour contains all of them),
    while z-order carves rectangles. Real series clip each conversation to
    its own span, which correlates conv and time and muddies the
    counterfactual; compact_partition reads only the table, so writing the
    grid directly (a plain tree, adopted as the table's first snapshot on
    first access) exercises the identical rewrite."""
    root = str(tmp_path_factory.mktemp("zgrid"))
    grid = (
        spark.range(192)
        .select(F.format_string("conv-%05d", "id").alias("conv_id"))
        .crossJoin(
            spark.range(240).select(
                # NTZ like the pipeline's tables — plain TIMESTAMP writes
                # INT96 pages with NO row-group statistics
                F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600)
                .cast("timestamp_ntz")
                .alias("bucket_start")
            )
        )
        .withColumn("metric", F.lit("m"))
        .withColumn("value", F.xxhash64("conv_id", "bucket_start").cast("double"))
        .withColumn("chunk_month", F.date_format("bucket_start", "yyyy-MM"))
    )
    paths = {}
    for name in ("z", "lin"):
        pipe = TierPipeline(spark, os.path.join(root, name))
        grid.write.partitionBy("chunk_month").parquet(pipe.chunks_path)
        paths[name] = pipe
    return paths["z"], paths["lin"]


def test_zorder_prunes_both_dimensions(spark, grid_pipes):
    pipe, lin = grid_pipes
    compact_partition(
        pipe, "compress", n_files=1,
        zorder=("conv_id", "bucket_start"), rowgroup_bytes=8 * 1024,
    )
    # counterfactual: time-only linear sort — a secondary conv key would
    # itself cluster convs inside each hour and muddy the comparison
    compact_partition(
        lin, "compress", n_files=1,
        sort_by=("bucket_start",), rowgroup_bytes=8 * 1024,
    )

    z_conv = _containment(_rg_spans(pipe._chunks_dir(), "conv_id"))
    z_time = _containment(_rg_spans(pipe._chunks_dir(), "bucket_start"))
    l_conv = _containment(_rg_spans(lin._chunks_dir(), "conv_id"))
    l_time = _containment(_rg_spans(lin._chunks_dir(), "bucket_start"))

    # z-order: BOTH dimensions prune at footer level
    assert z_conv < 0.5, (z_conv, l_conv)
    assert z_time < 0.5, (z_time, l_time)
    # linear time sort: its own dim prunes sharply, the other barely at all
    assert l_conv > 0.9, l_conv
    assert l_time <= z_time, (l_time, z_time)
    # and z-order's conv pruning must beat the time-sorted layout's by a
    # wide margin — the whole point of the interleave
    assert z_conv < l_conv / 2, (z_conv, l_conv)
