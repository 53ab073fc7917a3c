"""Chunk assembly + compression into T4 blob rows (SURVEY.md D8/H2/K1/K2/K5).

Pipeline: long-form series (conv_id, metric, bucket_start, value)
  -> group by (conv_id, metric, chunk_start=date_trunc(chunk_unit))
  -> sort_array(collect_list(struct(...)))        [JVM-side ordered gather]
  -> Arrow pandas UDFs encode ts[] (delta-of-delta) and value[] (Gorilla)
  -> chunk rows per FIXTURES.md: conv_id, tier, metric, chunk_start,
     chunk_end, n_points, ts_blob, val_blob, codec_ver, crc32.

The Python boundary is exactly two scalar pandas UDFs (Arrow-batched, one
call per chunk — never per point); everything else is built-in. decode_chunks
inverts the encoding for verification/serving (K5: decode(encode(x)) == x).
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import dod, gorilla

CODEC_VERSION = 1


@pandas_udf(T.BinaryType())
def _gorilla_encode_udf(vals: pd.Series) -> pd.Series:
    # one batch-encode call per Arrow batch (amortizes numpy setup across
    # chunks); bit-identical to per-chunk gorilla.encode()
    return pd.Series(gorilla.encode_many(list(vals)), index=vals.index)


@pandas_udf(T.BinaryType())
def _dod_encode_udf(ts: pd.Series) -> pd.Series:
    # one batch-encode call per Arrow batch, mirroring the gorilla path;
    # bit-identical to per-chunk dod.encode()
    return pd.Series(dod.encode_many(list(ts)), index=ts.index)


@pandas_udf(T.ArrayType(T.DoubleType()))
def _gorilla_decode_udf(blob: pd.Series, n: pd.Series) -> pd.Series:
    # batch-decode the whole Arrow batch; bit-identical to per-chunk decode()
    return pd.Series(
        gorilla.decode_many([bytes(b) for b in blob], list(n)),
        index=blob.index,
    )


@pandas_udf(T.ArrayType(T.LongType()))
def _dod_decode_udf(blob: pd.Series, n: pd.Series) -> pd.Series:
    return pd.Series([dod.decode(bytes(b), int(k)) for b, k in zip(blob, n)])


def make_chunks(
    series: DataFrame, tier: str = "hourly", chunk_unit: str = "month"
) -> DataFrame:
    """series -> T4 chunk-blob rows. One row per (conv_id, metric, chunk)."""
    pts = (
        series.groupBy(
            "conv_id",
            "metric",
            F.date_trunc(chunk_unit, "bucket_start").alias("chunk_start"),
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct("bucket_start", "value"))
            ).alias("pts")
        )
        .select(
            "conv_id",
            "metric",
            "chunk_start",
            F.transform(
                "pts",
                lambda p: F.unix_micros(p.bucket_start.cast("timestamp_ltz")),
            ).alias("ts_arr"),
            F.transform("pts", lambda p: p.value).alias("val_arr"),
            F.element_at(F.col("pts"), -1).bucket_start.alias("chunk_end"),
            F.size("pts").alias("n_points"),
        )
    )
    return pts.select(
        "conv_id",
        F.lit(tier).alias("tier"),
        "metric",
        F.col("chunk_start").cast("timestamp_ntz").alias("chunk_start"),
        F.col("chunk_end").cast("timestamp_ntz").alias("chunk_end"),
        F.col("n_points").cast("int").alias("n_points"),
        _dod_encode_udf("ts_arr").alias("ts_blob"),
        _gorilla_encode_udf("val_arr").alias("val_blob"),
        F.lit(CODEC_VERSION).alias("codec_ver"),
    ).withColumn("crc32", F.crc32(F.concat("ts_blob", "val_blob")))


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """T4 chunk rows -> long-form series (K5 inverse path). Verifies CRC
    JVM-side before any Python decode touches the blob."""
    checked = chunks.withColumn(
        "_crc_ok", F.crc32(F.concat("ts_blob", "val_blob")) == F.col("crc32")
    )
    bad = checked.filter(~F.col("_crc_ok"))
    decoded = (
        checked.filter(F.col("_crc_ok"))
        .select(
            "conv_id",
            "tier",
            "metric",
            _dod_decode_udf("ts_blob", "n_points").alias("ts_arr"),
            _gorilla_decode_udf("val_blob", "n_points").alias("val_arr"),
        )
        .select(
            "conv_id",
            "tier",
            "metric",
            F.explode(F.arrays_zip("ts_arr", "val_arr")).alias("p"),
        )
        .select(
            "conv_id",
            "tier",
            "metric",
            F.timestamp_micros(F.col("p.ts_arr"))
            .cast("timestamp_ntz")
            .alias("bucket_start"),
            F.col("p.val_arr").alias("value"),
        )
    )
    return decoded, bad


def read_chunk_range(chunks: DataFrame, lo, hi) -> tuple[DataFrame, DataFrame]:
    """Pruned serve path over T4 blobs (the TSDB range read): only chunks
    whose [chunk_start, chunk_end] span OVERLAPS [lo, hi) are CRC-checked
    and decoded; decoded points are then clipped to the range exactly.

    The overlap predicate references only the chunk-boundary metadata
    columns, so on a written chunk table it prunes at parquet row-group
    granularity (chunk_start/chunk_end are timestamp_ntz — real min/max
    stats) BEFORE any blob bytes cross the Python boundary. At 100 TB the
    decode UDF is the expensive stage; a one-day query over a year of
    month-chunked series pays for ~1/12 of the blobs, not all of them.
    On the pipeline's chunks table, partitioned by `chunk_month`, the scan
    first prunes to the month directories overlapping [lo, hi): a range
    inside one month opens one file. A table without that column (an
    in-memory make_chunks frame, or a root not yet re-keyed by month) is
    read whole.
    Returns (points, bad_crc_chunks) like decode_chunks."""
    lo_c = F.lit(lo).cast("timestamp_ntz")
    hi_c = F.lit(hi).cast("timestamp_ntz")
    pruned = chunks.filter(
        (F.col("chunk_end") >= lo_c) & (F.col("chunk_start") < hi_c)
    )
    if "chunk_month" in chunks.columns:
        pruned = pruned.filter(
            F.col("chunk_month").between(
                F.date_format(lo_c, "yyyy-MM"),
                F.date_format(hi_c - F.expr("INTERVAL 1 MICROSECOND"), "yyyy-MM"),
            )
        )
    decoded, bad = decode_chunks(pruned)
    return (
        decoded.filter(
            (F.col("bucket_start") >= lo_c) & (F.col("bucket_start") < hi_c)
        ),
        bad,
    )


def compression_stats(chunks: DataFrame) -> DataFrame:
    """bytes/point per metric — the bench reports this vs raw 16 B/point."""
    return chunks.groupBy("tier", "metric").agg(
        F.sum("n_points").alias("points"),
        F.sum(F.length("ts_blob") + F.length("val_blob")).alias("bytes"),
        (
            F.sum(F.length("ts_blob") + F.length("val_blob"))
            / F.sum("n_points")
        ).alias("bytes_per_point"),
    )


def crc32_py(b: bytes) -> int:
    """Python-side CRC (tests): matches Spark's F.crc32."""
    return zlib.crc32(b) & 0xFFFFFFFF
