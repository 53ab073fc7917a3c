"""Table IO seam (SURVEY.md §2 A, §7.1).

Two backends behind one interface, selected per-session by
``tier_backend``: (a) parquet + explicit partition columns emulating Iceberg
hidden partitioning (days(ts), bucket(conv_id, B)) — the in-sandbox default
(no iceberg-spark-runtime jar exists here); (b) a real Iceberg catalog when
any ``spark.sql.catalog.<name>`` is configured at session launch — tier
paths map onto ``<name>.tiers.<basename>`` identifiers, reads go through
``spark.read.table`` and overwrites through ``writeTo(...)
.overwritePartitions()`` (Iceberg's atomic dynamic-partition commit). The
branch selection is unit-tested config-level (tests/test_roundtrip.py);
the Iceberg write itself is exercised only where the runtime jar exists.
Atomic per-partition overwrite on the parquet backend uses dynamic
partitionOverwriteMode so a re-run of one (tier, day) partition never
clobbers its siblings — the distributed generalization of the reference's
write-GeoTIFF-then-skip idiom.

`atomic_write` is the engine's one file-level commit: every pointer, meta,
tag, lease and manifest/tombstone file goes through it, and
`read_pointer` reads the single-value ones back.
"""

from __future__ import annotations

import os
import re
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bucket import T0_SCHEMA

_CATALOG_KEY = re.compile(r"^spark\.sql\.catalog\.([A-Za-z0-9_]+)$")


# SparkContext -> its catalog name. The context's conf is fixed at launch,
# and reading it back costs one py4j round trip per entry; every tier read
# and write asks.
_CATALOG_BY_CONTEXT: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def iceberg_catalog(spark: SparkSession, _conf_items=None) -> str | None:
    """Name of the configured Iceberg catalog, or None (parquet mode).
    `_conf_items` injects (key, value) pairs for config-level tests."""
    if _conf_items is not None:
        return _catalog_in(_conf_items)
    sc = spark.sparkContext
    if sc not in _CATALOG_BY_CONTEXT:
        _CATALOG_BY_CONTEXT[sc] = _catalog_in(sc.getConf().getAll())
    return _CATALOG_BY_CONTEXT[sc]


def _catalog_in(items) -> str | None:
    for k, _v in items:
        m = _CATALOG_KEY.match(k)
        if m:
            return m.group(1)
    return None


def table_identifier(catalog: str, path: str) -> str:
    """Stable tier-path → catalog identifier mapping: the path basename
    becomes the table name under the catalog's `tiers` namespace."""
    parts = [p for p in path.rstrip("/").split("/") if p]
    return f"{catalog}.tiers.{parts[-1]}"


def tier_backend(spark: SparkSession, path: str, _conf_items=None):
    """('iceberg', <identifier>) when a catalog is configured, else
    ('parquet', <path>) — the single dispatch point both read and write
    sides share."""
    cat = iceberg_catalog(spark, _conf_items)
    if cat is not None:
        return "iceberg", table_identifier(cat, path)
    return "parquet", path

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Driver-fixture scan (A2)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """T0 scan with schema enforcement (A1); partition/predicate pushdown is
    Catalyst's job once filters are applied by callers."""
    return spark.read.schema(T0_SCHEMA).parquet(path)


def transcripts_from_events(events: DataFrame) -> DataFrame:
    """Adapt the driver's `events` fixture into T0 shape so driver-checked
    queries exercise the tier pipeline on driver data: one conversation per
    user, turns ordered by (ts, event_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("clicker")).alias("tool"),
        F.col("ts"),
    )


def spread_partitions(df: DataFrame, partition_cols) -> DataFrame:
    """Align a partitioned write's tasks with its partition directories
    (guide §6): hash-repartition on the partition columns with an EXPLICIT
    partition count — AQE never coalesces an explicit repartition — so
    directory writes spread across the cluster instead of serializing in
    whatever single task AQE coalesced a small aggregate into. Measured on
    a 475-day tier write: one parquet writer open/commit costs ~10 ms, so
    the coalesced single-task write paid ~5 s of pure sequential file
    churn; spread across tasks it is ~0.3 s. Each directory is still
    written by exactly one task, so per-directory file counts never grow;
    at cluster scale a directory exceeding one task's share splits via
    spark.sql.files.maxRecordsPerFile when configured."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in partition_cols])


def write_tier(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("tier", "bucket_date"),
    mode: str = "overwrite",
) -> None:
    """Tier sink (A3): dynamic partition overwrite, partitioned by tier and
    bucket date so time-range queries prune at the directory level."""
    out = df
    if "bucket_date" in partition_cols and "bucket_date" not in df.columns:
        out = out.withColumn("bucket_date", F.to_date("bucket_start"))
    backend, target = tier_backend(df.sparkSession, path)
    if backend == "iceberg":
        writer = out.writeTo(target).using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace() if not df.sparkSession.catalog.tableExists(
                target
            ) else writer.overwritePartitions()
        else:
            writer.append()
        return
    (
        spread_partitions(out, partition_cols)
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .mode(mode)
        .parquet(target)
    )


def partition_row_counts(path: str, part: str, vals) -> dict[str, int]:
    """Row count of each `part=<val>` partition directory of the parquet
    table at `path`, from its file footers alone (no Spark job): the
    driver-side answer to "how many rows did this write leave in each
    partition". Counts exactly the files a Spark scan reads — names
    starting with '_' or '.' (_SUCCESS, .crc) are skipped — and walks
    nested sub-partition directories (day/conv_bucket layouts). A missing
    directory counts 0, like an empty partition."""
    import pyarrow.parquet as pq

    def rows(d: str) -> int:
        n = 0
        for e in os.scandir(d):
            if e.name.startswith(("_", ".")):
                continue
            n += rows(e.path) if e.is_dir() else pq.read_metadata(e.path).num_rows
        return n

    out = {}
    for v in vals:
        d = os.path.join(path, f"{part}={v}")
        out[v] = rows(d) if os.path.isdir(d) else 0
    return out


def atomic_write(path: str, data: str | bytes) -> None:
    """The engine's one file-level commit: write `data` to a temp file in
    `path`'s directory, fsync it, `os.replace` it onto `path`, then fsync
    the directory. Readers see the old content or the new, never a torn
    file, and the new content survives a power cut once this returns. The
    temp name `.<basename>.tmp-<hex>` is dot-prefixed and never ends in
    `.parquet`, so no listing, Spark scan or snapshot walk picks up one a
    crash left behind."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "wb") as f:
        f.write(data.encode() if isinstance(data, str) else data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(d or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def parquet_bytes(table) -> bytes:
    """An arrow table serialized as one parquet file, for `atomic_write`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    return buf.getvalue().to_pybytes()


def read_pointer(path: str) -> str | None:
    """A single-value pointer file's stripped text; None when it is missing
    or empty."""
    try:
        with open(path) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def read_tier(spark: SparkSession, path: str, tier: str | None = None) -> DataFrame:
    backend, target = tier_backend(spark, path)
    df = (
        spark.read.table(target)
        if backend == "iceberg"
        else spark.read.parquet(target)
    )
    if tier is not None:
        df = df.filter(F.col("tier") == tier)  # partition-pruned scan
    return df
