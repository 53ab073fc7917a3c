"""Persisted per-file pruning index: min/max + Bloom file skipping.

At 100 TB a point query ("conversation X's full history", "all events for
user U") must not open the store's every file: partition pruning cuts to
one conv_bucket (1/64), sorted compaction gives row-group skipping WITHIN
a file, but Spark still lists and opens every parquet footer in the
surviving partitions — O(files) driver work and O(files) seeks per lookup.
Iceberg/Delta solve this with FILE-level column stats kept in table
metadata; `FileIndex` is that idea engine-side, over plain parquet roots:

    one index row per data file:
        (file, sz, mtime_ns, rows, kmin, kmax, bloom: binary)

- **Build is distributed, one pass**: rows group by `input_file_name()`;
  min/max/count come from a plain hash agg, the Bloom filter from k
  md5-derived bit positions per key (explode → distinct → collect_set)
  packed into a bitset by a vectorized pandas UDF. Nothing data-scale ever
  reaches the driver.
- **Lookup is metadata-scale, zero Spark jobs**: the index table (one row
  per FILE, ~16 KiB each) is read driver-side with pyarrow; a candidate
  file must satisfy kmin ≤ v ≤ kmax AND all k Bloom bits — possible only
  because the bit positions are md5-prefix arithmetic replayable exactly
  in Python (same trick as the corpus 60-bit gram fingerprints,
  engine/corpusops.py). `read_point` then scans ONLY the candidates and
  re-applies the exact predicate, so Bloom false positives cost I/O,
  never correctness; false negatives are impossible (every file's every
  key set its bits).
- **Maintenance is incremental by inventory diff**: a file's identity is
  (relpath, size, mtime_ns) — the engine's writers never append in place,
  so identity change ⟺ content change. `refresh()` re-indexes only
  new/rewritten files, drops rows for vanished ones, and reuses the rest
  verbatim; the published index flips atomically behind a SnapStore
  pointer (pinned readers keep their view). A changed (key, nbits,
  nhashes) spec is a `_SPEC`-token mismatch → one full rebuild, the same
  schema-evolution-as-fingerprint-change idiom as the tier state columns.

Sizing: nbits=2^17 (16 KiB/file) with k=5 holds ~10k distinct keys per
file under 1% FP; a 128 MB parquet file of hourly tier rows carries about
that many distinct conv_ids. At 100 TB ≈ 10^6 files the whole index is
~16 GB parquet — itself partition-prunable by table, and each lookup
reads only the stats columns + bloom of one table's rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from .io import atomic_write, read_pointer
from .snapstore import SnapStore

_IDENT = ("file", "sz", "mtime_ns")


def _md5_pos_expr(key: str, seed: int, nbits: int):
    """Bit position seed `seed` for the key's canonical string form —
    60-bit md5 prefix mod nbits, exactly replayable by `_md5_pos_py`."""
    h = F.md5(F.concat(F.col(key).cast("string"), F.lit(f"#{seed}")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % nbits


def _md5_pos_py(value, seed: int, nbits: int) -> int:
    h = hashlib.md5(f"{value}#{seed}".encode()).hexdigest()
    return int(h[:15], 16) % nbits


def _pack_bits(nbits: int):
    """pandas UDF: array<long> of set positions → little-endian bitset."""

    @F.pandas_udf(BinaryType())
    def pack(poss: pd.Series) -> pd.Series:
        out = []
        for positions in poss:
            bits = np.zeros(nbits // 8, dtype=np.uint8)
            if len(positions):
                p = np.asarray(positions, dtype=np.int64)
                np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
            out.append(bits.tobytes())
        return pd.Series(out)

    return pack


class FileIndex:
    """File-skipping index over one parquet table root for one key column.

    `key` must be a DATA column (not a partition directory column) of
    string or integral type — min/max keep the native type; Bloom hashing
    uses the value's canonical string form on both sides.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        index_path: str,
        key: str,
        *,
        nbits: int = 1 << 17,
        nhashes: int = 5,
    ):
        if nbits % 8:
            raise ValueError("nbits must be a multiple of 8")
        self.spark = spark
        self.table_path = os.path.abspath(table_path)
        # single-FILE tables (e.g. the testdata fixtures) index fine: the
        # path base for relpaths/basePath is then the containing directory
        self._base = (
            os.path.dirname(self.table_path)
            if os.path.isfile(self.table_path)
            else self.table_path
        )
        self.index_path = index_path
        self.key = key
        self.nbits = nbits
        self.nhashes = nhashes
        self.store = SnapStore(index_path)
        os.makedirs(index_path, exist_ok=True)

    # -- spec ---------------------------------------------------------------
    def spec_token(self) -> str:
        blob = json.dumps(
            {"key": self.key, "nbits": self.nbits, "nhashes": self.nhashes}
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def _spec_file(self) -> str:
        return os.path.join(self.index_path, "_SPEC")

    def _stored_spec(self) -> str | None:
        return read_pointer(self._spec_file())

    # -- inventory ------------------------------------------------------------
    def _inventory(self) -> dict[str, tuple[int, int]]:
        """{relpath: (size, mtime_ns)} for every data file under the table
        root — driver-side metadata listing, the manifest idiom."""
        if os.path.isfile(self.table_path):
            st = os.stat(self.table_path)
            rel = os.path.relpath(self.table_path, self._base)
            return {rel: (st.st_size, st.st_mtime_ns)}
        inv = {}
        for dirpath, dirnames, filenames in os.walk(self.table_path):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for fn in filenames:
                if fn.startswith((".", "_")) or not fn.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                rel = os.path.relpath(p, self._base)
                inv[rel] = (st.st_size, st.st_mtime_ns)
        return inv

    # -- build ----------------------------------------------------------------
    def _index_files(self, relpaths: list[str], inv: dict) -> DataFrame:
        """Distributed stats+Bloom build over exactly these files."""
        paths = [os.path.join(self._base, r) for r in relpaths]
        df = (
            self.spark.read.option("basePath", self._base)
            .parquet(*paths)
            .select(
                F.input_file_name().alias("_f"),
                F.col(self.key).alias("_k"),
            )
            # normalize file:/abs/path and file:///abs/path to relpath
            # (literal replace for the root — paths are not regexes)
            .withColumn(
                "file",
                F.replace(
                    F.regexp_replace("_f", "^file:/+", "/"),
                    F.lit(self._base + "/"),
                    F.lit(""),
                ),
            )
        )
        # ONE scan + ONE shuffle for stats AND Bloom positions (guide §2.3):
        # the key rides along the exploded position rows, so min/max come
        # from the same aggregation that collects the distinct bit set;
        # count(*) is exactly nhashes × file rows (the explode is a constant
        # nhashes-way expansion), making the rows metric exact. Previously
        # stats and blooms each re-read every file (two full table scans).
        pos = df.select(
            "file",
            "_k",
            F.explode(
                F.array(
                    *[
                        _md5_pos_expr("_k", i, self.nbits)
                        for i in range(self.nhashes)
                    ]
                )
            ).alias("pos"),
        )
        stats = pos.groupBy("file").agg(
            (F.count(F.lit(1)) / F.lit(self.nhashes)).cast("long").alias("rows"),
            F.min("_k").alias("kmin"),
            F.max("_k").alias("kmax"),
            F.collect_set("pos").alias("poss"),
        )
        blooms = stats.select(
            "file", "rows", "kmin", "kmax",
            _pack_bits(self.nbits)("poss").alias("bloom"),
        )
        ident = self.spark.createDataFrame(
            [(r, *inv[r]) for r in relpaths], "file string, sz long, mtime_ns long"
        )
        return (
            blooms.join(F.broadcast(ident), "file")
            .select("file", "sz", "mtime_ns", "rows", "kmin", "kmax", "bloom")
        )

    def _read_index_arrow(self):
        cur = self.store.current_id()
        if cur is None:
            return None
        import pyarrow.dataset as ds

        return ds.dataset(
            os.path.join(self.store.snapshot_path(cur), "rows"),
            format="parquet",
        ).to_table()

    def refresh(self) -> dict:
        """Bring the index up to date with the table directory. Re-indexes
        only new/rewritten files; vanished files' rows drop; unchanged rows
        are reused verbatim. Returns {'indexed': n, 'reused': n,
        'removed': n}."""
        inv = self._inventory()
        spec_ok = self._stored_spec() == self.spec_token()
        old = self._read_index_arrow() if spec_ok else None

        kept_tbl = None
        if old is not None and old.num_rows:
            mask = [
                inv.get(f) == (s, m)
                for f, s, m in zip(
                    old["file"].to_pylist(),
                    old["sz"].to_pylist(),
                    old["mtime_ns"].to_pylist(),
                )
            ]
            import pyarrow as pa

            kept_tbl = old.filter(pa.array(mask))
        kept_files = set(kept_tbl["file"].to_pylist()) if kept_tbl is not None else set()
        todo = sorted(set(inv) - kept_files)
        removed = (0 if old is None else old.num_rows) - len(kept_files)

        if not todo and old is not None and removed == 0:
            return {"indexed": 0, "reused": len(kept_files), "removed": 0}

        parts = []
        if todo:
            parts.append(self._index_files(todo, inv))
        if kept_tbl is not None and kept_tbl.num_rows:
            parts.append(self.spark.createDataFrame(kept_tbl))
        sid = self.store.begin("refresh")
        try:
            if parts:
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                out.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.store.snapshot_path(sid), "rows")
                )
            else:  # empty table → empty index (key type unknowable: string)
                self.spark.createDataFrame(
                    [],
                    "file string, sz long, mtime_ns long, rows long, "
                    "kmin string, kmax string, bloom binary",
                ).coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.store.snapshot_path(sid), "rows")
                )
        except Exception:
            self.store.abort(sid)
            raise
        self.store.publish(sid)
        atomic_write(self._spec_file(), self.spec_token())
        return {"indexed": len(todo), "reused": len(kept_files), "removed": removed}

    # -- lookup ---------------------------------------------------------------
    def candidates(self, value) -> list[str]:
        """Relpaths of files that may contain `value` — metadata-scale
        pyarrow read of the index, zero Spark jobs. False negatives are
        impossible; false positives bounded by the Bloom sizing."""
        idx = self._read_index_arrow()
        if idx is None:
            raise RuntimeError("index not built — call refresh() first")
        if self._stored_spec() != self.spec_token():
            raise RuntimeError("index spec drift — call refresh() first")
        positions = [
            _md5_pos_py(value, i, self.nbits) for i in range(self.nhashes)
        ]
        out = []
        blooms = idx["bloom"].to_pylist()
        for i, (f, kmin, kmax) in enumerate(
            zip(
                idx["file"].to_pylist(),
                idx["kmin"].to_pylist(),
                idx["kmax"].to_pylist(),
            )
        ):
            if kmin is None or not (kmin <= value <= kmax):
                continue
            b = blooms[i]
            if all(b[p >> 3] & (1 << (p & 7)) for p in positions):
                out.append(f)
        return sorted(out)

    def read_point(self, value) -> DataFrame:
        """Exact rows where key == value, scanning ONLY candidate files.
        The final filter re-applies the predicate, so the result is exact
        regardless of Bloom false positives."""
        cands = self.candidates(value)
        if not cands:
            # only the empty case pays a full-table schema listing
            return self.spark.read.parquet(self.table_path).where(F.lit(False))
        return (
            self.spark.read.option("basePath", self._base)
            .parquet(*[os.path.join(self._base, c) for c in cands])
            .filter(F.col(self.key) == F.lit(value))
        )

    def read_points(self, values: list) -> DataFrame:
        """Exact rows for an IN-list — candidates are the UNION of each
        value's file set (one index read), still one Spark scan."""
        idx_cands: set[str] = set()
        for v in values:
            idx_cands.update(self.candidates(v))
        if not idx_cands:
            return self.spark.read.parquet(self.table_path).where(F.lit(False))
        return (
            self.spark.read.option("basePath", self._base)
            .parquet(*[os.path.join(self._base, c) for c in sorted(idx_cands)])
            .filter(F.col(self.key).isin(values))
        )

    def stats(self) -> dict:
        idx = self._read_index_arrow()
        if idx is None:
            return {"files": 0}
        return {
            "files": idx.num_rows,
            "rows": sum(x for x in idx["rows"].to_pylist()),
            "bytes": sum(x for x in idx["sz"].to_pylist()),
        }


# -- driver-registered query -------------------------------------------------

from .queries import register  # noqa: E402

_POINT_SQL = """
SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id, event_type,
       value
FROM events
WHERE user_id = (SELECT min(user_id) FROM events)
"""


@register("point_lookup_indexed", _POINT_SQL)
def point_lookup_indexed(spark, sf_dir):
    """Point lookup THROUGH the file-skipping index: refresh the per-file
    min/max+Bloom index over the events table, then scan only candidate
    files for the smallest user_id. The re-applied predicate makes the
    answer exact regardless of Bloom sizing — the oracle is the plain
    full-scan filter."""
    import tempfile

    path = os.path.join(sf_dir, "events.parquet")
    idx = FileIndex(
        spark, path, tempfile.mkdtemp(prefix="fileindex-"), key="user_id"
    )
    idx.refresh()
    target = spark.read.parquet(path).agg(F.min("user_id")).first()[0]  # 1 row
    return idx.read_point(target).select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
