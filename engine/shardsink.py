"""Size-balanced training-shard export sink (M37).

The last step of a training-data pipeline writes the packed corpus as a set
of roughly-equal-token shards that loaders stream independently. At 100 TB
the requirements are: (1) shard assignment must not funnel the corpus
through one reducer (the naive ROW_NUMBER/running-sum plan), (2) the export
must be verifiable — a manifest with per-shard counts and order-independent
checksums written atomically after the data, so a torn export is detectable
and a re-export is provably identical, (3) assignment must be deterministic
(same corpus → same shards, byte-for-byte) so reruns are idempotent.

Shard assignment: docs are ordered by (hash(doc_id), doc_id) — an
IID shuffle order, so every shard is an unbiased sample of the corpus (no
source/time clustering) — and cut by a running token total into
SHARD_BUDGET-token bins. The running total is the distributed two-phase
prefix sum (same algebra as corpusops.token_prefix_tranches): within-band
window sums behind one shuffle + a metadata-scale broadcast band-offset
join. Bands come from the top bits of the order hash, so band order IS key
order and band counts are uniform by construction.

Checksums are order-independent (bit_xor + modular sum of per-doc content
hashes), so verification never needs a sort.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .corpusops import portable_hash60
from .io import atomic_write

#: tokens per exported shard
SHARD_BUDGET = 4096
#: top-of-hash band count for the two-phase prefix sum (2^12)
_BANDS_BITS = 12
#: modulus keeping the additive checksum inside a BIGINT under ANSI mode
_SUM_MOD = 2**40

MANIFEST = "_SHARD_MANIFEST.json"


def _doc_hash():
    return portable_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    )


def _ntok():
    return F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))


def shard_plan(docs: DataFrame, budget: int = SHARD_BUDGET) -> DataFrame:
    """doc_id → (n_tok, cum_tokens, shard): the running token total in
    (hash(doc_id), doc_id) order, cut every `budget` tokens. Two-phase
    distributed prefix sum — one data shuffle, band offsets broadcast."""
    toks = docs.select(
        "doc_id",
        _ntok().cast("long").alias("n_tok"),
        portable_hash60(F.col("doc_id")).alias("h"),
    ).withColumn("band", F.shiftright("h", 60 - _BANDS_BITS))
    w = (
        Window.partitionBy("band")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("cum_in", F.sum("n_tok").over(w))
    totals = toks.groupBy("band").agg(F.sum("n_tok").alias("tot"))
    prior = totals.select(F.col("band").alias("b2"), F.col("tot").alias("tot2"))
    offsets = (
        totals.join(F.broadcast(prior), F.col("b2") < F.col("band"), "left")
        .groupBy("band")
        .agg(F.coalesce(F.sum("tot2"), F.lit(0)).alias("off"))
    )
    cum = F.col("cum_in") + F.col("off")
    return within.join(F.broadcast(offsets), "band").select(
        "doc_id",
        "n_tok",
        cum.alias("cum_tokens"),
        F.floor((cum - 1) / budget).cast("long").alias("shard"),
    )


def _shard_stats(data: DataFrame) -> DataFrame:
    """Per-shard counts + checksums recomputed FROM CONTENT (doc_id, text)
    — never from stored helper columns, so verification catches corrupted
    payloads, not just missing rows."""
    return (
        data.withColumn("_dh", _doc_hash())
        .withColumn("_nt", _ntok().cast("long"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.bit_xor("_dh").alias("xor_check"),
            F.sum(F.col("_dh") % _SUM_MOD).alias("sum_check"),
        )
    )


def export_shards(
    docs: DataFrame, out_path: str, budget: int = SHARD_BUDGET
) -> dict:
    """Write the sharded corpus (parquet partitioned by shard=) plus an
    atomically-published manifest of per-shard counts + checksums. Returns
    the manifest dict. Data first, manifest last: a crash mid-export leaves
    no manifest, which verify_shards treats as 'not a published export'."""
    plan = shard_plan(docs, budget)
    data = docs.select("doc_id", "text").join(plan, "doc_id")
    data.select("doc_id", "text", "n_tok", "cum_tokens", "shard").write.partitionBy(
        "shard"
    ).mode("overwrite").parquet(out_path)
    written = data.sparkSession.read.parquet(out_path)
    stats = _shard_stats(written).collect()
    manifest = {
        "budget": budget,
        "n_shards": len(stats),
        "total_docs": int(sum(r["n_docs"] for r in stats)),
        "total_tokens": int(sum(r["n_tokens"] for r in stats)),
        "shards": {
            str(r["shard"]): {
                "n_docs": int(r["n_docs"]),
                "n_tokens": int(r["n_tokens"]),
                "xor_check": int(r["xor_check"]),
                "sum_check": int(r["sum_check"]),
            }
            for r in stats
        },
    }
    atomic_write(
        os.path.join(out_path, MANIFEST),
        json.dumps(manifest, sort_keys=True, indent=1),
    )
    return manifest


def read_manifest(out_path: str) -> dict | None:
    p = os.path.join(out_path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def verify_shards(spark: SparkSession, out_path: str) -> tuple[bool, str]:
    """Recompute per-shard stats from the written files and compare to the
    manifest. Order-independent checksums mean no sort is needed; any
    missing/extra/corrupted shard or row shows up as a count or checksum
    mismatch."""
    manifest = read_manifest(out_path)
    if manifest is None:
        return False, "no manifest (unpublished or torn export)"
    got = {
        str(r["shard"]): r
        for r in _shard_stats(spark.read.parquet(out_path)).collect()
    }
    if set(got) != set(manifest["shards"]):
        return False, (
            f"shard set mismatch: manifest {sorted(manifest['shards'])} "
            f"vs files {sorted(got)}"
        )
    for s, m in manifest["shards"].items():
        r = got[s]
        for k in ("n_docs", "n_tokens", "xor_check", "sum_check"):
            if int(r[k]) != m[k]:
                return False, f"shard {s}: {k} {int(r[k])} != manifest {m[k]}"
    return True, "ok"


# ---------------------------------------------------------------------------
# driver-verified shard-plan query
# ---------------------------------------------------------------------------

from .corpusops import _hash60_sql  # noqa: E402
from .queries import _t, register  # noqa: E402


@register(
    "corpus_shard_plan",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tok,
             {_hash60_sql('doc_id')} AS h
      FROM documents)
    SELECT doc_id, n_tok,
           CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_tokens,
           CAST(FLOOR((SUM(n_tok) OVER w - 1) / {SHARD_BUDGET}.0) AS BIGINT)
             AS shard
    FROM d
    WINDOW w AS (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def corpus_shard_plan(spark, sf_dir):
    """M37 shard-export assignment: the running token total in IID
    hash-shuffle order cut into SHARD_BUDGET-token shards. The oracle is
    the single-reducer running sum; the engine runs the two-phase
    distributed prefix sum (hash-band windows + broadcast band offsets) —
    hash equality proves the distributed cut is bit-identical to the
    textbook one. The export sink built on this plan (export_shards /
    verify_shards) adds the manifest + order-independent checksums,
    pytest-verified."""
    return shard_plan(_t(spark, sf_dir, "documents"))
