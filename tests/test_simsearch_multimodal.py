"""Engine-side similarity-search + multimodal tests (beyond the SQL
oracles): LSH recall vs brute-force, candidate-pair generation, Arrow
feature extraction correctness."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from engine import io as eio  # noqa: E402
from engine.multimodal import (  # noqa: E402
    decode_image,
    extract_features,
    fake_media_from_docs,
)
from engine.simsearch import lsh_candidate_pairs  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    df = eio.read_table(spark, SF_DIR, "embeddings")
    df.cache().count()
    return df


def _brute_force_topk(pdf, k=5):
    mat = np.stack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    ids = pdf["vec_id"].to_numpy()
    out = {}
    for i, vid in enumerate(ids):
        top = np.argsort(-sims[i])[:k]
        out[vid] = [ids[j] for j in top]
    return out


def test_lsh_candidates_contain_true_neighbors(spark, embeddings):
    """Every vector's true nearest neighbour should usually share an LSH
    bucket — measure recall@1 > 0.25 with 8 planes/1 table (the scale path
    would union several tables to drive recall up)."""
    pdf = embeddings.toPandas()
    truth = _brute_force_topk(pdf, k=1)
    pairs = lsh_candidate_pairs(embeddings).toPandas()
    cand = set(zip(pairs["vec_a"], pairs["vec_b"]))
    hits = sum(
        1
        for vid, (nn, *_) in truth.items()
        if (min(vid, nn), max(vid, nn)) in cand
    )
    recall = hits / len(truth)
    assert recall > 0.25, f"recall@1 {recall:.3f}"


def test_lsh_pairs_are_subquadratic(spark, embeddings):
    pairs = lsh_candidate_pairs(embeddings).toPandas()
    assert (pairs["vec_a"] < pairs["vec_b"]).all()
    assert not pairs.duplicated(["vec_a", "vec_b"]).any()
    # far fewer candidates than the full quadratic pair count
    n = len(embeddings.toPandas())
    assert 0 < len(pairs) < n * (n - 1) / 2 * 0.5


def test_multimodal_features_match_numpy(spark):
    docs = eio.read_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 50)
    media = fake_media_from_docs(docs)
    got = (
        extract_features(media)
        .toPandas()
        .sort_values("media_id", ignore_index=True)
    )
    src = docs.select("doc_id", "text").toPandas().sort_values(
        "doc_id", ignore_index=True
    )
    for _, row in src.iterrows():
        raw = row["text"].encode("utf-8")
        arr = np.frombuffer(raw, dtype=np.uint8)
        g = got[got["media_id"] == row["doc_id"]].iloc[0]
        assert g["n_bytes"] == arr.size
        assert g["mean_byte"] == float(arr.mean())
        assert g["max_byte"] == int(arr.max())


def test_decode_stub_raises_for_real_codecs():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...", "png")
    assert decode_image(b"abc", "raw") == b"abc"


def test_media_schema_roundtrip(spark, tmp_path):
    """Binary payload columns survive a parquet write/read partitioned by
    media_type (the storage layout for a 100 TB media lake)."""
    docs = eio.read_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 20)
    media = fake_media_from_docs(docs)
    p = str(tmp_path / "media")
    media.write.partitionBy("media_type").parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == 20
    joined = (
        back.alias("b")
        .join(media.alias("m"), "media_id")
        .filter(F.col("b.payload") != F.col("m.payload"))
    )
    assert joined.count() == 0


def test_ivf_recall_vs_exact_baseline(spark):
    """IVF with nprobe=4 of 16 lists must recover most exact top-5 results
    (the embeddings fixture is clustered; pure-random data would need more
    probes — the bound here is deliberately below the measured ~0.93)."""
    import __spark_entry__ as entrymod

    exact = entrymod.queries()["ann_cosine_topk"](spark, SF_DIR).toPandas()
    ivf = entrymod.queries()["ivf_cosine_topk"](spark, SF_DIR).toPandas()
    e = set(zip(exact.qid, exact.cid))
    g = set(zip(ivf.qid, ivf.cid))
    recall = len(e & g) / len(e)
    assert recall >= 0.7, f"IVF recall@5 {recall:.2f}"


def test_kmeans_ivf_recall_and_convergence(spark):
    """kmeans-lite must (a) keep k centroids, (b) not hurt IVF recall vs
    the first-K init, (c) reduce quantization inertia vs the init."""
    from engine.simsearch import (
        _dot,
        _vec_d,
        ivf_topk_with_centroids,
        kmeans_centroids,
    )
    import __spark_entry__ as entrymod

    em = eio.read_table(spark, SF_DIR, "embeddings")
    v = em.select("vec_id", _vec_d("embedding").alias("e"))

    def inertia(cents):
        best = (
            v.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                (_dot(F.col("e"), F.col("ce"))
                 / (F.sqrt(_dot(F.col("e"), F.col("e")))
                    * F.sqrt(_dot(F.col("ce"), F.col("ce"))))).alias("sim"),
            )
            .groupBy("vec_id")
            .agg(F.max("sim").alias("best"))
        )
        return best.agg(F.sum(1 - F.col("best"))).collect()[0][0]

    init = v.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    trained = kmeans_centroids(em, k=16, iters=3)
    assert trained.count() <= 16
    assert inertia(trained) <= inertia(init) + 1e-9, "Lloyd must not diverge"

    exact = entrymod.queries()["ann_cosine_topk"](spark, SF_DIR).toPandas()
    got = ivf_topk_with_centroids(em, trained).toPandas()
    e = set(zip(exact.qid, exact.cid))
    g = set(zip(got.qid, got.cid))
    recall = len(e & g) / len(e)
    assert recall >= 0.7, f"kmeans-IVF recall@5 {recall:.2f}"


def test_kmeans_ivf_recall_sf01(spark):
    """VERDICT r2 item 5 at sf0.1 (2000 vectors): the trained quantizer is
    the benched IVF path. Note recall alone cannot rank quantizers — a
    collapsed one-list index scans 100% of the corpus and scores a
    meaningless 1.0 — so every recall here is at the SAME nprobe/K scan
    fraction (4/16). The fixture's first-K init is near-optimal by
    construction (recall 1.0), so the falsifiable claims are: (a) kmeans
    holds recall@5 >= 0.9 vs brute force at that scan fraction, within
    0.06 of the first-K ceiling; (b) training improves the quantization
    objective (inertia) over its init; (c) from a COLLAPSED quantizer
    (one surviving list — zero pruning power), deterministic reseeding
    restores all k lists with no list hoarding the corpus."""
    import __spark_entry__ as entrymod

    from engine.simsearch import (
        _dot,
        _vec_d,
        ivf_topk_with_centroids,
        kmeans_centroids,
    )

    sf_dir = "/root/testdata/sf0.1"
    em = eio.read_table(spark, sf_dir, "embeddings")
    exact = entrymod.queries()["ann_cosine_topk"](spark, sf_dir).toPandas()
    e = set(zip(exact.qid, exact.cid))

    def recall(cents):
        got = ivf_topk_with_centroids(em, cents).toPandas()
        return len(e & set(zip(got.qid, got.cid))) / len(e)

    firstk = entrymod.queries()["ivf_cosine_topk"](spark, sf_dir).toPandas()
    r_firstk = len(e & set(zip(firstk.qid, firstk.cid))) / len(e)
    trained = kmeans_centroids(em, k=16, iters=3)
    r_trained = recall(trained)
    assert r_trained >= 0.9, f"kmeans-IVF recall@5 {r_trained:.2f}"
    assert r_trained >= r_firstk - 0.06, (r_trained, r_firstk)

    # (b) quantization objective: mean best-cosine distance must not worsen
    v = em.select("vec_id", _vec_d("embedding").alias("e"))

    def inertia(cents):
        best = (
            v.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                (
                    _dot(F.col("e"), F.col("ce"))
                    / (
                        F.sqrt(_dot(F.col("e"), F.col("e")))
                        * F.sqrt(_dot(F.col("ce"), F.col("ce")))
                    )
                ).alias("sim"),
            )
            .groupBy("vec_id")
            .agg(F.max("sim").alias("best"))
        )
        return best.agg(F.sum(1 - F.col("best"))).collect()[0][0]

    init = v.orderBy("vec_id").limit(16).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    assert inertia(trained) <= inertia(init) + 1e-9

    # (c) structural repair: a one-list collapse regrows to k usable lists
    collapsed = (
        v.filter(F.col("vec_id") == 0)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
        .localCheckpoint()
    )
    repaired = kmeans_centroids(em, k=16, iters=3, init=collapsed)
    assert repaired.count() == 16
    pops = (
        v.crossJoin(F.broadcast(repaired))
        .select(
            "vec_id", "cid",
            _dot(F.col("e"), F.col("ce")).alias("dot"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("dot"), "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .groupBy("cid")
        .count()
        .toPandas()["count"]
    )
    assert len(pops) == 16 and pops.max() / pops.sum() < 0.5, pops.tolist()
    # without reseeding the collapse is permanent — the control that the
    # repair assertion isn't vacuous
    stuck = kmeans_centroids(em, k=16, iters=3, init=collapsed, reseed=False)
    assert stuck.count() == 1


def test_assign_centroids_rejects_zero_norm_centroid(spark):
    """A zero-norm centroid has no direction: every cosine similarity to
    it is NaN, which numpy's ranking puts last and Spark's descending sort
    first. assign_centroids refuses it rather than pick either order."""
    from engine.simsearch import assign_centroids

    v = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 2.0])], "vec_id long, e array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "cid long, ce array<double>"
    )
    with pytest.raises(ValueError, match="zero-norm centroids \\[0\\]"):
        assign_centroids(v, cents)
