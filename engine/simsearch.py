"""Similarity search over the `embeddings` table (array<float> columns):
brute-force cosine top-k as the verified baseline, plus a random-hyperplane
LSH bucketing as the scale path (bucketed candidate join instead of the
O(n²) cross join).

All vector math runs JVM-side through array higher-order functions
(zip_with / aggregate) — no Python in the hot path. The LSH hyperplanes are
deterministic integer-derived weights so the DuckDB oracle reproduces them
exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .queries import _t, register

DIM = 64
N_PLANES = 8


def _vec_d(col):
    """array<float> -> array<double> (exact widening)."""
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _fold_dots_np(EA, EB):
    """Row-wise numpy dot products in the same float64 left-fold addition
    order as the `_dot` JVM expression (acc = 0.0, then + a[d]·b[d] in
    ascending d) — bit-identical results, vectorized across rows."""
    import numpy as np

    acc = np.zeros(EA.shape[0], dtype=np.float64)
    for d in range(EA.shape[1]):
        acc = acc + EA[:, d] * EB[:, d]
    return acc


def _fold_gemm_np(E, C):
    """(n, d) × (k, d) → (n, k) dots with the same left-fold order per
    (vector, centroid) pair as `_dot` — each acc[i, j] accumulates
    e[d]·c[d] in ascending d, so every dot is bit-identical to the JVM
    HOF expression while running as d fused numpy ops per batch
    (guide §4.2; the lsh_table_buckets idiom applied to assignment)."""
    import numpy as np

    acc = np.zeros((E.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(E.shape[1]):
        acc = acc + E[:, d : d + 1] * C[None, :, d]
    return acc


def _collect_centroids(cents: DataFrame):
    """Driver-side (cids, C, cnrm) sorted ascending by cid (k rows —
    metadata-scale). cnrm uses the exact fold + IEEE sqrt, matching the
    JVM `sqrt(_dot(ce, ce))` bit-for-bit.

    Every centroid must have a nonzero norm: cosine similarity to a zero
    vector is NaN, which the numpy ranking orders last and a Spark
    descending sort first, so no assignment to it is well defined."""
    import numpy as np

    rows = sorted(cents.select("cid", "ce").collect(), key=lambda r: r["cid"])
    C = np.array([r["ce"] for r in rows], dtype=np.float64)
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cnrm = np.sqrt(_fold_dots_np(C, C))
    if (cnrm == 0).any():
        raise ValueError(
            f"zero-norm centroids {cids[cnrm == 0].tolist()}: cosine "
            "similarity to them is undefined"
        )
    return cids, C, cnrm


def assign_centroids(
    v: DataFrame,
    cents: DataFrame,
    n_queries: int = 0,
    nprobe: int = 1,
    with_vec: bool = True,
) -> DataFrame:
    """Vectorized IVF assignment (replaces the n×k crossJoin + interpreted
    HOF dot + row_number window): for every vector, centroid similarities
    are computed per Arrow batch with the exact left-fold order, ranked by
    (sim DESC, cid ASC) exactly like the former window, and the best
    assignment (crn=1) is emitted — plus ranks ≤ `nprobe` for vectors with
    vec_id < `n_queries` (the probe set). Output columns: vec_id,
    [e, nrm,] cid, sim, crn. Because every sim is bit-identical to the
    `_dot` expression, assignments, probe sets, and stored nrm values are
    unchanged from the crossJoin formulation."""
    import numpy as np
    import pandas as pd

    cids, C, cnrm = _collect_centroids(cents)
    k = len(cids)
    n_top = max(1, min(int(nprobe), k))
    nq = int(n_queries)

    def gen(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            E = np.asarray(pdf["e"].tolist(), dtype=np.float64)
            vnrm = np.sqrt(_fold_dots_np(E, E))
            sims = _fold_gemm_np(E, C) / (vnrm[:, None] * cnrm[None, :])
            # rank by (sim desc, cid asc): columns are cid-ascending, and
            # stable argsort keeps the lower cid first among exact ties —
            # the same total order as the former row_number window
            order = np.argsort(-sims, axis=1, kind="stable")
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            take = np.where(vid < nq, n_top, 1)
            ridx = np.repeat(np.arange(n), take)
            crn = np.concatenate([np.arange(1, t + 1) for t in take])
            cidx = order[ridx, crn - 1]
            out = {
                "vec_id": vid[ridx],
                "cid": cids[cidx],
                "sim": sims[ridx, cidx],
                "crn": crn.astype(np.int32),
            }
            if with_vec:
                out["e"] = pdf["e"].iloc[ridx].to_numpy()
                out["nrm"] = vnrm[ridx]
            cols = ["vec_id"] + (["e", "nrm"] if with_vec else []) + [
                "cid", "sim", "crn"
            ]
            yield pd.DataFrame({c: out[c] for c in cols})

    schema = "vec_id bigint, " + (
        "e array<double>, nrm double, " if with_vec else ""
    ) + "cid bigint, sim double, crn int"
    return v.select("vec_id", "e").mapInPandas(gen, schema)


@register(
    "ann_cosine_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
    sims AS (
      SELECT qid, v.vec_id AS cid,
             list_sum(list_transform(range({DIM}), i -> qe[i+1] * e[i+1]))
             / (sqrt(list_sum(list_transform(range({DIM}), i -> qe[i+1] * qe[i+1])))
                * sqrt(list_sum(list_transform(range({DIM}), i -> e[i+1] * e[i+1]))))
               AS sim
      FROM q CROSS JOIN v WHERE v.vec_id <> qid)
    SELECT qid, cid, ROUND(sim, 6) AS sim, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM sims)
    WHERE rn <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors — the exact baseline
    ANN answers are measured against. The full-corpus variant broadcasts the
    query set; candidates never shuffle."""
    em = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_d("embedding").alias("e")
    )
    q = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    sims = (
        F.broadcast(q)
        .crossJoin(em)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            cosine(F.col("qe"), F.col("e")).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", F.round("sim", 6).alias("sim"), F.col("rn").cast("int"))
    )


_ND_TABLES = 6
_ND_ROWS = 5  # planes per LSH table


@register(
    "embedding_neardup_pairs",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes AS (SELECT unnest(range({_ND_TABLES * _ND_ROWS})) AS p),
    dots AS (
      SELECT vec_id, p, CAST(p // {_ND_ROWS} AS INT) AS tbl,
             list_sum(list_transform(range({DIM}),
               d -> e[d+1] * ((1000003 * (d+1) + 7919 * (p+1)) % 2001 - 1000)))
               AS dot
      FROM v CROSS JOIN planes),
    buckets AS (
      SELECT vec_id, tbl,
             CAST(SUM(CASE WHEN dot > 0 THEN 1 << CAST(p % {_ND_ROWS} AS INT)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id, tbl),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    sims AS (
      SELECT c.vec_a, c.vec_b,
             list_sum(list_transform(range({DIM}), i -> va.e[i+1] * vb.e[i+1]))
             / (sqrt(list_sum(list_transform(range({DIM}), i -> va.e[i+1] * va.e[i+1])))
                * sqrt(list_sum(list_transform(range({DIM}), i -> vb.e[i+1] * vb.e[i+1]))))
               AS sim
      FROM cand c JOIN v va ON va.vec_id = c.vec_a
                  JOIN v vb ON vb.vec_id = c.vec_b)
    SELECT vec_a, vec_b, ROUND(sim, 6) AS sim FROM sims WHERE sim >= 0.5
    """,
)
def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, the scale-path shape:
    multi-table LSH candidate generation (bucket equi-join — the quadratic
    all-pairs never materializes) followed by exact cosine verification of
    the candidates only. The DuckDB oracle reproduces the deterministic
    hyperplanes bit-exactly, so this is a full hash-checked entry. Recall vs
    the brute-force baseline is asserted separately in pytest
    (tests/test_simsearch_multimodal.py); at a production near-dup threshold
    (sim≥0.9, plane-agreement p≈0.86) 6 tables × 5 planes give ≈97% recall."""
    em = _t(spark, sf_dir, "embeddings")
    v = em.select("vec_id", _vec_d("embedding").alias("e")).withColumn(
        "nrm", F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    cand = lsh_candidate_pairs(em, n_tables=_ND_TABLES, planes_per_table=_ND_ROWS)
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= 0.5)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))
    )


def _plane_weight(p, d):
    """Deterministic integer hyperplane weight in [-1000, 1000] — identical
    arithmetic in Spark and DuckDB (no RNG, no float seed drift)."""
    return (1000003 * (d + 1) + 7919 * (p + 1)) % 2001 - 1000


@register(
    "lsh_cosine_buckets",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes AS (SELECT unnest(range({N_PLANES})) AS p),
    dots AS (
      SELECT vec_id, p,
             list_sum(list_transform(range({DIM}),
               d -> e[d+1] * ((1000003 * (d+1) + 7919 * (p+1)) % 2001 - 1000)))
               AS dot
      FROM v CROSS JOIN planes)
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot > 0 THEN 1 << CAST(p AS INT) ELSE 0 END) AS BIGINT)
             AS bucket
    FROM dots GROUP BY vec_id
    """,
)
def lsh_cosine_buckets(spark, sf_dir):
    """Random-hyperplane LSH signature (8 planes -> 256 buckets): the scale
    path for near-neighbour search — candidates meet in a bucket equi-join,
    so the quadratic cross join never materializes."""
    em = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_d("embedding").alias("e")
    )
    planes = spark.range(N_PLANES).select(F.col("id").alias("p"))
    dots = (
        em.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "p",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                F.lit(0.0),
                lambda acc, d: acc
                + F.element_at(F.col("e"), d.cast("int") + 1)
                * ((1000003 * (d + 1) + 7919 * (F.col("p") + 1)) % 2001 - 1000),
            ).alias("dot"),
        )
    )
    return dots.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("1 << CAST(p AS INT)")).otherwise(0)
        )
        .cast("long")
        .alias("bucket")
    )


_IVF_K = 16  # coarse-quantizer centroids
_IVF_NPROBE = 4


@register(
    "ivf_cosine_topk",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(range({DIM}), i -> e[i+1]*e[i+1]))) AS nrm
          FROM v),
    c AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE vec_id < {_IVF_K}),
    asn AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS crn
      FROM (SELECT n.vec_id, c.cid,
                   list_sum(list_transform(range({DIM}), i -> n.e[i+1]*c.ce[i+1]))
                     / (n.nrm * c.cnrm) AS sim
            FROM n CROSS JOIN c)),
    lists AS (SELECT vec_id, cid FROM asn WHERE crn = 1),
    probes AS (SELECT vec_id AS qid, cid AS qcid FROM asn
               WHERE vec_id < 10 AND crn <= {_IVF_NPROBE}),
    cand AS (
      SELECT p.qid, l.vec_id AS cid
      FROM probes p JOIN lists l ON l.cid = p.qcid
      WHERE l.vec_id <> p.qid),
    sims AS (
      SELECT cand.qid, cand.cid,
             list_sum(list_transform(range({DIM}), i -> nq.e[i+1]*nc.e[i+1]))
               / (nq.nrm * nc.nrm) AS sim
      FROM cand JOIN n nq ON nq.vec_id = cand.qid
                JOIN n nc ON nc.vec_id = cand.cid)
    SELECT qid, cid, ROUND(sim, 6) AS sim, CAST(rn AS INT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
          FROM sims)
    WHERE rn <= 5
    """,
)
def ivf_cosine_topk(spark, sf_dir):
    """IVF ANN, the big-corpus scale path: a K-centroid coarse quantizer
    assigns every vector to an inverted list (one broadcast of K rows, one
    shuffle on vec_id), queries probe their nprobe nearest lists, and exact
    cosine re-ranks ONLY the probed lists — expected nprobe/K of the corpus
    scanned per query instead of all of it. Centroids are deterministic
    (the K lowest vec_ids) so DuckDB replays the whole index bit-exactly;
    production would swap in kmeans centroids, same plan shape. Recall vs
    the exact baseline is asserted in pytest."""
    em = _t(spark, sf_dir, "embeddings")
    n = (
        em.select("vec_id", _vec_d("embedding").alias("e"))
        .withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )
    c = n.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    sim_c = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    w_v = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cid")
    asn = (
        n.crossJoin(F.broadcast(c))
        .select("vec_id", "cid", sim_c.alias("sim"))
        .withColumn("crn", F.row_number().over(w_v))
    )
    lists = asn.filter(F.col("crn") == 1).select("vec_id", "cid")
    probes = asn.filter(
        (F.col("vec_id") < 10) & (F.col("crn") <= _IVF_NPROBE)
    ).select(F.col("vec_id").alias("qid"), F.col("cid").alias("qcid"))
    cand = probes.join(
        lists, probes.qcid == lists.cid
    ).filter(F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("cid")
    )
    nq = n.select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    nc = n.select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce2"),
        F.col("nrm").alias("cnrm2"),
    )
    sim_x = _dot(F.col("qe"), F.col("ce2")) / (F.col("qnrm") * F.col("cnrm2"))
    sims = cand.join(nq, "qid").join(nc, "cid").select(
        "qid", "cid", sim_x.alias("sim")
    )
    w_q = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        sims.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", F.round("sim", 6).alias("sim"), F.col("rn").cast("int"))
    )


def kmeans_centroids(
    em: DataFrame,
    k: int = _IVF_K,
    iters: int = 4,
    init: DataFrame | None = None,
    reseed: bool = True,
) -> DataFrame:
    """Deterministic kmeans-lite coarse quantizer for IVF: init = the k
    lowest vec_ids (or a caller-supplied (cid, ce) table), then `iters`
    Lloyd rounds — assign each vector to its max-cosine centroid (cosine
    similarity, ties to the lower cid; broadcast k rows), recompute
    centroids as per-cluster means (array HOF zip_with folding inside a
    partial+final agg). Every data-scale step is one broadcast + one
    shuffle on the cluster id; no Python touches vectors.

    `reseed` adds the standard degenerate-cluster treatment: between
    rounds, starved centroids — population under total/(3k), or vanished
    (empty) clusters, or near-collinear (cosine > .995) with a lower-id
    peer — are replaced by the current farthest points (lowest
    best-assignment cosine, deterministic tie-break). Without it, a
    redundant init leaves Lloyd in a one-blob local optimum no iteration
    count escapes: the blob's points split among the duplicate centroids
    while every other cluster funnels onto one. The decision runs
    driver-side on the k-row centroid/population table (metadata-scale,
    never data); the farthest points come from one TakeOrdered over the
    assignment. Returns (cid, ce: array<double>). Recall/inertia/recovery
    behaviour is pytest'd; the ORACLE-registered ivf_cosine_topk keeps the
    first-K init so DuckDB can replay it."""
    import numpy as np

    spark = em.sparkSession
    v = em.select("vec_id", _vec_d("embedding").alias("e"))
    cents = (
        init
        if init is not None
        else v.orderBy("vec_id").limit(k).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    dim = DIM
    for _ in range(iters):
        # vectorized best-centroid assignment (assign_centroids): one Arrow
        # pass ranking centroids by cosine similarity (sim DESC, cid ASC),
        # not by raw dot — the ranking ivf_cosine_topk uses, with sims and
        # tie-breaks bit-identical to its crossJoin + row_number window
        assigned = assign_centroids(v, cents)
        # per-cluster mean: element-wise array sum (zip_with fold) / count
        zero = F.array(*[F.lit(0.0) for _ in range(dim)])
        cents = (
            assigned.groupBy("cid")
            .agg(
                F.aggregate(
                    F.collect_list("e"),
                    zero,
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("esum"),
                F.count("*").alias("n"),
            )
            .select(
                "cid",
                F.transform("esum", lambda x: x / F.col("n")).alias("ce"),
                "n",
            )
            .localCheckpoint()
        )
        if not reseed:
            cents = cents.drop("n")
            continue
        rows = cents.collect()  # k rows — metadata-scale by construction
        cents = cents.drop("n")
        M = np.array([r["ce"] for r in rows], dtype=np.float64)
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        C = (M / nrm) @ (M / nrm).T
        total = sum(r["n"] for r in rows)
        starve = total / (3 * k)
        redundant = [
            i
            for i in range(len(rows))
            if rows[i]["n"] < starve
            or any(C[i, j] > 0.995 for j in range(i))
        ]
        n_missing = k - len(rows)  # vanished (empty) clusters reseed too
        if not redundant and n_missing == 0:
            continue
        n_reseed = len(redundant) + n_missing
        # candidate pool: the globally farthest points (one TakeOrdered —
        # top-M of a distributed sort, driver cost M×dim, metadata-scale),
        # then GREEDY MAX-MIN selection so the reseeds spread over distinct
        # starved regions instead of all landing in the single farthest
        # blob (k-means++ seeding logic applied to the repair step)
        pool = (
            assigned.orderBy(F.asc("sim"), "vec_id")
            .limit(min(50 * n_reseed, 4000))
            .select("vec_id", "e")
            .collect()
        )
        kept_idx = [i for i in range(len(rows)) if i not in set(redundant)]
        P = np.array([r["e"] for r in pool], dtype=np.float64)
        Pn = P / np.maximum(np.linalg.norm(P, axis=1, keepdims=True), 1e-12)
        ref = (M / nrm)[kept_idx] if kept_idx else np.zeros((0, P.shape[1]))
        chosen: list[int] = []
        best = (
            Pn @ ref.T
        ).max(axis=1) if len(ref) else np.full(len(pool), -1.0)
        for _ in range(min(n_reseed, len(pool))):
            nxt = int(np.argmin(best))  # farthest from everything selected
            chosen.append(nxt)
            best = np.maximum(best, Pn @ Pn[nxt])
        kept = [
            (int(rows[i]["cid"]), list(rows[i]["ce"])) for i in kept_idx
        ]
        fresh = [
            (int(-1 - pool[i]["vec_id"]), list(pool[i]["e"])) for i in chosen
        ]
        cents = spark.createDataFrame(
            kept + fresh, "cid long, ce array<double>"
        ).localCheckpoint()
    return cents


def ivf_topk_with_centroids(
    em: DataFrame, cents: DataFrame, n_queries: int = 10,
    nprobe: int = _IVF_NPROBE, topk: int = 5,
) -> DataFrame:
    """IVF search against an arbitrary centroid table (e.g. kmeans-trained):
    same probe/re-rank semantics as ivf_cosine_topk, with assignment and
    re-rank dots computed in exact-left-fold Arrow batches instead of
    interpreted HOF expressions (bit-identical sims, see assign_centroids)."""
    import numpy as np
    import pandas as pd

    n = em.select("vec_id", _vec_d("embedding").alias("e"))
    # one Arrow pass yields both the list assignment (crn=1 for everyone)
    # and the query probe set (crn ≤ nprobe for vec_id < n_queries)
    asn = assign_centroids(
        n, cents, n_queries=n_queries, nprobe=nprobe, with_vec=False
    ).localCheckpoint()
    lists = asn.filter(F.col("crn") == 1).select("vec_id", "cid")
    probes = asn.filter(
        (F.col("vec_id") < n_queries) & (F.col("crn") <= nprobe)
    ).select(F.col("vec_id").alias("qid"), F.col("cid").alias("qcid"))
    cand = probes.join(lists, probes.qcid == lists.cid).filter(
        F.col("vec_id") != F.col("qid")
    ).select("qid", F.col("vec_id").alias("cid"))

    @F.pandas_udf("double")
    def _pair_sim(qe: pd.Series, ce: pd.Series) -> pd.Series:
        A = np.asarray(qe.tolist(), dtype=np.float64)
        B = np.asarray(ce.tolist(), dtype=np.float64)
        if A.size == 0:
            return pd.Series([], dtype=np.float64)
        # same IEEE sequence as _dot(qe, ce2)/(sqrt(_dot(qe,qe))·sqrt(...))
        return pd.Series(
            _fold_dots_np(A, B)
            / (np.sqrt(_fold_dots_np(A, A)) * np.sqrt(_fold_dots_np(B, B)))
        )

    nq = n.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    nc = n.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce2"))
    w_q = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        cand.join(nq, "qid").join(nc, "cid")
        .select("qid", "cid", _pair_sim("qe", "ce2").alias("sim"))
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= topk)
        .select("qid", "cid", "sim")
    )


def lsh_table_buckets(
    em: DataFrame, n_tables: int = 6, planes_per_table: int = 5
) -> DataFrame:
    """Multi-table random-hyperplane LSH signatures: (vec_id, tbl, bucket)
    with one row per (vector, table). Deterministic integer hyperplanes —
    the same rows regardless of when or in which batch a vector is hashed,
    which is what makes the persisted index (engine/simindex.py)
    incrementally maintainable with bit-exact full-rebuild parity.

    Arrow-vectorized hashing (guide §4.2): one mapInPandas pass computes all
    n_tables·planes_per_table plane dots per batch with a float64
    accumulation loop over dimensions — the SAME left-fold addition order as
    the original aggregate(zip_with(...)) JVM expression, so every dot (and
    therefore every sign bit and bucket id) is bit-identical to the HOF
    reference kept below (pinned by tests/test_simsearch_multimodal.py).
    The HOF version evaluated two interpreted lambdas per element per plane
    (~8.9 s for 20k vectors at sf1); this pass is a handful of numpy ops per
    Arrow batch."""
    import numpy as np
    import pandas as pd

    n_planes = n_tables * planes_per_table
    # W[d, p]: same integer arithmetic as _plane_weight, exact in float64
    W = np.array(
        [
            [_plane_weight(p, d) for p in range(n_planes)]
            for d in range(DIM)
        ],
        dtype=np.float64,
    )
    shifts = 1 << np.arange(planes_per_table, dtype=np.int64)
    tbl_tile = np.arange(n_tables, dtype=np.int32)

    def hash_batches(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            # float32 -> float64 widening is exact, same as the JVM cast
            E = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            acc = np.zeros((n, n_planes), dtype=np.float64)
            for d in range(DIM):
                # acc = acc + e[d]*w — identical IEEE op sequence to the
                # JVM left fold (0.0 + t_0 + t_1 + ...)
                acc += E[:, d : d + 1] * W[d]
            bits = acc > 0
            buckets = (
                bits.reshape(n, n_tables, planes_per_table) * shifts
            ).sum(axis=2, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(dtype=np.int64), n_tables
                    ),
                    "tbl": np.tile(tbl_tile, n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return em.select("vec_id", "embedding").mapInPandas(
        hash_batches, "vec_id bigint, tbl int, bucket bigint"
    )


def lsh_table_buckets_hof(
    em: DataFrame, n_tables: int = 6, planes_per_table: int = 5
) -> DataFrame:
    """JVM higher-order-function reference implementation of
    lsh_table_buckets — the original formulation, kept as the bit-exactness
    oracle for the Arrow path (and as the shape the DuckDB oracle SQL
    mirrors)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    n_planes = n_tables * planes_per_table
    planes = spark.range(n_planes).select(
        F.col("id").alias("p"),
        (F.col("id") / planes_per_table).cast("int").alias("tbl"),
    )
    v = em.select("vec_id", _vec_d("embedding").alias("e"))
    dots = v.crossJoin(F.broadcast(planes)).select(
        "vec_id",
        "p",
        "tbl",
        F.aggregate(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            F.lit(0.0),
            lambda acc, d: acc
            + F.element_at(F.col("e"), d.cast("int") + 1)
            * ((1000003 * (d + 1) + 7919 * (F.col("p") + 1)) % 2001 - 1000),
        ).alias("dot"),
    )
    return dots.groupBy("vec_id", "tbl").agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr(f"1 << CAST(pmod(p, {planes_per_table}) AS INT)"),
            ).otherwise(0)
        ).alias("bucket")
    )


def lsh_candidate_pairs(
    em: DataFrame, n_tables: int = 6, planes_per_table: int = 5
) -> DataFrame:
    """Engine-side multi-table LSH near-neighbour candidates: each table
    hashes with its own `planes_per_table` hyperplanes; a pair is a candidate
    if it collides in ANY table (recall 1-(1-p^k)^L vs single-table p^k).
    Tested in pytest against the brute-force baseline."""
    buckets = lsh_table_buckets(em, n_tables, planes_per_table)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
