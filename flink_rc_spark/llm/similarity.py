"""Similarity search over the embeddings table (SURVEY.md §2.4).

Brute-force cosine top-k (the correctness baseline), md5-hyperplane
LSH ANN (fixed, banded and label-filtered), k-NN label prediction,
product and residual quantization (PQ, IVF-PQ, RVQ), Matryoshka
prefix retrieval and MaxSim late interaction.

Every vector is read and folded through `functions/vectors.py`, whose
docstring states the cross-engine float rule and its Spark spelling:
coordinates as double (or on the 1e6 integer grid), every dot, norm
and squared distance folded left to right in index order, so both
engines produce the same bits; ranking and thresholding therefore
agree exactly and ROUND(x, 4) is hash-stable. The LSH hyperplanes are
md5-derived there as well (`plane_bit`): w[j][i] = (the first hex digit
of md5(j || '_' || i)) - 7.5, computable identically in both engines
with no external randomness and no literal blobs.

Reference parity: the reference's only vector math is the reservoir
matvec (SURVEY.md §2.1 R4); similarity search is beyond-reference
surface mandated by BASELINE.json.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import seed_key
from flink_rc_spark.functions.vectors import (
    DIM,
    as_double,
    cosine,
    dot,
    md5_weight,
    norm,
    on_grid,
    plane_bit,
    plane_weight_sql,
    sq_dist,
    vectors,
    vectors_cte,
)
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

_N_PLANES = 8


def _plane_weight(j: int, i: int) -> float:
    """Coordinate i of md5 hyperplane j, in Python."""
    return md5_weight(f"{j}_{i}")


@register(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH {vectors_cte(where="vec_id < 200")}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({cosine(duck=True)}, 4) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    ORDER BY {cosine(duck=True)} DESC, vec_a, vec_b
    LIMIT 20
    """,
    tags=("llm", "similarity"),
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 pairs within the vec_id < 200 block.

    The exactness baseline for ANN. Ranking happens on the raw
    (bit-identical) double; only the output column is rounded, so the
    top-k cut and tie order agree across engines. Scale: O(n^2) is the
    verify/baseline path only — q_sim_ann_lsh is the scale path; on a
    cluster the pair join is a block-nested product per id-range
    bucket, so work shards cleanly.
    """
    n = vectors(spark, sf_dir).filter(F.col("vec_id") < 200)
    a = n.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    cos = F.expr(cosine())
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("_raw"))
        .orderBy(F.desc("_raw"), "vec_a", "vec_b")
        .limit(20)
        .select("vec_a", "vec_b", F.round("_raw", 4).alias("cosine"))
    )


@register(
    "q_sim_ann_lsh",
    oracle=f"""
    WITH {vectors_cte()},
    h AS (SELECT vec_id, e, nrm,
                 CAST(list_sum(list_transform(range(0, {_N_PLANES}), j ->
                      ({plane_bit('j', duck=True)}) * CAST(power(2, j) AS BIGINT)))
                      AS BIGINT) AS bucket
          FROM n)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
           ROUND({cosine(duck=True)}, 4) AS cosine
    FROM h a JOIN h b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY {cosine(duck=True)} DESC, vec_a, vec_b
    LIMIT 50
    """,
    tags=("llm", "similarity"),
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane (SimHash)
    LSH: 8 md5-derived hyperplanes -> 256 buckets; candidate pairs are
    generated only inside a bucket, then exact cosine ranks the top 50.

    This is the 100 TB path: the bucket id is a per-row map, and the
    only shuffle is an equi-join on the bucket key — candidate count
    scales with bucket occupancy (~n^2/2^planes per bucket), never
    global n^2. The fixed 8-plane/256-bucket fan-out here is the
    oracle-checked demo config; the tunable scale path is
    `ann_candidate_pairs` / `ann_topk` below (AND-OR banding: raise
    planes_per_band with n to bound bucket occupancy, raise n_bands to
    recover recall — recall measured, not guessed, by `ann_recall`,
    asserted in tests/test_llm.py). An IVF variant would replace the
    hyperplanes with k-means centroids but keep this exact plan shape
    (cluster-id equi-join).
    """
    n = vectors(spark, sf_dir)
    bucket_expr = " + ".join(
        f"({plane_bit(j)}) * {2 ** j}" for j in range(_N_PLANES)
    )
    h = n.withColumn("bucket", F.expr(bucket_expr).cast("bigint"))
    a = h.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    b = h.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("bucket_b"),
    )
    cos = F.expr(cosine())
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", "bucket", cos.alias("_raw"))
        .orderBy(F.desc("_raw"), "vec_a", "vec_b")
        .limit(50)
        .select("vec_a", "vec_b", "bucket", F.round("_raw", 4).alias("cosine"))
    )


def _band_buckets_udf(planes_per_band: int, n_bands: int):
    """Vectorized (Arrow/numpy) per-row band-bucket codes.

    Returns a pandas UDF mapping the double vector column to an
    array<bigint> of length n_bands (bucket code per band). Planes are
    numbered globally (band * planes_per_band + j), all md5-derived as
    in `_plane_weight`, so any (planes_per_band, n_bands) config is
    deterministic and engine-independent.

    Why not flat codegen like q_sim_ann_lsh: a banded config is
    planes_per_band * n_bands hyperplanes; beyond ~48 planes the
    literal sum exceeds the JVM's 64 KB method limit, janino fails,
    and Spark falls back to INTERPRETED projection — the known 23x
    cliff. One numpy matmul per Arrow batch ((rows, 64) @ (64, P))
    stays vectorized at any plane count, which is exactly the
    sanctioned use of the pandas-UDF slow path.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    total = planes_per_band * n_bands
    w = np.array(
        [[_plane_weight(g, i) for i in range(1, DIM + 1)] for g in range(total)]
    )  # (P, 64)
    powers = (2 ** np.arange(planes_per_band)).astype(np.int64)

    @pandas_udf("array<bigint>")
    def band_codes(e: pd.Series) -> pd.Series:
        mat = np.vstack(e.to_numpy())  # (n, 64)
        # Sequential left fold over the dimension index, NOT a matmul:
        # acc_{g} = ((0 + w_g1*e_1) + w_g2*e_2) + ... reproduces DuckDB's
        # list_reduce fold bit-exactly (IEEE addition is deterministic
        # given order; BLAS matmul order is unspecified and a near-zero
        # dot could sign-flip vs the SQL fold). This is what makes
        # q_dedup_embedding_full exact-oracle-able. Cost: 64 vectorized
        # (rows x planes) fused adds per Arrow batch — still no Python
        # per-row loop, but ~64x the memory traffic of one BLAS GEMM.
        # A deployment WITHOUT a cross-engine-hash requirement should
        # flip this loop back to `acc = mat @ w.T`: same buckets except
        # for dots within float-ulp of the 0 boundary, at GEMM speed.
        acc = np.zeros((mat.shape[0], total))
        for i in range(DIM):
            acc += mat[:, i, None] * w[None, :, i]
        bits = (acc >= 0).astype(np.int64)  # (n, P)
        codes = np.stack(
            [
                bits[:, b * planes_per_band : (b + 1) * planes_per_band] @ powers
                for b in range(n_bands)
            ],
            axis=1,
        )  # (n, n_bands)
        return pd.Series(list(codes))

    return band_codes


def ann_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    planes_per_band: int = 4,
    n_bands: int = 16,
) -> DataFrame:
    """AND-OR banded LSH candidate generation (the tunable 100 TB path).

    AND within a band: a pair collides only if all `planes_per_band`
    sign bits agree — more planes => smaller buckets => fewer, better
    candidates (bounds the per-bucket quadratic blowup as n grows).
    OR across bands: a pair is a candidate if it collides in ANY band —
    more bands => higher recall. Tune (planes_per_band, n_bands) so
    per-bucket occupancy stays O(n / 2^planes) while recall meets
    target; measure with `ann_recall` below, never guess.

    Plan shape: explode each row into n_bands slim (band, bucket,
    vec_id) tuples — no vectors carried — equi-join on (band, bucket),
    then distinct id pairs. One shuffle on the band-bucket key; the
    vector payload is re-attached only for surviving candidates (see
    ann_topk), so shuffle bytes scale with ids, not 64-double arrays.

    Data realism note (measured, see tests/test_llm.py): the synthetic
    embeddings are near-uniform — the global top-50 pairs sit at cosine
    0.43-0.51 (~64 deg), where per-plane sign agreement is only ~0.65.
    That is the worst case for hyperplane LSH, so the defaults here are
    few-planes/many-bands (4x16). On a real near-dup corpus (cosine
    >= 0.9, agreement >= 0.9/plane) the same machinery runs 8+ planes
    per band for ~2^8 x more pruning at equal recall.
    """
    n = vectors(spark, sf_dir)
    codes = _band_buckets_udf(planes_per_band, n_bands)
    slim = n.select(
        "vec_id", F.posexplode(codes(F.col("e"))).alias("band", "bkt")
    )
    a = slim.select(F.col("vec_id").alias("vec_a"), "band", "bkt")
    b = slim.select(F.col("vec_id").alias("vec_b"), "band", "bkt")
    return (
        a.join(b, ["band", "bkt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def ann_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 50,
    planes_per_band: int = 4,
    n_bands: int = 16,
) -> DataFrame:
    """Banded-LSH approximate top-k cosine pairs: candidates from
    ann_candidate_pairs, exact cosine re-scoring on the survivors."""
    cand = ann_candidate_pairs(spark, sf_dir, planes_per_band, n_bands)
    n = vectors(spark, sf_dir)
    a = n.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
                 F.col("nrm").alias("na"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
                 F.col("nrm").alias("nb"))
    cos = F.expr(cosine())
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("_raw"))
        .orderBy(F.desc("_raw"), "vec_a", "vec_b")
        .limit(k)
        .select("vec_a", "vec_b", F.round("_raw", 4).alias("cosine"))
    )


def brute_topk(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Exact top-k cosine pairs over the FULL table — ground truth for
    recall measurement (O(n^2); measurement harness only). The probe
    side is repartitioned to the session parallelism: the nested-loop
    stream side otherwise inherits the parquet read's handful of
    partitions and serializes the O(n^2) pass (measured 4 tasks on 32
    cores at sf1)."""
    n = vectors(spark, sf_dir)
    a = n.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
                 F.col("nrm").alias("nb"))
    cos = F.expr(cosine())
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("_raw"))
        .orderBy(F.desc("_raw"), "vec_a", "vec_b")
        .limit(k)
        .select("vec_a", "vec_b", F.round("_raw", 4).alias("cosine"))
    )


def ann_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = 50,
    planes_per_band: int = 4,
    n_bands: int = 16,
    gt: set | None = None,
) -> float:
    """recall@k of banded-LSH ANN vs brute-force ground truth (pass
    ``gt`` to reuse one brute pass across configs)."""
    if gt is None:
        gt = {(r.vec_a, r.vec_b) for r in brute_topk(spark, sf_dir, k).collect()}
    got = {
        (r.vec_a, r.vec_b)
        for r in ann_topk(spark, sf_dir, k, planes_per_band, n_bands).collect()
    }
    return len(gt & got) / len(gt)


def bucket_occupancy(
    spark: SparkSession,
    sf_dir: str,
    planes_per_band: int = 4,
    n_bands: int = 16,
) -> dict:
    """Occupancy stats for the band buckets — the quantity that decides
    whether in-bucket pair generation stays sub-quadratic. Returns
    {n_rows, n_buckets, max, p99ish, mean} over non-empty buckets."""
    n = vectors(spark, sf_dir)
    codes = _band_buckets_udf(planes_per_band, n_bands)
    occ = (
        n.select("vec_id", F.posexplode(codes(F.col("e"))).alias("band", "bkt"))
        .groupBy("band", "bkt")
        .agg(F.count("*").alias("c"))
    )
    row = occ.agg(
        F.sum("c").alias("rows"),
        F.count("*").alias("buckets"),
        F.max("c").alias("mx"),
        F.expr("percentile_approx(c, 0.99)").alias("p99"),
        F.avg("c").alias("mean"),
    ).first()
    return {
        "n_rows": row["rows"],
        "n_buckets": row["buckets"],
        "max": row["mx"],
        "p99": row["p99"],
        "mean": float(row["mean"]),
    }


_BANDED_PPB = 8    # planes per band (AND) — precise buckets, n/2^8 occupancy
_BANDED_NB = 16    # bands (OR)
_BANDED_TAU = 0.35

# DuckDB twin of _band_buckets_udf's 8x16 banded LSH + bucket-anchor
# canonicalization: the 128 global hyperplanes are md5-derived exactly
# as _plane_weight, materialized ONCE as 64-element weight lists, and
# each per-(row, plane) dot is the index-order fold of
# functions/vectors.py — bit-identical to the UDF's sequential
# accumulation, so the sign bits, band buckets, per-bucket anchors,
# and the >= tau verify all agree exactly.
_BANDED_ORACLE = f"""
    WITH {vectors_cte()},
    w AS (
        SELECT g,
               list({plane_weight_sql('g')} ORDER BY i) AS wv
        FROM range(0, {_BANDED_PPB * _BANDED_NB}) t1(g),
             range(1, {DIM + 1}) t2(i)
        GROUP BY g
    ),
    bits AS (
        SELECT n.vec_id, w.g,
               CASE WHEN {dot('w.wv', 'n.e', duck=True)} >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM n, w
    ),
    slim AS (
        SELECT vec_id,
               CAST(g // {_BANDED_PPB} AS INT) AS band,
               CAST(SUM(bit * CAST(power(2, g % {_BANDED_PPB}) AS BIGINT))
                    AS BIGINT) AS bkt
        FROM bits GROUP BY vec_id, g // {_BANDED_PPB}
    ),
    anch AS (
        SELECT band, bkt, MIN(vec_id) AS vec_a FROM slim GROUP BY band, bkt
    ),
    cand AS (
        SELECT DISTINCT s.vec_id AS vec_b, a.vec_a
        FROM slim s JOIN anch a ON s.band = a.band AND s.bkt = a.bkt
        WHERE s.vec_id > a.vec_a
    ),
    ver AS (
        SELECT c.vec_b, c.vec_a, {cosine(duck=True)} AS cos
        FROM cand c
        JOIN n a ON a.vec_id = c.vec_a
        JOIN n b ON b.vec_id = c.vec_b
        WHERE {cosine(duck=True)} >= {_BANDED_TAU}
    )
    SELECT vec_b AS vec_id, vec_a AS dup_of, ROUND(cos, 4) AS cosine
    FROM (SELECT vec_b, vec_a, cos,
                 ROW_NUMBER() OVER (PARTITION BY vec_b ORDER BY vec_a) AS rn
          FROM ver)
    WHERE rn = 1
    ORDER BY vec_id
    """


def embedding_canonical_dedup(
    n: DataFrame,
    planes_per_band: int = _BANDED_PPB,
    n_bands: int = _BANDED_NB,
    tau: float = _BANDED_TAU,
) -> DataFrame:
    """Bucket-anchor canonical near-dup assignment over a prepared
    (vec_id, e, nrm) frame — the OUTPUT-BOUNDED kernel behind
    q_dedup_embedding_full (and the planted-duplicate recall test).

    Per (band, bucket) the ANCHOR is the bucket's min vec_id (one
    map-side-combinable hash agg — no window over bucket members, so
    no single-task hot bucket at scale); candidates are
    (member, anchor) with member > anchor — at most n_bands per
    vector, O(n·bands) TOTAL regardless of duplication skew, which is
    what removes the r6 pair-emission quadratic (28x at 10x data).
    Survivors of the exact cosine >= tau verify collapse to one row
    per duplicate vector: dup_of = the smallest verified anchor.
    """
    codes = _band_buckets_udf(planes_per_band, n_bands)
    slim = n.select(
        "vec_id", F.posexplode(codes(F.col("e"))).alias("band", "bkt")
    )
    anch = slim.groupBy("band", "bkt").agg(F.min("vec_id").alias("vec_a"))
    cand = (
        slim.join(anch, ["band", "bkt"])
        .filter(F.col("vec_id") > F.col("vec_a"))
        .select(F.col("vec_id").alias("vec_b"), "vec_a")
        .distinct()
    )
    a = n.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
                 F.col("nrm").alias("na"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
                 F.col("nrm").alias("nb"))
    cos = F.expr(cosine())
    ver = (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_b", "vec_a", cos.alias("_raw"))
        .filter(F.col("_raw") >= tau)
    )
    w = Window.partitionBy("vec_b").orderBy("vec_a")
    return (
        ver.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("dup_of"),
            F.round("_raw", 4).alias("cosine"),
        )
        .orderBy("vec_id")
    )


@register("q_dedup_embedding_full", oracle=_BANDED_ORACLE, tags=("llm", "dedup"))
def q_dedup_embedding_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-TABLE embedding near-dup CANONICALIZATION (cosine >= 0.35):
    8x16 banded-LSH buckets, per-bucket min-id anchor, exact cosine
    verify member-vs-anchor, one (vec_id, dup_of, cosine) row per
    duplicate vector — the bounded-output production shape (r7 rework
    of the r5 all-pairs emission, which measured 28x wall at 10x data
    because pair volume inside duplicate clusters grows
    quadratically; any all-qualifying-pairs contract is Omega(output)
    and at a 100 TB duplicated crawl that job never finishes).

    Candidate volume is <= n_bands per vector BY CONSTRUCTION
    (member pairs only with its bucket's anchor), so candidates,
    verify work, and output are all O(n·bands) no matter how heavy
    the duplication — the quadratic is gone structurally, not tuned
    away. Anchors come from one map-side-combinable MIN agg (no
    window over bucket members -> no hot-bucket straggler task).

    Exact-oracled end-to-end: band-bucket codes are md5-deterministic
    (_plane_weight) and every dot is a sequential left fold on BOTH
    sides (pandas UDF accumulates dimension-by-dimension; the oracle
    uses list_reduce over once-materialized weight lists), so buckets,
    anchors, the verified set, and the min-anchor choice hash-match
    DuckDB exactly.

    Recall contract (measured, not assumed): on planted duplicate
    clusters — the workload this key exists for — a copy collides
    with its source in >=1 of 16 bands w.p. ~1 and the 8-plane
    buckets are precise enough that the anchor is a genuine
    cluster-mate: planted-copy recall = 1.0
    (tests/test_llm.py::test_dedup_embedding_full_planted_recall).
    On the synthetic near-uniform corpus at tau = 0.35 the
    brute-force threshold graph is a dense random graph (~40% of
    vectors have SOME qualifying partner); a bounded-output canonical
    pass intentionally does not enumerate that graph — pairs-recall
    against it is the r5 contract this key no longer makes (the
    block-scoped exact q_dedup_embedding remains the pair-emission
    baseline; q_dedup_semdedup is the cluster-scoped alternative).
    """
    return embedding_canonical_dedup(vectors(spark, sf_dir))


@register(
    "q_knn_label",
    oracle=f"""
    WITH {vectors_cte(label=True)},
    scored AS (
        SELECT a.vec_id AS qid, a.label AS true_label,
               b.vec_id AS cid, b.label AS clabel,
               {cosine(duck=True)} AS cos,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY {cosine(duck=True)} DESC, b.vec_id) AS rn
        FROM n a JOIN n b ON b.vec_id >= 10
        WHERE a.vec_id < 10
    ),
    votes AS (
        SELECT qid, true_label, clabel, COUNT(*) AS cnt
        FROM scored WHERE rn <= 5
        GROUP BY qid, true_label, clabel
    ),
    ranked AS (
        SELECT qid, true_label, clabel AS pred_label,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY cnt DESC, clabel) AS vr
        FROM votes
    )
    SELECT qid AS vec_id, true_label, pred_label
    FROM ranked WHERE vr = 1
    ORDER BY vec_id
    """,
    tags=("llm", "similarity"),
)
def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5) majority-label prediction for query vectors
    vec_id < 10 against the rest of the table.

    Neighbors rank on the raw bit-identical cosine with vec_id
    tiebreak; majority vote tiebreaks on (count desc, label). Scale:
    the query side is tiny -> broadcast it; per-candidate work is one
    fused dot product, the top-k is a per-query window (partial
    top-k per partition under AQE), and the vote is a k-row agg.
    """
    n = vectors(spark, sf_dir)
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    c = n.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.expr(cosine()).alias("cos")
    scored = F.broadcast(q).join(c).select("qid", "true_label", "cid", "clabel", cos)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top.groupBy("qid", "true_label", "clabel").agg(F.count("*").alias("cnt"))
    vw = Window.partitionBy("qid").orderBy(F.desc("cnt"), "clabel")
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            "true_label",
            F.col("clabel").alias("pred_label"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q_embedding_pq — product quantization with an EXACT oracle
# ---------------------------------------------------------------------------

_PQ_SUBS = 8          # subspaces (64 dims / 8 per subspace)
_PQ_SUBDIM = DIM // _PQ_SUBS
_PQ_K = 16            # centroids per subspace (4-bit codes)

# offset of subspace s's slice: the PQ distances fold coordinates
# s*8+1 .. s*8+8
_PQ_AT = f"s * {_PQ_SUBDIM}"


@register(
    "q_embedding_pq",
    oracle=f"""
    WITH v AS (SELECT vec_id, {as_double(duck=True)} AS e FROM embeddings),
    vs AS (
        SELECT vec_id, e, CAST(s AS INT) AS s
        FROM v, range({_PQ_SUBS}) r(s)
    ),
    ranked AS (
        SELECT s, vec_id, e,
               ROW_NUMBER() OVER (
                   PARTITION BY s ORDER BY md5({seed_key(by='s')}), vec_id
               ) AS rnk
        FROM vs
    ),
    cents AS (
        SELECT s, CAST(rnk - 1 AS INT) AS code, e AS ce
        FROM ranked WHERE rnk <= {_PQ_K}
    ),
    dists AS (
        SELECT p.vec_id, p.s, c.code,
               {sq_dist('p.e', 'c.ce', _PQ_SUBDIM, f'p.{_PQ_AT}', duck=True)} AS d
        FROM vs p JOIN cents c ON c.s = p.s
    )
    SELECT vec_id, s AS subspace, code, ROUND(d, 4) AS sq_dist
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id, s ORDER BY d, code
        ) AS rn
        FROM dists
    )
    WHERE rn = 1
    ORDER BY vec_id, subspace
    """,
    tags=("llm", "similarity", "ann"),
)
def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-dim vector compresses to 8
    4-bit codes — the nearest of 16 per-subspace centroids for each
    8-dim slice. The IVF-PQ pair is how billion-vector ANN indexes
    (FAISS-style) fit in memory: IVF (the coarse quantizer of
    q_ivf_pq_search) prunes the search space, PQ shrinks the residual
    distance table ~64x.

    The "training" is deterministic sampling: subspace s's 16
    centroids are the vectors ranked first by md5(s#vec_id) — a
    reproducible stand-in for k-means (q_ivf_pq_search fits its
    codebook with the integer Lloyd of llm/cluster.py) that keeps the
    whole operator exact-oracle-checkable. Assignment is a broadcast
    join of the 128-row codebook against (vector × subspace) rows; the
    argmin is a bounded 16-candidate window with code-ordered
    tie-break; the distance fold is sequential in both engines, so
    even the double sq_dist hash-matches post-round.

    100 TB: codebook is O(K × dim) regardless of corpus size —
    broadcast; assignment is an embarrassingly parallel map (no
    shuffle beyond the argmin window's (vec, subspace) partitioning,
    which AQE plans as a local window after the broadcast join since
    the input is already vec-partitioned).
    """
    assigned = _pq_assign(spark, sf_dir)
    return assigned.select(
        "vec_id",
        F.col("s").alias("subspace"),
        "code",
        F.round("d", 4).alias("sq_dist"),
    ).orderBy("vec_id", "subspace")


# ---------------------------------------------------------------------------
# q_ivf_pq_search — IVF probe -> PQ ADC re-rank, the composed
# billion-vector ANN shape (FAISS IVFADC), with an EXACT oracle
# ---------------------------------------------------------------------------

_IVF_K = 8         # coarse cells
_IVF_PROBE = 4     # cells probed per query
_IVF_ROUNDS = 2    # Lloyd rounds fitting the coarse quantizer
_IVFPQ_REFINE = 150   # FLOOR of the exact-refine shortlist
_IVFPQ_REFINE_DIV = 20  # shortlist scales as max(floor, n_vectors/20):
# ADC rank noise with 16-centroid subquantizers spreads proportionally
# to the candidate count, so a CONSTANT shortlist decays with corpus
# growth (measured at sf1: 150 -> recall@5 0.32, n/20=1000 -> 0.60+;
# tools/ann_recall_audit.py) while a constant FRACTION holds it.
_IVFPQ_TOPK = 5    # results per query


def _ivf_pq_fit_cte() -> str:
    """The DuckDB twin of `_ivf_pq_fit`: the coarse quantizer
    (`lloyd_cte` prefix i, {_IVF_K} cells over the quantized vectors
    `vq`) and the product quantizer (prefix p, {_PQ_K} centroids per
    8-dim subspace slice of `sub`), both {_IVF_ROUNDS} rounds from
    md5-ranked seeds, ending in `home` (every vector's fitted cell),
    `probes` (each query's {_IVF_PROBE} nearest cells), `codes` (every
    vector's per-subspace code) and `adc` (each query's integer
    distance table to every fitted PQ centroid). All distances live on
    the 1e6 fixed-point grid, so assignments, ADC sums and ties are
    exact bigints in both engines."""
    from flink_rc_spark.llm.cluster import lloyd_cte

    coarse = lloyd_cte(
        "i", "vq", f"md5({seed_key('ivf')}), vec_id", _IVF_K, _IVF_ROUNDS, DIM
    )
    pq = lloyd_cte(
        "p", "sub", f"md5({seed_key('pq', 's')}), vec_id", _PQ_K, _IVF_ROUNDS,
        _PQ_SUBDIM, by=("s",)
    )
    return f"""
    vq AS (SELECT vec_id, {on_grid(2, duck=True)} AS m FROM embeddings),
    {coarse},
    home AS (SELECT vec_id, CAST(c_id AS INT) AS cell FROM iasg),
    probes AS (
        SELECT vec_id AS qid, CAST(c_id AS INT) AS cell
        FROM vq CROSS JOIN icent{_IVF_ROUNDS}
        WHERE vec_id < 10
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY {sq_dist('m', 'cm', grid=True, duck=True)},
                                            c_id) <= {_IVF_PROBE}
    ),
    sub AS (
        SELECT vec_id, CAST(s AS INT) AS s,
               m[s * {_PQ_SUBDIM} + 1 : s * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS m
        FROM vq, range({_PQ_SUBS}) r(s)
    ),
    {pq},
    codes AS (SELECT vec_id, s, CAST(c_id AS INT) AS code FROM pasg),
    adc AS (
        SELECT vec_id AS qid, s, CAST(c_id AS INT) AS code,
               {sq_dist('m', 'cm', _PQ_SUBDIM, grid=True, duck=True)} AS d
        FROM sub JOIN pcent{_IVF_ROUNDS} USING (s)
        WHERE vec_id < 10
    )"""


def _ivf_pq_fit(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """Fit the coarse quantizer and PQ codebook with `lloyd`,
    _IVF_ROUNDS rounds each from md5-ranked seeds. Returns
    (cent_rows, pcent_rows): [(c_id, cm)], [(s, code, cs)] on the 1e6
    integer grid — every intermediate is an identical bigint in both
    engines."""
    from flink_rc_spark.llm.cluster import lloyd

    vec = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(on_grid(2)).alias("m")
    ).transform(checkpoint, eager=True)  # scanned once, read every round
    # limit-first TakeOrdered pulls the _IVF_K seed rows; the cell-id
    # ranking window then runs over only those rows
    smp = F.expr(f"md5({seed_key('ivf')})")
    seeds = (
        vec.orderBy(smp, "vec_id")
        .limit(_IVF_K)
        .select(
            (F.row_number().over(Window.orderBy(smp, "vec_id")) - 1)
            .cast("bigint")
            .alias("c_id"),
            F.col("m").alias("cm"),
        )
    )
    sub = vec.crossJoin(
        F.broadcast(
            spark.range(_PQ_SUBS).select(F.col("id").cast("int").alias("s"))
        )
    ).select(
        "vec_id",
        "s",
        F.expr(f"slice(m, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("m"),
    )
    pseed = F.expr(f"md5({seed_key('pq', 's')})")
    pseeds = (
        sub.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("s").orderBy(pseed, "vec_id")),
        )
        .filter(F.col("rnk") <= _PQ_K)
        .select("s", (F.col("rnk") - 1).cast("bigint").alias("c_id"),
                F.col("m").alias("cm"))
    )
    return (
        lloyd(vec, seeds, _IVF_ROUNDS),
        lloyd(sub, pseeds, _IVF_ROUNDS, by=("s",)),
    )


@register(
    "q_ivf_pq_search",
    oracle=f"""
    WITH v AS (SELECT vec_id, {as_double(duck=True)} AS e FROM embeddings),
    -- FITTED coarse quantizer ({_IVF_K} cells) and product quantizer
    -- ({_PQ_K} centroids x {_PQ_SUBS} subspaces): {_IVF_ROUNDS} integer
    -- fixed-point Lloyd rounds each (the q_kmeans protocol), ending in
    -- home + probes cells, codes + the per-query integer ADC table
    {_ivf_pq_fit_cte()},
    -- candidates: vectors homed in a probed cell (self excluded),
    -- scored by the sum of per-subspace ADC lookups over the
    -- candidate's codes — exact bigint sums, no fold policy needed
    scored AS (
        SELECT pr.qid, h.vec_id AS cand_id,
               CAST(SUM(a.d) AS BIGINT) AS dist
        FROM probes pr
        JOIN home h ON h.cell = pr.cell AND h.vec_id <> pr.qid
        JOIN codes k ON k.vec_id = h.vec_id
        JOIN adc a ON a.qid = pr.qid AND a.s = k.s AND a.code = k.code
        GROUP BY pr.qid, h.vec_id
    ),
    -- refine: the ADC top-{_IVFPQ_REFINE} shortlist re-ranked by the
    -- EXACT full-vector distance (the FAISS IVFPQR pattern — raw
    -- vectors touched only for the shortlist)
    shortlist AS (
        SELECT qid, cand_id, dist AS adc_dist,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY dist, cand_id) AS arn
        FROM scored QUALIFY arn <= GREATEST({_IVFPQ_REFINE},
            (SELECT COUNT(*) FROM embeddings) // {_IVFPQ_REFINE_DIV})
    ),
    refined AS (
        SELECT s.qid, s.cand_id, s.adc_dist,
               {sq_dist('v.e', 'c.ce', duck=True)} AS exact_d
        FROM shortlist s
        JOIN v ON v.vec_id = s.qid
        JOIN (SELECT vec_id, e AS ce FROM v) c ON c.vec_id = s.cand_id
    )
    SELECT qid AS vec_id, CAST(rn AS INT) AS rank, cand_id,
           ROUND(exact_d, 4) AS l2_dist, CAST(adc_dist AS BIGINT) AS adc_dist
    FROM (
        SELECT qid, cand_id, exact_d, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY exact_d, cand_id) AS rn
        FROM refined
    ) WHERE rn <= {_IVFPQ_TOPK}
    ORDER BY vec_id, rank
    """,
    tags=("llm", "similarity", "ann"),
)
def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composed ANN search (the FAISS IVFPQR shape): a coarse
    inverted-file quantizer prunes the corpus to the query's 4 nearest
    of 8 cells, asymmetric-distance (ADC) scoring ranks the survivors
    from their 8x4-bit PQ codes, and the corpus-scaled ADC
    shortlist (max(150, n/20) rows) is re-ranked by the exact
    full-vector distance — per-query work drops
    from O(n * dim) to O(n_probe/k_cells * n * subspaces) table
    lookups plus the shortlist's exact distances, which is how billion-vector
    indexes answer queries without touching raw vectors except for the
    final refine.

    BOTH quantizers are FITTED (r6 rework; r5 shipped md5-sample
    stand-ins with recall@5 0.24-0.46): the coarse quantizer and the
    per-subspace PQ codebook each run _IVF_ROUNDS integer fixed-point
    Lloyd rounds (the q_kmeans protocol, llm/cluster.py) from
    md5-ranked seed samples. Fitted cells balance occupancy and
    capture ~0.70-0.74 of true neighbors at 4/8 probes; the trained
    corpus-scaled integer-ADC shortlist (max(150, n/20), exact-
    refined) keeps most of that — measured end recall@5 0.60-0.70
    at sf0.01-sf0.1 and 0.60 at sf1 (20k decorrelated vectors;
    tools/ann_recall_audit.py — a CONSTANT 150 decayed to 0.32 there) (tests/test_llm.py::test_ivf_pq_recall,
    bound 0.5), on near-uniform vectors that are the documented ANN
    worst case.

    Exactly oracled end-to-end: both fits are integer fixed-point
    (every Lloyd intermediate is an identical bigint in both
    engines), code assignment and the ADC table live on the same
    integer grid so the ADC sum is an exact bigint (order-free — no
    fold policy needed), the final refine's double distance is a
    sequential left fold, and every argmin/top-k tiebreaks on the
    id — so the candidate sets, scores, and final ranking are
    bit-identical in DuckDB.

    The fit is INDEX-BUILD work, but the builder is stateless: every
    call re-runs both Lloyd fits (_ivf_pq_fit), so the key's wall is
    fit plus query path.

    100 TB: the coarse fit is q_kmeans' plan (k x dim integer state
    broadcast per round, re-center is a map-side-combined hash agg);
    fitted centroids and PQ codebook are O(k x dim) broadcasts;
    home-cell assignment and code assignment are embarrassingly
    parallel maps done ONCE at index-build; a query touches only the
    probed cells' posting lists (here a cell equi-join), and the ADC
    lookup table is 128 floats per query. Recall vs brute force is
    measured, not assumed — tests/test_llm.py::test_ivf_pq_recall.
    """
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double()).alias("e")
    )
    # index build: both fitted quantizers; the search below is the
    # per-query work
    cent_rows, pcent_rows = _ivf_pq_fit(spark, sf_dir)
    cent = spark.createDataFrame(cent_rows, "c_id bigint, cm array<bigint>")
    pcent = spark.createDataFrame(pcent_rows, "s int, code int, cs array<bigint>")
    vec = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(on_grid(2)).alias("m")
    )
    dist_to_cell = vec.crossJoin(F.broadcast(cent)).withColumn(
        "d", F.expr(sq_dist("m", "cm", grid=True))
    )
    w_vec = Window.partitionBy("vec_id").orderBy("d", "c_id")
    cell = F.col("c_id").cast("int").alias("cell")
    home = (
        dist_to_cell.withColumn("rn", F.row_number().over(w_vec))
        .filter(F.col("rn") == 1)
        .select("vec_id", cell)
    )
    probes = (
        dist_to_cell.filter(F.col("vec_id") < 10)
        .withColumn("rn", F.row_number().over(w_vec))
        .filter(F.col("rn") <= _IVF_PROBE)
        .select(F.col("vec_id").alias("qid"), cell)
    )
    # code assignment + per-query ADC table against the CACHED fitted
    # codebook; every distance, assignment, and ADC sum is an exact
    # bigint on the 1e6 grid
    sub = vec.crossJoin(
        F.broadcast(
            spark.range(_PQ_SUBS).select(F.col("id").cast("int").alias("s"))
        )
    ).select(
        "vec_id",
        "s",
        F.expr(f"slice(m, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("ms"),
    )
    w_pasg = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    fitted = sub.join(F.broadcast(pcent), "s").withColumn(
        "d", F.expr(sq_dist("ms", "cs", _PQ_SUBDIM, grid=True))
    )
    codes = (
        fitted.withColumn("rn", F.row_number().over(w_pasg))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )
    adc = fitted.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "s", "code", "d"
    )
    scored = (
        probes.join(home, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(codes, "vec_id")
        .join(adc, ["qid", "s", "code"])
        .groupBy("qid", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d").cast("long").alias("dist"))
    )
    w_adc = Window.partitionBy("qid").orderBy("dist", "cand_id")
    # corpus-scaled exact-refine shortlist (see _IVFPQ_REFINE_DIV):
    # the count is a parquet-metadata read, and both engines compute
    # the identical integer
    n_vec = load(spark, sf_dir, "embeddings").count()
    refine = max(_IVFPQ_REFINE, n_vec // _IVFPQ_REFINE_DIV)
    shortlist = (
        scored.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= refine)
        .select("qid", "cand_id", F.col("dist").alias("adc_dist"))
    )
    qe = v.select(F.col("vec_id").alias("qid"), "e")
    ce = v.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
    refined = (
        shortlist.join(qe, "qid")
        .join(ce, "cand_id")
        .withColumn("exact_d", F.expr(sq_dist("e", "ce")))
    )
    w_top = Window.partitionBy("qid").orderBy("exact_d", "cand_id")
    return (
        refined.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _IVFPQ_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("rn").cast("int").alias("rank"),
            "cand_id",
            F.round("exact_d", 4).alias("l2_dist"),
            F.col("adc_dist").cast("long").alias("adc_dist"),
        )
        .orderBy("vec_id", "rank")
    )


def _pq_codebook(spark: SparkSession, sf_dir: str):
    """(vs, cents): the per-(vector, subspace) rows and the 128-row
    deterministic codebook (subspace s's 16 centroids = the vectors
    ranked first by md5(s#vec_id))."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double()).alias("e")
    )
    subs = F.array(*[F.lit(s) for s in range(_PQ_SUBS)])
    vs = v.select("vec_id", "e", F.explode(subs).alias("s"))
    w_rank = Window.partitionBy("s").orderBy(
        F.expr(f"md5({seed_key(by='s')})"), "vec_id"
    )
    cents = (
        vs.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= _PQ_K)
        .select("s", (F.col("rnk") - 1).cast("int").alias("code"), F.col("e").alias("ce"))
    )
    return vs, cents


def _pq_assign(spark: SparkSession, sf_dir: str):
    """Per-(vector, subspace) nearest-centroid assignment:
    (vec_id, s, code, d) with code-ordered argmin tie-break."""
    vs, cents = _pq_codebook(spark, sf_dir)
    dists = vs.join(F.broadcast(cents), "s").withColumn(
        "d", F.expr(sq_dist("e", "ce", _PQ_SUBDIM, _PQ_AT))
    )
    w_min = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    return (
        dists.withColumn("rn", F.row_number().over(w_min))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code", "d")
    )


@register(
    "q_sim_pq_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, {as_double(duck=True)} AS e FROM embeddings),
    vs AS (
        SELECT vec_id, e, CAST(s AS INT) AS s
        FROM v, range({_PQ_SUBS}) r(s)
    ),
    ranked AS (
        SELECT s, vec_id, e,
               ROW_NUMBER() OVER (
                   PARTITION BY s ORDER BY md5({seed_key(by='s')}), vec_id
               ) AS rnk
        FROM vs
    ),
    cents AS (
        SELECT s, CAST(rnk - 1 AS INT) AS code, e AS ce
        FROM ranked WHERE rnk <= {_PQ_K}
    ),
    dists AS (
        SELECT p.vec_id, p.s, c.code,
               {sq_dist('p.e', 'c.ce', _PQ_SUBDIM, f'p.{_PQ_AT}', duck=True)} AS d
        FROM vs p JOIN cents c ON c.s = p.s
    ),
    codes AS (
        SELECT vec_id, s, code FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id, s ORDER BY d, code) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    vcodes AS (
        SELECT vec_id, list(code ORDER BY s) AS codes
        FROM codes GROUP BY vec_id
    ),
    queries AS (SELECT vec_id AS qid, e FROM v WHERE vec_id < 10),
    qd AS (
        SELECT q.qid, c.s, c.code,
               {sq_dist('q.e', 'c.ce', _PQ_SUBDIM, f'c.{_PQ_AT}', duck=True)} AS dq
        FROM queries q CROSS JOIN cents c
    ),
    qflat AS (
        SELECT qid, list(dq ORDER BY s, code) AS flat
        FROM qd GROUP BY qid
    ),
    adc AS (
        SELECT q.qid, vc.vec_id,
               list_reduce(
                   list_transform(range(0, {_PQ_SUBS}),
                       s -> q.flat[s * {_PQ_K} + vc.codes[s + 1] + 1]),
                   (acc, x) -> acc + x) AS adc_d
        FROM vcodes vc CROSS JOIN qflat q
    )
    SELECT qid, vec_id, ROUND(adc_d, 4) AS adc
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY adc_d, vec_id) AS rn
        FROM adc
    )
    WHERE rn <= 10
    ORDER BY qid, adc_d, vec_id
    """,
    tags=("llm", "similarity", "ann"),
)
def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-10 search — the query-side
    half of an IVF-PQ index: each query precomputes its 8×16 distance
    table against the codebook ONCE (1,280 doubles), and every
    database vector is then scored by EIGHT table lookups on its
    4-bit codes instead of a 64-dim float computation. That lookup
    asymmetry is why PQ search scales: per-vector work is O(subspaces),
    independent of dimension.

    Everything stays deterministic (md5-sampled codebook, sequential
    per-subspace distance folds, fold-ordered ADC sum s=0..7), so even
    this approximate search carries an EXACT oracle; recall vs the
    true L2 top-10 is measured separately in tests — approximation
    quality and implementation correctness are separate claims.

    100 TB: the per-query distance table is broadcast (10 queries ×
    128 cells); the codes table is the only fact-sized input (8 codes
    per vector); scoring is an embarrassingly parallel map + bounded
    per-query top-k window.
    """
    vs, cents = _pq_codebook(spark, sf_dir)
    codes = _pq_assign(spark, sf_dir)
    vcodes = codes.groupBy("vec_id").agg(
        F.expr("transform(sort_array(collect_list(struct(s, code))), x -> x.code)")
        .alias("codes")
    )
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"), F.expr(as_double()).alias("e")
        )
    )
    qd = queries.crossJoin(F.broadcast(cents)).withColumn(
        "dq", F.expr(sq_dist("e", "ce", _PQ_SUBDIM, _PQ_AT))
    )
    qflat = qd.groupBy("qid").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(s, code, dq))), x -> x.dq)"
        ).alias("flat")
    )
    adc = vcodes.crossJoin(F.broadcast(qflat)).withColumn(
        "adc_d",
        F.expr(
            f"aggregate(sequence(0, {_PQ_SUBS - 1}), 0d, (acc, s) ->"
            f" acc + element_at(flat, s * {_PQ_K} + element_at(codes, s + 1) + 1))"
        ),
    )
    w = Window.partitionBy("qid").orderBy("adc_d", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id", F.round("adc_d", 4).alias("adc"))
        .orderBy("qid", "adc_d", "vec_id")
    )


@register(
    "q_sim_ann_filtered",
    oracle=f"""
    WITH {vectors_cte(label=True)},
    bits AS (SELECT vec_id, label, e, nrm,
                    list_transform(range(0, {_N_PLANES}),
                                   j -> {plane_bit('j', duck=True)}) AS b
             FROM n),
    bands AS (SELECT vec_id, label, e, nrm, bd AS band_id,
                     b[2 * bd + 1] * 2 + b[2 * bd + 2] AS code
              FROM bits, range({_N_PLANES // 2}) r(bd)),
    cand AS (
        SELECT DISTINCT a.vec_id AS qid, a.label AS qlabel,
               b.vec_id AS vec_id
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id
         AND a.code = b.code
         AND a.label = b.label
         AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 10
    ),
    scored AS (
        SELECT c.qid, c.qlabel, c.vec_id, {cosine(duck=True)} AS cos
        FROM cand c
        JOIN n a ON a.vec_id = c.qid
        JOIN n b ON b.vec_id = c.vec_id
    )
    SELECT qid, qlabel, vec_id, ROUND(cos, 4) AS cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM scored
    )
    WHERE rn <= 5
    ORDER BY qid, cos DESC, vec_id
    """,
    tags=("llm", "similarity", "ann"),
)
def q_sim_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTRIBUTE-FILTERED vector search — "nearest neighbors within a
    category": top-5 same-label neighbors per query via banded LSH
    (4 bands × 2 hyperplanes, OR semantics) with the label pushed INTO
    the band join key. Filtered search is the production ANN case
    engines get wrong by post-filtering (top-k then filter loses
    recall when the filter is selective); filtering inside candidate
    generation searches the constrained space directly — fan-out
    shrinks by label selectivity, recall doesn't.

    Same md5-derived hyperplanes as q_sim_ann_lsh, so the whole
    filtered search stays exact-oracle-checkable; candidates are
    distinct-deduped across bands and ranked by the raw bit-identical
    cosine.
    """
    n = vectors(spark, sf_dir)
    bit_cols = [
        F.expr(plane_bit(j)).alias(f"bit{j}") for j in range(_N_PLANES)
    ]
    h = n.select("vec_id", "label", "e", "nrm", *bit_cols)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(bd).alias("band_id"),
                (F.col(f"bit{2 * bd}") * 2 + F.col(f"bit{2 * bd + 1}")).alias(
                    "code"
                ),
            )
            for bd in range(_N_PLANES // 2)
        ]
    )
    bands = h.select(
        "vec_id", "label", F.explode(band_entries).alias("bc")
    ).select("vec_id", "label", "bc.band_id", "bc.code")
    a = bands.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        "band_id",
        "code",
    )
    b = bands.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").alias("blabel"),
        F.col("band_id").alias("band_b"),
        F.col("code").alias("code_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_id") == F.col("band_b"))
            & (F.col("code") == F.col("code_b"))
            & (F.col("qlabel") == F.col("blabel"))
            & (F.col("qid") != F.col("vec_id")),
        )
        .select("qid", "qlabel", "vec_id")
        .distinct()
    )
    qv = n.select(
        F.col("vec_id").alias("qid"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    bv = n.select(
        F.col("vec_id").alias("vec_id"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    cos = F.expr(cosine())
    scored = cand.join(qv, "qid").join(bv, "vec_id").select(
        "qid", "qlabel", "vec_id", cos.alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "qlabel", "vec_id", F.round("cos", 4).alias("cosine"))
        .orderBy("qid", F.desc("cos"), "vec_id")
    )


# ---------------------------------------------------------------------------
# q_sim_matryoshka — prefix-dimension coarse filter + full-dim refine
# ---------------------------------------------------------------------------

_MAT_PREFIX = 32     # dims of the coarse pass (Matryoshka prefix)
_MAT_SHORTLIST = 50  # FLOOR of the exact-refine shortlist
_MAT_SHORTLIST_DIV = 50  # shortlist scales as max(floor, n/50):
# on UNTRAINED (synthetic) embeddings the prefix is only weakly
# correlated with the full cosine, so a constant shortlist decays
# with corpus size (measured at sf1: prefix-16 + 50 -> recall@5 0.12;
# prefix-32 + n/50=400 -> 0.82 — tools/ann_recall_audit.py). Real
# matryoshka-trained embeddings front-load information and need a
# smaller prefix/shortlist; the floor covers that case.
_MAT_TOPK = 5

# DuckDB prefix cosine of the pair rows a and b
_MAT_PCOS_DUCK = (
    f"{dot('a.e', 'b.e', _MAT_PREFIX, duck=True)} / (a.pnrm * b.pnrm)"
)


@register(
    "q_sim_matryoshka",
    oracle=f"""
    WITH {vectors_cte("v")},
    n AS (SELECT *, {norm('e', _MAT_PREFIX, duck=True)} AS pnrm FROM v),
    shortlist AS (
        SELECT qid, cand_id, pcos FROM (
            SELECT a.vec_id AS qid, b.vec_id AS cand_id,
                   {_MAT_PCOS_DUCK} AS pcos,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_MAT_PCOS_DUCK} DESC, b.vec_id
                   ) AS prn
            FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ) WHERE prn <= GREATEST({_MAT_SHORTLIST},
            (SELECT COUNT(*) FROM embeddings) // {_MAT_SHORTLIST_DIV})
    ),
    refined AS (
        SELECT s.qid, s.cand_id, s.pcos, {cosine(duck=True)} AS cos
        FROM shortlist s
        JOIN n a ON a.vec_id = s.qid
        JOIN n b ON b.vec_id = s.cand_id
    )
    SELECT qid AS vec_id, CAST(rn AS INT) AS rank, cand_id,
           ROUND(cos, 4) AS cosine, ROUND(pcos, 4) AS prefix_cosine
    FROM (
        SELECT qid, cand_id, cos, pcos,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, cand_id) AS rn
        FROM refined
    ) WHERE rn <= {_MAT_TOPK}
    ORDER BY vec_id, rank
    """,
    tags=("llm", "similarity", "ann"),
)
def q_sim_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA prefix-dimension retrieval (Kusupati et al. 2022,
    arXiv:2205.13147): embeddings trained with matryoshka losses pack
    coarse semantics into their leading dims, so retrieval runs a
    CHEAP first pass on only the first 32 of 64 dims (half the
    compute and — on a columnar store with dim-sliced columns — half
    the I/O), keeps the top max(50, n/50) by prefix cosine, and
    re-ranks just those with the full-dimension exact cosine. Per
    query: top-5 by full cosine, with the prefix cosine alongside to
    expose the funnel's honesty.

    Exactness: prefix dot/norm and full dot/norm are all sequential
    index-order folds (the repo float policy), both rankings tiebreak
    on the candidate id, so shortlist membership and final ranks
    hash-match DuckDB exactly.

    100 TB: the coarse pass is a linear scan of a 2x narrower column
    against a broadcast 10-row query set (q_knn_label's probe shape)
    with a per-query top-k — TakeOrdered-style partial top-k per
    partition, no global sort; the expensive full-width vectors are
    touched only for the 10 x max(50, n/50) shortlist rows. Composes with any
    coarse index upstream (IVF cells or LSH bands over the PREFIX
    dims) — the prefix pass here is the honest brute-force baseline
    of that family.
    """
    # corpus-scaled shortlist (see _MAT_SHORTLIST_DIV): metadata-cheap
    # count, identical integer in both engines
    mat_shortlist = max(
        _MAT_SHORTLIST,
        load(spark, sf_dir, "embeddings").count() // _MAT_SHORTLIST_DIV,
    )
    n = vectors(spark, sf_dir).select(
        "vec_id", "e", "nrm", F.expr(norm("e", _MAT_PREFIX)).alias("pnrm")
    )
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("pnrm").alias("pna"),
    )
    c = n.select(
        F.col("vec_id").alias("cand_id"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("pnrm").alias("pnb"),
    )
    pcos = F.expr(dot("ea", "eb", _MAT_PREFIX)) / (F.col("pna") * F.col("pnb"))
    w_pre = Window.partitionBy("qid").orderBy(F.desc("pcos"), "cand_id")
    shortlist = (
        F.broadcast(q)
        .join(c, F.col("cand_id") != F.col("qid"))
        .select("qid", "cand_id", "ea", "na", "eb", "nb", pcos.alias("pcos"))
        .withColumn("prn", F.row_number().over(w_pre))
        .filter(F.col("prn") <= mat_shortlist)
    )
    cos = F.expr(cosine())
    w_top = Window.partitionBy("qid").orderBy(F.desc("cos"), "cand_id")
    return (
        shortlist.select("qid", "cand_id", "pcos", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _MAT_TOPK)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("rn").cast("int").alias("rank"),
            "cand_id",
            F.round("cos", 4).alias("cosine"),
            F.round("pcos", 4).alias("prefix_cosine"),
        )
        .orderBy("vec_id", "rank")
    )


# ---------------------------------------------------------------------------
# q_embedding_rvq — two-stage RESIDUAL vector quantization
# ---------------------------------------------------------------------------

_RVQ_K = 8  # centroids per stage (3-bit codes)


@register(
    "q_embedding_rvq",
    oracle=f"""
    WITH v AS (SELECT vec_id, {as_double(duck=True)} AS e FROM embeddings),
    r1 AS (
        SELECT vec_id, e,
               ROW_NUMBER() OVER (
                   ORDER BY md5({seed_key('rvq1')}), vec_id
               ) AS rnk
        FROM v
    ),
    c1 AS (SELECT CAST(rnk - 1 AS INT) AS code1, e AS ce
           FROM r1 WHERE rnk <= {_RVQ_K}),
    a1 AS (
        SELECT vec_id, code1, d1, r FROM (
            SELECT p.vec_id, c.code1,
                   {sq_dist('p.e', 'c.ce', duck=True)} AS d1,
                   list_transform(range(1, {DIM + 1}), i ->
                       p.e[i] - c.ce[i]) AS r
            FROM v p CROSS JOIN c1 c
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d1, code1) = 1
    ),
    r2 AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                   ORDER BY md5({seed_key('rvq2')}), vec_id
               ) AS rnk
        FROM v
    ),
    c2 AS (
        SELECT CAST(r2.rnk - 1 AS INT) AS code2, a1.r AS cr
        FROM r2 JOIN a1 ON r2.vec_id = a1.vec_id
        WHERE r2.rnk <= {_RVQ_K}
        UNION ALL
        SELECT {_RVQ_K} AS code2,
               list_transform(range(1, {DIM + 1}), i -> CAST(0 AS DOUBLE))
    ),
    a2 AS (
        SELECT vec_id, code1, d1, code2, d2 FROM (
            SELECT a.vec_id, a.code1, a.d1, c.code2,
                   {sq_dist('a.r', 'c.cr', duck=True)} AS d2
            FROM a1 a CROSS JOIN c2 c
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, code2) = 1
    )
    SELECT vec_id, code1, code2,
           ROUND(d1, 4) AS sq_err_stage1,
           ROUND(d2, 4) AS sq_err_stage2
    FROM a2
    ORDER BY vec_id
    """,
    tags=("llm", "similarity", "ann"),
)
def q_embedding_rvq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL vector quantization (the RVQ scheme modern neural
    codecs and ANN indexes stack: quantize, subtract, quantize the
    residual): stage 1 assigns each 64-dim vector to the nearest of 8
    md5-ranked-sample centroids; stage 2 quantizes the RESIDUAL
    against a codebook built from the stage-1 residuals of a second
    md5-ranked sample PLUS the ZERO escape codeword (code 8 — with
    unfitted sample codebooks a random high-dim residual direction
    usually hurts, so the escape word is what makes stage 2 a
    guaranteed refinement; a fitted RVQ gets the same property from
    mean-centering). Reported per vector: both codes and the
    stage-wise squared errors — stage 2 NEVER increases error
    (tested exactly: the zero word reproduces stage 1's fold
    bit-for-bit).

    Determinism: codebooks are md5-rank samples (the q_embedding_pq
    seeding contract); every distance is the identical sequential
    left fold in both engines (functions/vectors.py), residual arrays
    subtract element-wise exactly,
    and argmin ties break on the code — ROUND(·, 4) on bit-identical
    doubles is stable.

    Plan: codebooks are 8 broadcast rows each; both assignment stages
    are embarrassingly parallel maps (broadcast join + per-vector
    argmin window on the vec partition); no shuffle of the vector
    table. At 100 TB the codebooks would be Lloyd-fitted
    (q_kmeans/IVF integer protocol) with the same assignment plan.
    """
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double()).alias("e")
    )
    r1 = v.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.expr(f"md5({seed_key('rvq1')})"), "vec_id")
        ),
    )
    c1 = r1.filter(F.col("rnk") <= _RVQ_K).select(
        (F.col("rnk") - 1).cast("int").alias("code1"), F.col("e").alias("ce")
    )
    w1 = Window.partitionBy("vec_id").orderBy("d1", "code1")
    a1 = (
        v.crossJoin(F.broadcast(c1))
        .withColumn("d1", F.expr(sq_dist("e", "ce")))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "code1",
            "d1",
            F.expr("zip_with(e, ce, (x, y) -> x - y)").alias("r"),
        )
    )
    r2 = v.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.expr(f"md5({seed_key('rvq2')})"), "vec_id"))
        .alias("rnk"),
    )
    c2 = (
        r2.filter(F.col("rnk") <= _RVQ_K)
        .join(a1.select("vec_id", "r"), "vec_id")
        .select(
            (F.col("rnk") - 1).cast("int").alias("code2"),
            F.col("r").alias("cr"),
        )
        .unionByName(
            v.limit(1).select(
                F.lit(_RVQ_K).cast("int").alias("code2"),
                F.expr(f"array_repeat(CAST(0 AS DOUBLE), {DIM})").alias("cr"),
            )
        )
    )
    w2 = Window.partitionBy("vec_id").orderBy("d2", "code2")
    return (
        a1.crossJoin(F.broadcast(c2))
        .withColumn("d2", F.expr(sq_dist("r", "cr")))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "code1",
            "code2",
            F.round("d1", 4).alias("sq_err_stage1"),
            F.round("d2", 4).alias("sq_err_stage2"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q_sim_maxsim — ColBERT-style late-interaction (MaxSim) retrieval
# ---------------------------------------------------------------------------

_MS_TOKS = 4      # token vectors per doc (64 dims -> 4 x 16)
_MS_SUBDIM = 16
_MS_NQ = 5        # md5-ranked query docs
_MS_TOPK = 10


def _ms_score(qcol: str, dcol: str, duck: bool) -> str:
    """MaxSim: Σ over query tokens of the max over doc tokens of the
    integer token dot. The doc token is a lambda variable, so each of
    the 4 terms folds one 16-term dot per doc token: spelled as 16
    flat dots in one expression, the score's generated method passed
    the JVM's 8000-byte JIT limit and ran 25% slower at sf1."""
    if duck:
        fmax, fmap, toks = "list_max", "list_transform", f"range(0, {_MS_TOKS})"
    else:
        fmax, fmap, toks = "array_max", "transform", f"sequence(0, {_MS_TOKS - 1})"
    terms = (
        f"{fmax}({fmap}({toks}, td -> "
        + dot(qcol, dcol, _MS_SUBDIM, (tq * _MS_SUBDIM, f"td * {_MS_SUBDIM}"),
              grid=True, duck=duck)
        + "))"
        for tq in range(_MS_TOKS)
    )
    return "(" + " + ".join(terms) + ")"


@register(
    "q_sim_maxsim",
    oracle=f"""
    WITH v AS (SELECT vec_id, {on_grid(0, duck=True)} AS m FROM embeddings),
    q AS (
        SELECT vec_id AS q_id, m AS qm FROM (
            SELECT vec_id, m,
                   ROW_NUMBER() OVER (
                       ORDER BY md5({seed_key('maxsim')}), vec_id) AS rn
            FROM v
        ) WHERE rn <= {_MS_NQ}
    ),
    scored AS (
        SELECT q.q_id, d.vec_id,
               CAST({_ms_score("q.qm", "d.m", True)} AS BIGINT) AS score
        FROM q CROSS JOIN v d
        WHERE d.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, score, CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT q_id, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM scored
    )
    WHERE rn <= {_MS_TOPK}
    ORDER BY q_id, rank
    """,
    tags=("llm", "similarity", "ann"),
)
def q_sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (ColBERT's MaxSim, Khattab &
    Zaharia 2020): each embedding splits into {_MS_TOKS} token
    vectors of {_MS_SUBDIM} dims, and a document's score for a query
    is Σ over QUERY tokens of the max dot product against any DOC
    token — the multi-vector scoring that beats single-vector cosine
    on fine-grained matches. Top-{_MS_TOPK} per query, 5 md5-ranked
    query docs.

    Integer-exact: coordinates quantize to the signed 1e-6 grid
    (|x| < 0.5 ⇒ |m| ≤ 5·10⁵; a 16-dim dot ≤ 4·10¹² — BIGINT-safe),
    so every dot, max, and sum is an identical integer in both
    engines; ranking ties break on vec_id. Per pair the score is 4
    array maxima over the doc tokens of a 16-term integer dot (no UDF,
    no Python).

    Plan: the 5-query frame broadcasts against the vector scan (the
    q_knn_label probe shape); per-query top-k is a window over each
    query's partition. At 100 TB the same scoring rides an IVF/PQ
    shortlist (q_ivf_pq_search) instead of the full scan — MaxSim is
    the RE-RANK stage in production late-interaction stacks.
    """
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.expr(on_grid(0)).alias("m"))
    q = (
        v.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.expr(f"md5({seed_key('maxsim')})"), "vec_id")
            ),
        )
        .filter(F.col("rn") <= _MS_NQ)
        .select(F.col("vec_id").alias("q_id"), F.col("m").alias("qm"))
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.expr(_ms_score("qm", "m", False)).cast("long").alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _MS_TOPK)
        .select("q_id", "vec_id", "score", "rank")
        .orderBy("q_id", "rank")
    )
