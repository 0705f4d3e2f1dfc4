"""Deterministic sampling for reproducible training-data pipelines.

`df.sample()` / `sampleBy()` draw from a per-partition RNG stream, so
results change with partitioning/parallelism — unacceptable for a
pipeline that must be re-runnable bit-for-bit at any cluster size.
The scale-correct alternative is **hash sampling**: keep a row iff a
hash of its stable key falls under the rate threshold. Same rows on
any partitioning, any engine, any day — and exactly reproducible in
the DuckDB oracle.

Hash: first two hex chars of md5(key) as an integer v in [0, 255]
(identical arithmetic both engines, as in q_multimodal_decode);
keep iff v < round(rate * 256).

100 TB story: a per-row filter on a hash of the key — no shuffle, no
RNG state, trivially pushdown-composable; stratified rates are a CASE
over the stratum column. This is also how train/test splits stay
stable as the corpus grows (the reference's R9 index-threshold split
breaks on re-ingestion; hash split does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import doc_hv, md5_int, seed_key
from flink_rc_spark.functions.vectors import on_grid, sq_dist
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# A row is sampled on v = md5_int('k', 1, 2), the first md5 byte of its
# key column k, in [0, 255]; a document's 40-bit hv is exact.doc_hv.

# per-segment sampling rates (x/256) for the stratified query
_RATES = {
    "AUTOMOBILE": 26,  # ~10%
    "BUILDING": 64,  # ~25%
    "FURNITURE": 128,  # ~50%
    "HOUSEHOLD": 26,
    "MACHINERY": 13,  # ~5%
}


def _rate_case_sql(duck: bool = False) -> str:
    whens = " ".join(
        f"WHEN c_mktsegment = '{seg}' THEN {thr}" for seg, thr in _RATES.items()
    )
    return f"{md5_int('k', 1, 2, duck=duck)} < (CASE {whens} ELSE 0 END)"


@register(
    "q_sample_hash",
    oracle=f"""
    WITH keyed AS (
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(l_orderkey AS VARCHAR) || '-' ||
               CAST(l_linenumber AS VARCHAR) AS k
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM keyed
    WHERE {md5_int('k', 1, 2, duck=True)} < 26
    """,
    tags=("llm", "sampling"),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic hash sample of lineitem (keep iff the md5 of
    the primary key's first byte < 26/256). Identical row set at any
    partitioning — the reproducible replacement for df.sample()."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("k"),
    )
    # no ORDER BY: the driver compare is order-insensitive, and a
    # global sort of the sample would be the only shuffle in the plan
    return li.filter(F.expr(md5_int("k", 1, 2)) < 26).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "q_sample_stratified",
    oracle=f"""
    WITH keyed AS (
        SELECT c_custkey, c_mktsegment,
               CAST(c_custkey AS VARCHAR) AS k
        FROM customer
    )
    SELECT c_mktsegment, COUNT(*) AS n_sampled
    FROM keyed
    WHERE {_rate_case_sql(duck=True)}
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("llm", "sampling"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-mktsegment rates (5%-50%)
    applied via a CASE over the stratum — the `sampleBy` replacement
    that stays stable across partitionings. Output: per-stratum kept
    counts."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_custkey").cast("string").alias("k"),
    )
    # both dialects generated from the ONE _rate_case_sql builder so
    # _RATES edits can never drift between engines
    return (
        cust.filter(F.expr(_rate_case_sql()))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("c_mktsegment")
    )


_BOTTOMK_K = 64


@register(
    "q_sample_bottomk",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               {doc_hv(duck=True)} AS hv
        FROM documents
    ),
    bottom AS (
        SELECT doc_id, h, hv,
               ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rk
        FROM hashed
        QUALIFY rk <= {_BOTTOMK_K}
    )
    SELECT doc_id, rk,
           -- KMV distinct estimate from the k-th minimum: (k-1)/u where
           -- u = kth hash as a fraction of the 40-bit space; both
           -- engines divide the same exact integers
           CAST({_BOTTOMK_K - 1} AS DOUBLE)
               / (CAST(MAX(hv) OVER () AS DOUBLE) / CAST(2 AS BIGINT) ** 40)
               AS kmv_estimate
    FROM bottom
    ORDER BY rk
    """,
    tags=("llm", "sampling", "sketch"),
)
def q_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k hash sample: the k documents with the smallest
    md5(doc_id) — the distributed way to draw a FIXED-SIZE uniform
    sample (rate-based sampling can't promise a size). The same k
    minima double as a KMV (k-minimum-values) sketch: (k-1)/u_k
    estimates the distinct-key count, so one TakeOrdered yields both a
    sample and a cardinality estimate.

    Scale: TakeOrderedAndProject — each partition keeps its local k
    smallest (bounded memory), the driver merges 32xk candidates; no
    global sort, no full shuffle, identical output at any partitioning.
    The estimate divides two exactly-agreed integers (40-bit hash
    prefix), so the hash matches the oracle bit-for-bit.
    """
    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.expr(doc_hv()).alias("hv"),
    )
    bottom = hashed.orderBy("h", "doc_id").limit(_BOTTOMK_K)
    w = Window.orderBy("h", "doc_id")
    wall = Window.partitionBy()
    return (
        bottom.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "kmv_estimate",
            F.lit(float(_BOTTOMK_K - 1))
            / (F.max("hv").over(wall).cast("double") / F.lit(float(1 << 40))),
        )
        .select("doc_id", "rk", "kmv_estimate")
        .orderBy("rk")
    )


_WEIGHTED_K = 20


@register(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln(({doc_hv(duck=True)} + 1.0)
                   / 1099511627776.0)
                   / CAST(n_chars AS DOUBLE) AS ekey
        FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(ekey * 1000000, 4) AS ekey_ppm,
           ROW_NUMBER() OVER (ORDER BY ekey, doc_id) AS rk
    FROM keyed
    QUALIFY rk <= {_WEIGHTED_K}
    ORDER BY rk
    """,
    tags=("llm", "sampling"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement (Efraimidis–Spirakis
    exponential-sort): each document draws u ~ Uniform(0,1] and
    competes with key −ln(u)/w; the k smallest keys are a weighted
    sample — here w = n_chars, the "sample long documents more"
    policy a curation pipeline uses for quality-weighted draws.

    Determinism: u comes from the 40-bit md5(doc_id) prefix
    ((hv+1)/2^40 ∈ (0,1], the q_sample_bottomk integer idiom), so both
    engines take ln/divide on IDENTICAL doubles — the keys, the top-k
    cut, and the output ranks all hash-match exactly. Exposing the key
    as parts-per-million (ROUND(·e6, 4)) keeps the column readable
    without losing the hash pin.

    Scale: TakeOrdered on the key — per-partition k minima, driver
    merge, no global sort, no shuffle; partitioning-independent like
    every sampler here. One pass, no replacement bookkeeping — THE
    property that makes exponential-sort the distributed weighted
    sampler.
    """
    docs = load(spark, sf_dir, "documents")
    hv = F.expr(doc_hv())
    ekey = -F.log((hv.cast("double") + F.lit(1.0)) / F.lit(float(1 << 40))) / F.col(
        "n_chars"
    ).cast("double")
    keyed = docs.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"),
                        ekey.alias("ekey"))
    top = keyed.orderBy("ekey", "doc_id").limit(_WEIGHTED_K)
    w = Window.orderBy("ekey", "doc_id")
    return (
        top.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            "n_chars",
            F.round(F.col("ekey") * 1e6, 4).alias("ekey_ppm"),
            "rk",
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# q_sample_quota — per-group CAP (quota) sampling
# ---------------------------------------------------------------------------

_QUOTA_PER_SOURCE = 15  # documents kept per source


@register(
    "q_sample_quota",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(concat('q', CAST(doc_id AS VARCHAR))),
                                doc_id) AS rk
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               MIN(doc_id) AS min_kept_doc,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id)) AS kept_set_md5
        FROM ranked
        WHERE rk <= {_QUOTA_PER_SOURCE}
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "sampling"),
)
def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUOTA sampling: keep at most 15 documents per
    source, chosen by md5 order — the per-domain CAP every
    pretraining mixture applies to stop one crawl from dominating
    (complementing q_sample_stratified's per-stratum RATES: a rate
    scales with the stratum, a cap bounds it). md5 order makes the
    kept set deterministic and partitioning-independent — rerun the
    job on any cluster layout, keep the same documents; the kept-set
    md5 in the output hash-proves set identity, not just counts.

    100 TB: one window per source partition (the same shuffle a
    groupBy needs). When a single source is itself too hot for one
    partition, the two-phase refinement is per-partition bottom-k
    then global merge — exactly the q_sample_bottomk shape with
    k = quota, composing with the salting playbook.
    """
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("q"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    kept = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= _QUOTA_PER_SOURCE)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.min("doc_id").alias("min_kept_doc"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda d: d.cast("string"),
                    ),
                )
            ).alias("kept_set_md5"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_sample_coreset — farthest-point (k-center greedy) coreset selection
# ---------------------------------------------------------------------------

_FPS_K = 8  # coreset size (seed + 7 greedy picks)


def _fps_oracle() -> str:
    """Unrolled greedy farthest-point selection as DuckDB CTE text:
    integer-grid vectors (the q_kmeans quantization), md5-ranked seed,
    then k−1 rounds of argmax-of-min-distance with vec_id tie-break,
    ending with the k-center coverage radius of the chosen set."""
    dist = sq_dist("v.m", "c.m", grid=True, duck=True)
    parts = [
        f"""
        vq AS (SELECT vec_id, {on_grid(2, duck=True)} AS m FROM embeddings),
        ch0 AS (
            SELECT vec_id, m, 0 AS sel_rank, CAST(NULL AS BIGINT) AS dist_at_pick
            FROM (SELECT vec_id, m,
                         ROW_NUMBER() OVER (
                             ORDER BY md5({seed_key('fps')}), vec_id) AS rn
                  FROM vq) WHERE rn = 1
        )"""
    ]
    for r in range(1, _FPS_K):
        parts.append(
            f"""
        d{r} AS MATERIALIZED (
            SELECT v.vec_id, CAST(MIN({dist}) AS BIGINT) AS dmin
            FROM vq v CROSS JOIN ch{r - 1} c
            GROUP BY v.vec_id
        ),
        ch{r} AS (
            SELECT * FROM ch{r - 1}
            UNION ALL
            SELECT q.vec_id, q.m, {r} AS sel_rank, p.dmin
            FROM (SELECT vec_id, dmin FROM d{r}
                  ORDER BY dmin DESC, vec_id LIMIT 1) p
            JOIN vq q ON q.vec_id = p.vec_id
        )"""
        )
    parts.append(
        f"""
        cover AS (
            SELECT CAST(MAX(dmin) AS BIGINT) AS cover_radius_sq FROM (
                SELECT v.vec_id, MIN({dist}) AS dmin
                FROM vq v CROSS JOIN ch{_FPS_K - 1} c
                GROUP BY v.vec_id
            )
        )"""
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT ch.sel_rank, ch.vec_id, ch.dist_at_pick, cover.cover_radius_sq
        FROM ch{_FPS_K - 1} ch CROSS JOIN cover
        ORDER BY ch.sel_rank
    """
    )


@register(
    "q_sample_coreset",
    oracle=None,  # assembled below from the round helper
    tags=("llm", "sample", "iterative"),
)
def q_sample_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORESET selection by greedy farthest-point (k-center) sampling
    — the diversity-maximizing subset pick training-data pipelines
    use where hash/stratified sampling would oversample dense modes
    (Sener & Savarese 2018's active-learning core-set): start from an
    md5-ranked seed, then repeatedly add the vector FARTHEST from the
    chosen set (max-min distance, vec_id tie-break), reporting each
    pick's distance and the final k-center coverage radius (the
    2-approximation certificate of Gonzalez' algorithm).

    Integer fixed-point (the q_kmeans grid): distances are exact
    integer sums of squares, so every greedy pick and the radius are
    engine-identical — an order-sensitive iterative selection made
    hash-verifiable.

    Plan: the chosen set (<= k = {_FPS_K} rows) lives ON THE DRIVER;
    each round ships it as a numpy closure constant into one
    Arrow-vectorized min-distance map (the cluster._assign shape —
    exact int64 expansion, see cluster.sq_dist_kernel) and TakeOrdered(1)s
    the farthest vector back. Vectors never shuffle, nothing is
    re-checkpointed per round (the r10 form paid 8 eager checkpoints
    + 8 broadcast crossJoin plans with the interpreted HOF fold —
    r11: sf1 8.3 -> ~3 s). The coverage pass is one more vectorized
    map + max-reduce.
    """
    import numpy as np
    import pandas as pd

    from flink_rc_spark.llm.cluster import sq_dist_kernel

    emb = load(spark, sf_dir, "embeddings")
    vq = emb.select("vec_id", F.expr(on_grid(2)).alias("m")).transform(
        checkpoint, eager=True
    )  # scanned once, probed every round
    seed = (
        vq.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.expr(f"md5({seed_key('fps')})"), "vec_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m")
        .collect()[0]
    )
    # (vec_id, m, sel_rank, dist_at_pick) — the greedy state, driver-side
    chosen: list = [(int(seed["vec_id"]), list(seed["m"]), 0, None)]

    dists = sq_dist_kernel()

    def dmin_map():
        cm = np.array([c[1] for c in chosen], dtype=np.int64)

        def batches(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                d = dists(pdf["m"], cm).min(axis=1)
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "dmin": d})

        return vq.mapInPandas(batches, schema="vec_id bigint, dmin bigint")

    for r in range(1, _FPS_K):
        pick = (
            dmin_map().orderBy(F.desc("dmin"), "vec_id").limit(1).collect()[0]
        )
        # fetch just the picked row's vector (collecting the whole
        # vector column keyed by id would not scale)
        m_row = vq.filter(F.col("vec_id") == int(pick["vec_id"])).select(
            "m"
        ).collect()[0]
        chosen.append(
            (int(pick["vec_id"]), list(m_row["m"]), r, int(pick["dmin"]))
        )
    cover = dmin_map().agg(
        F.max("dmin").cast("long").alias("cover_radius_sq")
    )
    chosen_df = spark.createDataFrame(
        [(c[2], c[0], c[3]) for c in chosen],
        "sel_rank int, vec_id bigint, dist_at_pick bigint",
    )
    return (
        chosen_df.crossJoin(F.broadcast(cover))
        .select("sel_rank", "vec_id", "dist_at_pick", "cover_radius_sq")
        .orderBy("sel_rank")
    )


from flink_rc_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["q_sample_coreset"].oracle = _fps_oracle()
