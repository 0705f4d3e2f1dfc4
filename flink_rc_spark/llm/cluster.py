"""Distributed k-means clustering (Lloyd's algorithm), hash-verified.

Iterative ML on DataFrames, the clustering sibling of the PageRank
fixpoint (llm/dedup.py q_graph_pagerank): a fixed number of Lloyd
rounds, each round = one assignment of every point to its nearest
centroid + one element-wise re-center aggregate — never a driver-side
loop over vectors, never an all-pairs stage.

ONE FIT PER ENGINE: every k-means in the package — q_kmeans,
q_silhouette and q_dedup_semdedup (k-means over the embeddings), the
IVF coarse quantizer and the per-subspace PQ codebook of
q_ivf_pq_search — is `lloyd` in Spark and `lloyd_cte` in DuckDB.
Both take the points as (vec_id, *by, m), fit k centroids per `by`
group (the PQ codebook fits one per subspace), and follow the same
protocol, so no other module writes a round body.

INTEGER FIXED-POINT protocol (what makes an iterative float algorithm
hash-verifiable against an independent engine): embeddings live in
(−0.5, 0.5), so m_i = round((x_i + 2)·10⁶) maps every coordinate to a
POSITIVE bigint exactly reproducible in both engines
(`functions/vectors.py::on_grid(2)`; the double (x+2)·10⁶ is the same
IEEE value bit-for-bit from the same float32 input). Distances are
exact integer sums of squares (≤ 64·10¹² — well inside bigint),
argmin ties break on centroid id, an empty cluster keeps its
centroid, and the re-centered mean is quantized back to the integer
grid with round-half-up spelled as
(2·Σ + n) DIV (2n) — positive operands, so Spark's truncating DIV and
DuckDB's flooring // agree. After the quantization, EVERY
intermediate in both engines is an identical integer, so three rounds
later the cluster sizes, members, and distances still hash-match
exactly. (The same trick at 10⁻⁶ resolution is how the PageRank key
makes 5 damped rounds exact; the DSIR key applies it to log-ratios.)

100 TB story: the model state (groups × k × dim ints) stays on the
driver between rounds and rides to every task as a closure constant —
vectors never shuffle for assignment; the re-center is a
(by, c_id, dim) hash aggregate with map-side combine whose collected
result is groups × k rows per round. Rounds are a fixed small constant
(Lloyd converges fast; production pipelines run bounded rounds on a
sample anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.vectors import DIM, on_grid, sq_dist
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

K = 8
ROUNDS = 3  # assignment rounds; centroids update between them


def lloyd_cte(
    p: str,
    points: str,
    seed_order: str,
    k: int | str,
    rounds: int,
    dim: int,
    by: Sequence[str] = (),
) -> str:
    """The Lloyd fit as DuckDB CTE text (generated: the round body is
    identical text per round). ``points`` names a relation
    (vec_id, *by, m); per ``by`` group the seeds `{p}cent0` are its
    first ``k`` points in ``seed_order`` (``k`` an int or a scalar SQL
    expression), c_id 0..k-1. Each of ``rounds`` rounds assigns every
    point and re-centers, giving `{p}cent1`…`{p}cent{rounds}`
    (*by, c_id, cm); `{p}asg` (vec_id, *by, m, c_id, dist) is the
    nearest-centroid assignment against `{p}cent{rounds}`."""
    grp = "".join(f"{b}, " for b in by)
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    seed_rank = f"ROW_NUMBER() OVER ({part}ORDER BY {seed_order})"
    ctes = [f"""
    {p}cent0 AS (
        SELECT {grp}CAST({seed_rank} - 1 AS BIGINT) AS c_id, m AS cm
        FROM {points} QUALIFY {seed_rank} <= {k}
    )"""]
    for r in range(rounds + 1):
        asg = f"{p}asg" if r == rounds else f"{p}asg{r}"
        join = (
            f"JOIN {p}cent{r} USING ({', '.join(by)})" if by
            else f"CROSS JOIN {p}cent{r}"
        )
        ctes.append(f"""
    {asg} AS (
        SELECT * FROM (
            SELECT vec_id, {grp}m, c_id,
                   {sq_dist('m', 'cm', dim, grid=True, duck=True)} AS dist
            FROM {points} {join}
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY {grp}vec_id
                                     ORDER BY dist, c_id) = 1
    )""")
        if r < rounds:
            ctes.append(f"""
    {p}cent{r + 1} AS (
        SELECT {grp}c_id, COALESCE(n.cm, o.cm) AS cm
        FROM {p}cent{r} o LEFT JOIN (
            SELECT {grp}c_id, list(cv ORDER BY i) AS cm FROM (
                SELECT {grp}c_id, i,
                       (2 * SUM(m[i]) + COUNT(*)) // (2 * COUNT(*)) AS cv
                FROM {asg}, range(1, {dim + 1}) r(i)
                GROUP BY {grp}c_id, i
            ) GROUP BY {grp}c_id
        ) n USING ({grp}c_id)
    )""")
    return ",".join(ctes)


def sq_dist_kernel():
    """The exact-distance closure every Arrow kernel here shares:
    ``dists(col, cm)`` maps a pandas Series of bigint vectors and a
    (k, dim) int64 centroid matrix to the (n, k) int64 matrix of
    squared distances.

    Exactness: |m-c|^2 = |m|^2 + |c|^2 - 2<m,c> term-by-term in
    int64 — quantized coords are <= ~2.6e6 (the +2.0 offset grid), so
    every intermediate is <= 64 * (2.6e6)^2 ~ 4.3e14 << 2^63; integer
    arithmetic is associative, so the expanded form equals the SQL
    fold bit-for-bit.

    Kernels capture the returned closure at factory time and call it
    through that cell, never through a module-level name: cloudpickle
    ships module-level functions by reference, and Python workers
    started without this package on their path would die with
    ModuleNotFoundError (the llm/pairkern.py pickling contract)."""
    import numpy as np

    def dists(col, cm):
        m = np.array([np.asarray(v) for v in col], dtype=np.int64)
        c2 = (cm * cm).sum(axis=1)
        return (m * m).sum(axis=1)[:, None] + c2[None, :] - 2 * (m @ cm.T)

    return dists


def _assign(
    points: DataFrame, cent: list[tuple], by: Sequence[str] = ()
) -> DataFrame:
    """One Lloyd assignment, Arrow-vectorized: (vec_id, *by, m, c_id,
    dist), every point's nearest centroid within its ``by`` group. The
    driver rows ``cent`` (*by, c_id, cm) ship as numpy closure
    constants; each Arrow batch computes exact int64 distances to ALL
    of its group's centroids with one matmul and takes the argmin.
    Tie-break: each group's centroids are sorted by c_id and
    np.argmin returns the FIRST minimum — exactly the oracle's
    ``ROW_NUMBER() OVER (ORDER BY dist, c_id) = 1``.

    Why not pure SQL: the k x dim per-row argmin is the one kernel
    the built-in surface cannot express efficiently — the broadcast
    crossJoin + HOF fold evaluates interpreted (~47 ns/element,
    3.9 s per round over 20k x 64 at sf1), and a flat unroll is slower
    still (functions/vectors.py). One vectorized matmul per Arrow batch
    is the shape Spark MLlib itself uses for k-means assignment."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    dists = sq_dist_kernel()
    by = list(by)
    groups: dict = {}
    for *key, c_id, cm in sorted(cent):
        groups.setdefault(tuple(key), []).append((c_id, cm))
    models = {
        key: (
            np.array([c for c, _ in rows], dtype=np.int64),
            np.array([cm for _, cm in rows], dtype=np.int64),
        )
        for key, rows in groups.items()
    }

    def assign_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            for key, part in pdf.groupby(by, sort=False) if by else [((), pdf)]:
                cids, cm = models[key]
                d = dists(part["m"], cm)
                j = d.argmin(axis=1)
                yield part.assign(c_id=cids[j], dist=d[np.arange(len(j)), j])

    cols = ["vec_id", *by, "m"]
    schema = StructType(
        [points.schema[c] for c in cols]
        + [StructField("c_id", LongType()), StructField("dist", LongType())]
    )
    return points.select(*cols).mapInPandas(assign_batches, schema)


def lloyd(
    points: DataFrame, seeds: DataFrame, rounds: int, by: Sequence[str] = ()
) -> list[tuple]:
    """The Lloyd fit in Spark, the twin of `lloyd_cte`: ``rounds``
    rounds over ``points`` (vec_id, *by, m) from ``seeds``
    (*by, c_id, cm). Returns the fitted centroids as driver rows
    (*by, c_id, cm) sorted by (*by, c_id).

    Each round is one `_assign` plus one collected re-center aggregate
    of at most groups·k rows; the centroids stay on the driver between
    rounds, and a cluster no point chose keeps its centroid there."""
    by = list(by)
    cent = sorted(tuple(r) for r in seeds.select(*by, "c_id", "cm").collect())
    for _ in range(rounds):
        new = {
            tuple(r)[:-1]: r["cm"]
            for r in _assign(points, cent, by)
            .select(*by, "c_id", F.posexplode("m").alias("i", "v"))
            .groupBy(*by, "c_id", "i")
            .agg(F.expr("(2 * SUM(v) + COUNT(*)) DIV (2 * COUNT(*))").alias("cv"))
            .groupBy(*by, "c_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "cv"))),
                    lambda s: s["cv"],
                ).alias("cm")
            )
            .collect()
        }
        cent = [(*c[:-1], new.get(c[:-1], c[-1])) for c in cent]
    return cent


def _duck_oracle() -> str:
    return f"""WITH
    vec AS (SELECT vec_id, {on_grid(2, duck=True)} AS m FROM embeddings),
    {lloyd_cte('k', 'vec', 'vec_id', K, ROUNDS - 1, DIM)}
    SELECT c_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(vec_id) AS min_vec_id,
           CAST(SUM(dist) AS BIGINT) AS total_dist
    FROM kasg
    GROUP BY c_id
    ORDER BY c_id"""


def kmeans_rounds(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> tuple[DataFrame, list[tuple], DataFrame]:
    """(vec, cent, assign): the quantized vectors, the driver rows
    (c_id, cm) of the centroids the LAST assignment round used
    (kcent{ROUNDS-1} in the oracle CTE), and the final assignment.
    Shared by kmeans_assign and the silhouette key (which needs
    per-vector distances to EVERY final centroid, not just the
    argmin). ``k=None`` keeps the fixed k={K}."""
    emb = load(spark, sf_dir, "embeddings")
    vec = emb.select("vec_id", F.expr(on_grid(2)).alias("m")).transform(
        checkpoint, eager=True
    )  # scanned once, probed every round
    seeds = (
        vec.orderBy("vec_id")
        .limit(K if k is None else k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("bigint")
            .alias("c_id"),
            F.col("m").alias("cm"),
        )
    )
    cent = lloyd(vec, seeds, ROUNDS - 1)
    # The final assignment is consumed more than once downstream
    # (semdedup's in-cluster SELF-join reads it on both sides), so
    # materialize it ONCE here (lazy: persisted by the first job that
    # touches it).
    return vec, cent, _assign(vec, cent).transform(checkpoint, eager=False)


def kmeans_assign(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """The final Lloyd assignment (vec_id, m, c_id, dist) — the Spark
    twin of the oracle's `kasg`. Shared by q_kmeans (fixed k={K}) and
    the SemDeDup key (corpus-scaled k). ``k=None`` keeps the fixed
    default."""
    return kmeans_rounds(spark, sf_dir, k)[2]


@register(
    "q_kmeans",
    oracle=_duck_oracle(),
    tags=("llm", "ml", "iterative", "agg"),
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, 3 Lloyd rounds, deterministic
    lowest-vec_id seeding) over the embeddings table, INTEGER
    FIXED-POINT so every round hash-matches the unrolled SQL oracle:
    per-cluster member count, smallest member id, and the exact total
    within-cluster squared distance. See the module docstring for the
    quantization protocol and the 100 TB plan shape.
    """
    return (
        kmeans_assign(spark, sf_dir).groupBy("c_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
            F.sum("dist").cast("bigint").alias("total_dist"),
        )
        .orderBy("c_id")
    )


# ---------------------------------------------------------------------------
# q_embed_pca — first principal component by power iteration, hash-exact
# ---------------------------------------------------------------------------

PIT_ROUNDS = 12
_PIT_TARGET = 1 << 20  # rescale matvec results to ~2^20 between rounds


def _pca_rounds_cte() -> str:
    """Unrolled power iteration as DuckDB CTE text (generated — the
    round body is identical per round). Each round is one matvec over
    the 64x64 integer Gram plus an EXACT-FLOOR rescale: v' =
    floor(w / gg) with gg = max|w| // 2^20 + 1, spelled with the
    positive-offset trick (w + (ma // gg + 1) * gg) // gg -
    (ma // gg + 1) so the only divisions have positive numerators —
    where DuckDB's flooring // and Spark's truncating DIV (and
    Python's //) all agree. Every CTE is MATERIALIZED: DuckDB inlines
    plain CTEs, and 12 rounds each referencing gq + the previous v
    would otherwise expand the Gram subtree ~3^12 times (observed:
    fd exhaustion from re-opened parquet scans). Expects gq(d, e, g)
    and v0(d, v)."""
    parts = []
    for k in range(1, PIT_ROUNDS + 1):
        parts.append(f"""
    w{k} AS MATERIALIZED (
        SELECT gq.d, CAST(SUM(gq.g * v.v) AS BIGINT) AS w
        FROM gq JOIN v{k - 1} v ON gq.e = v.d GROUP BY gq.d
    ),
    m{k} AS MATERIALIZED (
        SELECT MAX(ABS(w)) AS ma,
               MAX(ABS(w)) // {_PIT_TARGET} + 1 AS gg
        FROM w{k}
    ),
    v{k} AS MATERIALIZED (
        SELECT d, (w + (ma // gg + 1) * gg) // gg - (ma // gg + 1) AS v
        FROM w{k}, m{k}
    )""")
    return ",".join(parts)


@register(
    "q_embed_pca",
    oracle=f"""
    WITH vec AS MATERIALIZED (
        SELECT vec_id, {on_grid(2, duck=True)} AS m FROM embeddings
    ),
    nn AS (SELECT COUNT(*) AS n FROM vec),
    sums AS (SELECT r.i AS i, CAST(SUM(m[r.i]) AS BIGINT) AS s
             FROM vec CROSS JOIN range(1, {DIM + 1}) r(i) GROUP BY r.i),
    mu AS (SELECT i, s // (SELECT n FROM nn) AS mu FROM sums),
    cent AS MATERIALIZED (
        SELECT vec_id, r.i AS i, m[r.i] - mu.mu AS c
        FROM vec CROSS JOIN range(1, {DIM + 1}) r(i)
        JOIN mu ON mu.i = r.i
    ),
    gram AS MATERIALIZED (
        SELECT a.i AS d, b.i AS e, CAST(SUM(a.c * b.c) AS BIGINT) AS g
        FROM cent a JOIN cent b USING (vec_id) GROUP BY a.i, b.i
    ),
    gm AS (
        SELECT MAX(ABS(g)) AS ma,
               MAX(ABS(g)) // {_PIT_TARGET} + 1 AS gg
        FROM gram
    ),
    gq AS MATERIALIZED (
        SELECT d, e, (g + (ma // gg + 1) * gg) // gg - (ma // gg + 1) AS g
        FROM gram, gm
    ),
    v0 AS (SELECT r.i AS d, CAST(1 AS BIGINT) AS v
           FROM range(1, {DIM + 1}) r(i)),
    {_pca_rounds_cte()},
    nrm AS (SELECT SQRT(CAST(SUM(v * v) AS DOUBLE)) AS nv
            FROM v{PIT_ROUNDS})
    SELECT d AS dim, v AS v_fixed,
           CAST(v AS DOUBLE) / (SELECT nv FROM nrm) AS loading
    FROM v{PIT_ROUNDS}
    ORDER BY d
    """,
    tags=("llm", "ml", "linalg"),
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST PRINCIPAL COMPONENT of the embedding corpus — the
    dimensionality diagnostic (dominant direction + its loadings)
    every embedding pipeline runs before whitening, Matryoshka
    truncation, or drift monitoring.

    ARCHITECTURE — Gram-block + driver solve (the rc/readout.py R5
    pattern): the data-sized work is the 64x64 covariance Gram,
    computed distributed as an exploded outer-product aggregate
    (map-side combine caps shuffle volume at 4096 rows per task,
    independent of corpus size); the model-sized work — 12 rounds of
    power iteration on the 4096-entry Gram — runs on the driver, the
    same split FAISS uses for codebook fits. At 100 TB only the Gram
    agg grows; the driver never sees a vector. (A production variant
    computes per-partition numpy Grams via mapInPandas — fewer rows
    exploded; the relational spelling here is what the cross-engine
    hash can pin.)

    INTEGER FIXED-POINT, end-to-end exact: quantized coords (the
    q_kmeans grid), floor-mean centering mu = S DIV n (positive
    operands), integer Gram, then every power-iteration round rescales
    by gg = max|w| // 2^20 + 1 using exact floor division spelled with
    the positive-offset trick — DuckDB //, Spark DIV, and Python //
    all compute the identical integer, so after 12 rounds the
    eigenvector estimate (and its sign) is bit-identical in all three.
    The ONLY floats are the final sqrt + division, both correctly
    rounded IEEE on identical integer inputs. Top-eigenvalue gap on
    near-uniform synthetic data is small, so 12 rounds pin a
    DETERMINISTIC estimate rather than a converged one — the contract
    is the algorithm, hash-checked; convergence quality is asserted
    separately in tests (Rayleigh quotient must dominate the average
    eigenvalue).
    """
    emb = load(spark, sf_dir, "embeddings")
    vec = emb.select("vec_id", F.expr(on_grid(2)).alias("m"))
    exploded = vec.select("vec_id", F.posexplode("m").alias("i0", "md"))
    mu_arr = (
        exploded.groupBy("i0")
        .agg(F.expr("SUM(md) DIV COUNT(*)").alias("mu"))
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i0", "mu"))),
                lambda s: s["mu"],
            ).alias("mu_arr")
        )
    )
    centered = vec.crossJoin(F.broadcast(mu_arr)).select(
        F.expr("zip_with(m, mu_arr, (a, b) -> a - b)").alias("c")
    )
    pairs = centered.select(
        F.posexplode("c").alias("d0", "cd"), "c"
    ).select("d0", "cd", F.posexplode("c").alias("e0", "ce"))
    gram_rows = (
        pairs.groupBy("d0", "e0")
        .agg(F.sum(F.col("cd") * F.col("ce")).alias("g"))
        .collect()
    )
    # model-sized driver solve: exact Python ints mirror the bigint ops
    gram = {(r["d0"], r["e0"]): int(r["g"]) for r in gram_rows}
    ma = max(abs(g) for g in gram.values())
    gg = ma // _PIT_TARGET + 1
    gq = [
        [gram[(d, e)] // gg for e in range(DIM)] for d in range(DIM)
    ]
    v = [1] * DIM
    for _ in range(PIT_ROUNDS):
        w = [sum(gq[d][e] * v[e] for e in range(DIM)) for d in range(DIM)]
        wa = max(abs(x) for x in w)
        wg = wa // _PIT_TARGET + 1
        v = [x // wg for x in w]
    import math

    nv = math.sqrt(float(sum(x * x for x in v)))
    out = [(d + 1, v[d], float(v[d]) / nv) for d in range(DIM)]
    schema = "dim BIGINT, v_fixed BIGINT, loading DOUBLE"
    return spark.createDataFrame(out, schema).orderBy("dim")


@register(
    "q_embed_drift",
    oracle=f"""
    WITH vec AS MATERIALIZED (
        SELECT vec_id % 2 AS half, {on_grid(2, duck=True)} AS m FROM embeddings
    ),
    dims AS (
        SELECT half, r.i AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m[r.i]) AS BIGINT) AS s,
               CAST(SUM(m[r.i] * m[r.i]) AS BIGINT) AS qq
        FROM vec CROSS JOIN range(1, {DIM + 1}) r(i)
        GROUP BY half, r.i
    ),
    sides AS (
        SELECT a.dim,
               a.s // a.n AS mean_a, b.s // b.n AS mean_b,
               a.n AS n_a, b.n AS n_b,
               CAST(a.n AS HUGEINT) * a.qq - CAST(a.s AS HUGEINT) * a.s
                 AS va_n2,
               CAST(b.n AS HUGEINT) * b.qq - CAST(b.s AS HUGEINT) * b.s
                 AS vb_n2
        FROM dims a JOIN dims b USING (dim)
        WHERE a.half = 0 AND b.half = 1
    )
    SELECT dim, mean_a, mean_b,
           mean_b - mean_a AS delta,
           CAST(ABS(mean_b - mean_a) AS DOUBLE)
             / SQRT((CAST(va_n2 AS DOUBLE) / n_a / n_a
                     + CAST(vb_n2 AS DOUBLE) / n_b / n_b) / 2 + 1.0)
             AS drift_z
    FROM sides
    ORDER BY dim
    """,
    tags=("llm", "ml", "monitoring"),
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT MONITOR — per-dimension mean shift between two
    corpus snapshots (halves by vec_id parity here; in production,
    yesterday's batch vs today's): the check that catches a retrained
    or misconfigured encoder before it poisons dedup thresholds and
    ANN indexes downstream.

    Integer core per the registry policy: fixed-point coords (the
    q_kmeans grid), floor means s DIV n, and the variance NUMERATOR
    kept exact as n*SUM(q^2) - s^2 (no division). The only floats are
    the final standardized drift score — |delta| over the pooled
    per-dim std (+1 variance floor so an all-constant dim yields 0,
    not a div-by-zero) — identical single-expression arithmetic in
    both engines.

    100 TB: one hash agg keyed (half, dim) — 128 output rows
    regardless of corpus size, map-side combined; the join of the two
    halves is dim-keyed over 64 rows. Monitoring cost is one scan.
    """
    emb = load(spark, sf_dir, "embeddings")
    dims = (
        emb.select(
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode(F.expr(on_grid(2))).alias("i0", "q"),
        )
        .groupBy("half", (F.col("i0") + 1).alias("dim"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("q").cast("bigint").alias("s"),
            F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
        )
    )
    a = dims.filter(F.col("half") == 0).alias("a")
    b = dims.filter(F.col("half") == 1).alias("b")
    sides = a.join(b, F.col("a.dim") == F.col("b.dim")).select(
        F.col("a.dim").alias("dim"),
        F.expr("a.s DIV a.n").alias("mean_a"),
        F.expr("b.s DIV b.n").alias("mean_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        # DECIMAL(38,0) routing: n·Σq² and s² pass 9.2e18 once the
        # per-half row count reaches ~1e4 (q ≤ 2.5e6 on the +2-offset
        # grid) — the sf1 full-sweep caught the BIGINT overflow here
        F.expr(
            "CAST(a.n AS DECIMAL(20,0)) * a.qq"
            " - CAST(a.s AS DECIMAL(20,0)) * a.s"
        ).alias("va_n2"),
        F.expr(
            "CAST(b.n AS DECIMAL(20,0)) * b.qq"
            " - CAST(b.s AS DECIMAL(20,0)) * b.s"
        ).alias("vb_n2"),
    )
    delta = F.col("mean_b") - F.col("mean_a")
    drift = F.abs(delta).cast("double") / F.sqrt(
        (
            F.col("va_n2").cast("double") / F.col("n_a") / F.col("n_a")
            + F.col("vb_n2").cast("double") / F.col("n_b") / F.col("n_b")
        )
        / 2
        + 1.0
    )
    return sides.select(
        "dim",
        "mean_a",
        "mean_b",
        delta.alias("delta"),
        drift.alias("drift_z"),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# q_silhouette — simplified (centroid-based) silhouette per cluster
# ---------------------------------------------------------------------------

# s_micro = floor(1e6 * (b - a) / b) on exact integer squared
# distances (a = own-centroid, b = nearest-other; b >= a by argmin, so
# s in [0, 1e6)); 1e6*(b-a) tops BIGINT (dist <= 64e12), so the floor
# runs in DECIMAL via the mod-subtract identity (the q_kruskal_wallis
# precedent).
_SIL_MICRO = """
    CASE WHEN b > 0 THEN
        CAST(CAST((CAST(CAST(1000000 AS DECIMAL(19,0)) * (b - a)
                        AS DECIMAL(38,0))
                   - CAST(CAST(1000000 AS DECIMAL(19,0)) * (b - a)
                          AS DECIMAL(38,0)) % b) / b
             AS DECIMAL(38,0)) AS BIGINT)
    ELSE CAST(0 AS BIGINT) END
"""


def _silhouette_oracle() -> str:
    return f"""WITH
    vec AS (SELECT vec_id, {on_grid(2, duck=True)} AS m FROM embeddings),
    {lloyd_cte('k', 'vec', 'vec_id', K, ROUNDS - 1, DIM)},
    alld AS (
        SELECT vec_id, c_id, {sq_dist('m', 'cm', grid=True, duck=True)} AS dist
        FROM vec CROSS JOIN kcent{ROUNDS - 1}
    ),
    ranked AS (
        SELECT vec_id, c_id, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, c_id) AS rk
        FROM alld
    ),
    ab AS (
        SELECT r1.vec_id, r1.c_id AS own, r1.dist AS a, r2.dist AS b
        FROM ranked r1 JOIN ranked r2
          ON r1.vec_id = r2.vec_id AND r1.rk = 1 AND r2.rk = 2
    ),
    sm AS (SELECT own, {_SIL_MICRO} AS s_micro FROM ab)
    SELECT own AS c_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(s_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
               AS avg_silhouette
    FROM sm GROUP BY own ORDER BY c_id"""


@register(
    "q_silhouette",
    tags=("llm", "cluster", "ml"),
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the q_kmeans
    clustering: per vector, a = squared distance to its own (final)
    centroid, b = squared distance to the nearest OTHER centroid,
    s = (b - a)/b; reported as the per-cluster mean — the
    cluster-quality readout ML platforms print next to inertia
    (sklearn's silhouette on the centroid approximation; exact
    pairwise silhouette is O(n^2) and is precisely what a 100 TB
    deployment replaces with this form).

    Exactness: distances are the integer fixed-point grid of q_kmeans
    (hash-verified); s is micro-quantized by exact DECIMAL floor
    division, so the per-cluster mean is a ratio of exact integers.

    100 TB: the k-row centroid table rides to the vector scan as a
    closure constant (the q_kmeans assignment shape — vectors never
    shuffle), per-vector top-2 via a k-element in-row sort, then a
    k-row hash aggregate.
    """
    import numpy as np
    import pandas as pd

    vec, cent, _ = kmeans_rounds(spark, sf_dir)
    # Arrow-vectorized per-vector top-2 over the final centroids (driver
    # rows sorted by c_id) with the shared exact-distance closure; the
    # crossJoin + interpreted HOF dist + collect_list sort it replaces
    # was the key's dominant cost.
    dists = sq_dist_kernel()
    cids = np.array([c for c, _ in cent], dtype=np.int64)
    cm = np.array([m for _, m in cent], dtype=np.int64)

    def top2_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            d = dists(pdf["m"], cm)
            # two smallest (dist, c_id) per row, exact lexicographic
            ordk = np.argsort(d, axis=1, kind="stable")  # ties -> lower idx = lower c_id
            i0, i1 = ordk[:, 0], ordk[:, 1]
            r_idx = np.arange(len(d))
            yield pd.DataFrame(
                {
                    "own": cids[i0],
                    "a": d[r_idx, i0],
                    "b": d[r_idx, i1],
                }
            )

    ab = vec.mapInPandas(
        top2_batches, schema="own bigint, a bigint, b bigint"
    )
    sm = ab.select("own", F.expr(_SIL_MICRO).alias("s_micro"))
    return (
        sm.groupBy("own")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.expr(
                "ROUND(CAST(SUM(s_micro) AS DOUBLE) / COUNT(*) / 1000000.0, 6)"
            ).alias("avg_silhouette"),
        )
        .select(F.col("own").alias("c_id"), "n_members", "avg_silhouette")
        .orderBy("c_id")
    )


from flink_rc_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["q_silhouette"].oracle = _silhouette_oracle()
