"""Iterative graph-traversal operators: bounded multi-source BFS and
hierarchy (tree) rollup via pointer doubling.

These complete the graph surface next to the existing fixpoint keys
(q_dedup_components label propagation, q_graph_pagerank, and the
q_graph_triangles census): PageRank/label-prop iterate VALUES over a
fixed topology, while the two keys here iterate the TOPOLOGY itself —
reachability frontiers and ancestor closures — which is what recursive
CTEs compute in a warehouse. Spark 4.1 DOES ship WITH RECURSIVE
(exercised natively by q_recursive_cte in operators/subqueries.py,
UNION ALL semantics only); the hand-written loops here remain the
scale path where recursion hurts — cyclic graphs need the visited
anti-join UNION-dedup gives a warehouse, and deep chains want pointer
doubling's log d rounds — and each key's DuckDB oracle IS the
recursive CTE it replaces.

100 TB story:
- BFS expands a frontier for a BOUNDED hop count: each round is one
  equi-join (frontier ⋈ edges on the source vertex) + one anti-join
  (drop already-visited) — both hash-partitioned by vertex, never a
  cartesian. Rounds are data-independent (fixed k), so the job graph
  is static and AQE sizes every shuffle. ``localCheckpoint`` truncates
  lineage so plan size stays O(1) per round, the same discipline as
  q_dedup_components.
- The hierarchy rollup uses POINTER DOUBLING: jump tables double the
  ancestor distance every round, so a depth-d tree closes in ⌈log₂ d⌉
  joins instead of d (a depth-10k chain = 14 rounds, not 10k). The
  ancestor closure it materializes is O(V·depth) rows — the price of
  making subtree aggregation a single hash aggregate keyed by
  ancestor, which partitions perfectly and needs no recursion at read
  time.

Reference parity: none — the reference is a numeric dataflow engine
(SURVEY.md §1.1); this is driver-north-star graph surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_rc_spark.llm.dedup import (
    _MINHASH_PAIRS_CTE,
    driver_solve,
    minhash_candidate_pairs,
)
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

_BFS_MAX_HOPS = 4


@register(
    "q_graph_bfs",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(v, d) AS (
        SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
        UNION
        SELECT e.b, reach.d + 1
        FROM edges e JOIN reach ON reach.v = e.a
        WHERE reach.d < {_BFS_MAX_HOPS}
    )
    SELECT v AS doc_id, CAST(MIN(d) AS BIGINT) AS dist
    FROM reach
    GROUP BY v
    ORDER BY doc_id
    """,
    tags=("graph", "join", "iterative"),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS: hop distance (≤ 4) from seed
    documents (doc_id % 97 = 0) over the MinHash near-dup candidate
    graph — "how far does contamination spread from these known-bad
    docs" is exactly this query in a curation pipeline.

    Classic frontier expansion: round i joins the CURRENT frontier
    (nodes first reached at distance i−1) against the edge list, then
    anti-joins the visited set so each vertex is labeled exactly once
    with its true BFS distance. Joining only the frontier — not the
    whole visited set — keeps per-round shuffle volume proportional to
    the wave actually moving, the standard distributed-BFS shape
    (Pregel's message set). The hop bound makes the loop
    data-independent; the oracle is the recursive CTE with the same
    bound (UNION-dedup on (v, d) pairs guarantees termination, MIN(d)
    recovers the BFS distance).
    """
    docs = load(spark, sf_dir, "documents")
    # pairs materialized before the symmetrize union: its two arms are
    # the same banding subtree and no ReusedExchange fires across
    # union sides (guide §2.4).
    pairs = (
        minhash_candidate_pairs(docs)
        .select("doc_a", "doc_b")
        .transform(checkpoint, eager=True)
    )
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("v"), F.lit(0).cast("bigint").alias("dist")
    )
    # r13 tried-and-REVERTED: the driver_solve collect-and-solve
    # gate (kept for pagerank/kcore) measured SLOWER here — 2.75 ->
    # 3.82 s min-of-3 at sf0.1 — because the frontier loop below
    # empties in ~2 rounds on the near-dup graph (isEmpty early-break)
    # while the driver path pays two createDataFrames + an anti-join +
    # a union of fixed machinery. Rounds must be both FIXED and MANY
    # for the collect gate to win (pagerank: 5, kcore: 10).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .transform(checkpoint, eager=True)  # computed once, probed every round
    )

    dist = seeds.transform(checkpoint, eager=True)
    frontier = dist
    for i in range(1, _BFS_MAX_HOPS + 1):
        reached = (
            edges.join(frontier, edges.src == frontier.v)
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        new = (
            reached.join(dist, "v", "left_anti")
            .select("v", F.lit(i).cast("bigint").alias("dist"))
            .transform(checkpoint, eager=True)
        )
        # DataFrame.isEmpty probes the materialized checkpoint with a
        # JVM limit(1) — .rdd.isEmpty() forced a full InternalRow ->
        # Python pickle conversion path for the same answer (guide
        # §1.4's df.rdd trap).
        if new.isEmpty():
            break
        dist = dist.unionByName(new).transform(checkpoint, eager=True)
        frontier = new
    return dist.select(F.col("v").alias("doc_id"), "dist").orderBy("doc_id")


_HIER_MAX_ROUNDS = 12  # pointer doubling: covers depth 2^12 = 4096


@register(
    "q_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT c_custkey AS v, CAST((c_custkey - 1) // 2 AS BIGINT) AS p
        FROM customer WHERE c_custkey >= 1
    ),
    anc(v, a, d) AS (
        SELECT v, p, CAST(1 AS BIGINT) FROM edges
        UNION ALL
        SELECT anc.v, e.p, anc.d + 1 FROM anc JOIN edges e ON anc.a = e.v
    ),
    depths AS (SELECT v, MAX(d) AS depth FROM anc GROUP BY v),
    sub AS (
        SELECT a, COUNT(*) AS n_desc,
               SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_desc
        FROM anc JOIN customer ON c_custkey = anc.v
        GROUP BY a
    )
    SELECT c_custkey,
           CAST(COALESCE(depths.depth, 0) AS BIGINT) AS depth,
           CAST(1 + COALESCE(sub.n_desc, 0) AS BIGINT) AS subtree_size,
           CAST(CAST(c_acctbal AS DECIMAL(12,2))
                + COALESCE(sub.bal_desc, CAST(0 AS DECIMAL(12,2)))
                AS DOUBLE) AS subtree_bal
    FROM customer
    LEFT JOIN depths ON depths.v = c_custkey
    LEFT JOIN sub ON sub.a = c_custkey
    ORDER BY c_custkey
    """,
    tags=("graph", "join", "iterative", "agg"),
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree rollup over an org-chart-style hierarchy: every customer
    reports to customer (c_custkey−1) div 2 (a heap-shaped tree rooted
    at 0, built as an explicit edge table and traversed as opaque
    edges). Output per node: depth, subtree size, and the exact
    subtree balance total — the manager-rollup / BOM-explosion query
    a warehouse writes as WITH RECURSIVE.

    The closure is built by POINTER DOUBLING: ``jump`` holds each
    node's 2^k-th ancestor, ``closure`` all ancestors within 2^k hops;
    one round of two equi-joins doubles both, so a depth-d tree closes
    in ⌈log₂ d⌉ rounds (sf0.1's depth-14 tree: 4 rounds) instead of
    d sequential self-joins — THE reason this scales where naive
    row-at-a-time recursion cannot. Subtree aggregates then reduce the
    (descendant, ancestor) closure with one hash aggregate keyed by
    ancestor; balances sum in DECIMAL so both engines are
    order-independent-exact (registry float policy).
    """
    from flink_rc_spark.functions.exact import dec

    cust = load(spark, sf_dir, "customer")
    edges = (
        cust.filter(F.col("c_custkey") >= 1)
        .select(
            F.col("c_custkey").alias("v"),
            ((F.col("c_custkey") - 1) / F.lit(2)).cast("bigint").alias("p"),
        )
        .transform(checkpoint, eager=True)
    )

    # jump: (v, u, d) — u is v's d-th ancestor, d = 2^k after round k.
    # closure: all (v, a, d) with 1 <= d <= 2^k.
    jump = edges.select("v", F.col("p").alias("u"), F.lit(1).cast("bigint").alias("d"))
    closure = jump.select("v", F.col("u").alias("a"), "d")
    for _ in range(_HIER_MAX_ROUNDS):
        far = (
            jump.alias("j")
            .join(closure.alias("c"), F.col("j.u") == F.col("c.v"))
            .select(
                F.col("j.v").alias("v"),
                F.col("c.a").alias("a"),
                (F.col("j.d") + F.col("c.d")).alias("d"),
            )
        )
        # DataFrame.isEmpty (JVM executeTake(1)) instead of
        # .rdd.isEmpty()'s InternalRow -> Python pickle conversion
        # (guide §1.4's df.rdd trap). NOT checkpointed first: an eager
        # localCheckpoint of this jump⋈closure(Union) shape trips a
        # Catalyst constraint-rewrite NoSuchElementException
        # (UnionBase.rewriteConstraints, Spark 4.1) — reproduced and
        # reverted in r12; the emptiness probe stops at the first row,
        # so the double-compute it keeps is one short-circuited pass.
        if far.isEmpty():
            break
        closure = closure.unionByName(far).transform(checkpoint, eager=True)
        jump = (
            jump.alias("x")
            .join(jump.alias("y"), F.col("x.u") == F.col("y.v"))
            .select(
                F.col("x.v").alias("v"),
                F.col("y.u").alias("u"),
                (F.col("x.d") + F.col("y.d")).alias("d"),
            )
            .transform(checkpoint, eager=True)
        )
    else:
        raise RuntimeError("q_hierarchy_rollup: tree deeper than 2^12")

    depths = closure.groupBy("v").agg(F.max("d").alias("depth"))
    sub = (
        closure.join(
            cust.select(F.col("c_custkey").alias("v"), "c_acctbal"), "v"
        )
        .groupBy(F.col("a"))
        .agg(
            F.count("*").alias("n_desc"),
            F.sum(dec("c_acctbal")).alias("bal_desc"),
        )
    )
    return (
        cust.join(depths, cust.c_custkey == depths.v, "left")
        .join(sub, cust.c_custkey == sub.a, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("depth"), F.lit(0)).cast("bigint").alias("depth"),
            (F.lit(1) + F.coalesce(F.col("n_desc"), F.lit(0)))
            .cast("bigint")
            .alias("subtree_size"),
            (
                dec("c_acctbal")
                + F.coalesce(F.col("bal_desc"), F.lit(0).cast("decimal(12,2)"))
            )
            .cast("double")
            .alias("subtree_bal"),
        )
        .orderBy("c_custkey")
    )


_SSSP_MAX_HOPS = 3


@register(
    "q_graph_sssp",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    wedges AS (
        SELECT doc_a AS a, doc_b AS b,
               CAST(10000 - ROUND(est_jaccard * 10000) AS BIGINT) AS w
        FROM pairs
        UNION ALL
        SELECT doc_b, doc_a,
               CAST(10000 - ROUND(est_jaccard * 10000) AS BIGINT)
        FROM pairs
    ),
    reach(v, d, h) AS (
        SELECT doc_id, CAST(0 AS BIGINT), 0
        FROM documents WHERE doc_id % 97 = 0
        UNION
        SELECT e.b, reach.d + e.w, reach.h + 1
        FROM wedges e JOIN reach ON reach.v = e.a
        WHERE reach.h < {_SSSP_MAX_HOPS}
    )
    SELECT v AS doc_id, MIN(d) AS dist
    FROM reach
    GROUP BY v
    ORDER BY doc_id
    """,
    tags=("graph", "join", "iterative"),
)
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded single-source-set WEIGHTED shortest paths (Bellman-Ford,
    3 relaxation rounds) from the same seed documents as q_graph_bfs,
    over the MinHash candidate graph with integer dissimilarity
    weights w = 10000 − round(est_jaccard·10⁴): "how semantically far
    is every document from the seed set" — BFS's weighted twin, the
    shape behind influence radii and weighted contamination scoring.

    Each Bellman-Ford round relaxes EVERY labeled vertex through the
    edge list (one equi-join + one min-aggregate keyed by vertex) —
    after round k the label is exactly min-cost over ≤ k edges, which
    is what the oracle's hop-bounded recursive CTE enumerates, so the
    hash proves the relaxation ≡ path enumeration. Weights are exact
    integers (est_jaccard is k/8 — a dyadic rational, so its rounding
    and the ·10⁴ rescale are bit-identical in both engines). Unlike
    BFS's frontier-only join, relaxation must rejoin all labels each
    round (costs can improve late) — the textbook reason weighted
    traversal is more expensive than reachability, visible right in
    the plan. 100 TB: 3 rounds × (shuffle-by-vertex join + combine-
    crushed min agg); lineage cut per round.
    """
    docs = load(spark, sf_dir, "documents")
    # pairs materialized before the symmetrize union (guide §2.4, the
    # q_graph_bfs note).
    pairs = minhash_candidate_pairs(docs).transform(checkpoint, eager=True)
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("v"), F.lit(0).cast("bigint").alias("d")
    )
    # r13 tried-and-REVERTED: the collect-and-solve gate measured
    # SLOWER here too (2.97 -> 4.02 s min-of-3 at sf0.1) — see the
    # q_graph_bfs note: only 3 relaxation rounds to replace, and the
    # driver path's fixed machinery costs more than they do.
    w = (F.lit(10000) - F.round(F.col("est_jaccard") * 10000)).cast("bigint")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), w.alias("w"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"), w.alias("w")
            )
        )
        .transform(checkpoint, eager=True)
    )
    dist = seeds.transform(checkpoint, eager=True)
    for _ in range(_SSSP_MAX_HOPS):
        msgs = edges.join(dist, edges.src == dist.v).select(
            F.col("dst").alias("v"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionByName(msgs)
            .groupBy("v")
            .agg(F.min("d").alias("d"))
            .transform(checkpoint, eager=True)
        )
    return dist.select(F.col("v").alias("doc_id"), F.col("d").alias("dist")).orderBy(
        "doc_id"
    )


@register(
    "q_link_predict",
    oracle="""
        WITH basket AS (
            SELECT DISTINCT o_custkey AS cust, l_partkey AS part
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), cop AS (
            SELECT a.part AS u, b.part AS v, CAST(COUNT(*) AS BIGINT) AS supp
            FROM basket a JOIN basket b ON a.cust = b.cust AND a.part < b.part
            GROUP BY a.part, b.part
        ), top AS (
            SELECT u, v FROM cop ORDER BY supp DESC, u, v LIMIT 1500
        ), edges AS (
            SELECT u, v FROM top
            UNION ALL SELECT v, u FROM top
        ), deg AS (
            SELECT u AS x, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
        ), wedge AS (
            SELECT e1.v AS a, e2.v AS b, e1.u AS x
            FROM edges e1 JOIN edges e2
              ON e1.u = e2.u AND e1.v < e2.v
        ), cand AS (
            SELECT w.a, w.b,
                   CAST(COUNT(*) AS BIGINT) AS cn,
                   CAST(SUM(1000000 // dx.d) AS BIGINT) AS ra_micro
            FROM wedge w JOIN deg dx ON dx.x = w.x
            WHERE NOT EXISTS (SELECT 1 FROM top c
                              WHERE c.u = w.a AND c.v = w.b)
            GROUP BY w.a, w.b
        )
        SELECT cand.a AS part_a, cand.b AS part_b, cand.cn, cand.ra_micro,
               (cand.cn * 1000000) // (da.d + db.d - cand.cn)
                 AS jaccard_micro
        FROM cand
        JOIN deg da ON da.x = cand.a
        JOIN deg db ON db.x = cand.b
        ORDER BY cand.cn DESC, cand.ra_micro DESC, part_a, part_b
        LIMIT 20
    """,
    tags=("graph", "analytics"),
)
def q_link_predict(spark, sf_dir):
    """LINK PREDICTION on the top-K-sparsified co-purchase graph: keep
    the 1500 strongest co-purchase edges (supp DESC, total-ordered tie
    break — the kNN-sparsification every production similarity graph
    applies before graph ML), then for part pairs NOT among those
    edges score the top-20 predicted links by common-neighbor count,
    neighbor-Jaccard, and the Resource-Allocation index (Zhou et al.
    2009, Σ_x 1/deg(x) over shared neighbors — chosen over
    Adamic–Adar because 1/deg is an exact rational: per-term
    floor-quantized micro, NO transcendental whose last ulp could
    differ across engines).

    The top-K cut IS the scale control: wedge fan-out is bounded by
    the FIXED 1500-edge graph regardless of corpus density (the raw
    co-purchase graph measured 274k edges / 3.8M wedges at sf0.01 and
    OOMed a default driver; the band graph alternative is all closed
    cliques — no open wedges to predict). The support aggregation
    underneath is exactly q_basket_pairs' measured shape; the top cut
    is TakeOrdered(1500), never a full sort.

    Plan: skew-diagnosed basket self-join → hash agg
    (pair_support_salted, shared with q_basket_pairs — single basket
    materialization, hot-customer fan-out salted across tasks),
    TakeOrdered edge cut, wedge enumeration on the bounded edge frame
    (the q_graph_triangles shape), anti-join for non-adjacency,
    degree joins after aggregation, TakeOrdered(20).
    """
    from flink_rc_spark.operators.joins import pair_support_salted

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    basket = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    # The 1500-row top cut feeds FOUR consumers (both union arms of
    # `edges`, the wedge anti-join's right side) and `edges` itself
    # fans out to deg/e1/e2 — without materialization the whole
    # basket-self-join support aggregation re-ran per consumer (the
    # before-plan carried 76 exchanges). Checkpoint the tiny frame
    # once (guide §2.4); everything downstream re-plans from 1500
    # rows.
    top = (
        pair_support_salted(basket, "cust", "part", "u", "v", "supp")
        .orderBy(F.desc("supp"), "u", "v")
        .limit(1500)
        .select("u", "v")
        .transform(checkpoint, eager=True)
    )
    edges = top.unionByName(
        top.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy(F.col("u").alias("x")).agg(F.count("*").alias("d"))
    e1 = edges.select(F.col("u").alias("x"), F.col("v").alias("a"))
    e2 = edges.select(F.col("u").alias("x"), F.col("v").alias("b"))
    wedge = e1.join(e2, "x").filter(F.col("a") < F.col("b"))
    open_wedge = wedge.join(
        top.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    cand = (
        open_wedge.join(deg, "x")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("ra_micro"),
        )
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("db"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "cn",
            "ra_micro",
            F.expr("(cn * 1000000) div (da + db - cn)").alias("jaccard_micro"),
        )
        .orderBy(F.desc("cn"), F.desc("ra_micro"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_graph_kcore — synchronous k-core peeling on the near-dup doc graph
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 10


def _kcore_oracle() -> str:
    """Unrolled synchronous peel as DuckDB CTE text: each round drops
    every node whose degree within the surviving subgraph is < k."""
    parts = [
        f"""
        {_MINHASH_PAIRS_CTE},
        upairs AS (SELECT DISTINCT doc_a AS u, doc_b AS v FROM pairs),
        edges AS (
            SELECT u, v FROM upairs UNION ALL SELECT v, u FROM upairs
        ), act0 AS (SELECT DISTINCT u AS node FROM edges)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
        act{r} AS MATERIALIZED (
            SELECT e.u AS node
            FROM edges e
            JOIN act{r - 1} a ON a.node = e.u
            JOIN act{r - 1} b ON b.node = e.v
            GROUP BY e.u
            HAVING COUNT(*) >= {_KCORE_K}
        )"""
        )
    parts.append(
        f"""
        final_deg AS (
            SELECT e.u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
            FROM edges e
            JOIN act{_KCORE_ROUNDS} a ON a.node = e.u
            JOIN act{_KCORE_ROUNDS} b ON b.node = e.v
            GROUP BY e.u
        )"""
    )
    return (
        "WITH "
        + ",".join(parts)
        + """
        SELECT doc_id, core_deg FROM final_deg ORDER BY doc_id
    """
    )


def _kcore_driver(ids, ea, eb):
    """driver_solve solver: the _KCORE_ROUNDS synchronous peel rounds
    as masked bincounts -> (doc_id, core_deg) of the survivors."""
    import numpy as np

    src = np.concatenate([ea, eb])
    dst = np.concatenate([eb, ea])
    act = np.ones(len(ids), dtype=bool)
    for _ in range(_KCORE_ROUNDS):
        live = act[src] & act[dst]
        deg = np.bincount(src[live], minlength=len(ids))
        act = deg >= _KCORE_K
    live = act[src] & act[dst]
    deg = np.bincount(src[live], minlength=len(ids))
    sel = np.nonzero(act & (deg > 0))[0]
    return {"doc_id": ids[sel], "core_deg": deg[sel]}


@register(
    "q_graph_kcore",
    oracle=None,  # assembled below
    tags=("graph", "iterative"),
)
def q_graph_kcore(spark, sf_dir):
    """K-CORE decomposition (k = 2) of the near-dup document graph
    (the LSH band pairs feeding q_graph_bfs / q_dedup_components) —
    the cohesion filter that separates genuine duplicate CLUSTERS
    (cycles) from incidental pairwise collisions (trees/pendants),
    which is exactly the triage a dedup reviewer wants before the
    transitive closure merges everything.

    SYNCHRONOUS peeling (every round drops ALL nodes whose
    within-subgraph degree < k at once) for a fixed round budget —
    the q_graph_pagerank fixed-rounds idiom; synchronous rounds are
    what a distributed engine executes, unlike the sequential
    textbook peel. The band graph keeps the core non-empty at every
    measured scale (10/3/236/2160 nodes at sf0.001→sf1; a first cut
    on the top-K co-purchase graph emptied at sf0.1 — recorded).
    All counting integer-exact; survivors report their final core
    degree (≥ k once converged — asserted in tests).

    Plan: the edge frame is collision-scoped (sparse by
    construction); each round is two broadcast semi-joins + one hash
    agg on that bounded frame. Data is touched once, by the
    signature scan.
    """
    docs = load(spark, sf_dir, "documents")
    # pairs materialized before the symmetrize union (guide §2.4, the
    # q_graph_bfs note: both arms are the same banding subtree).
    upairs = (
        minhash_candidate_pairs(docs)
        .select("doc_a", "doc_b")
        .distinct()
        .transform(checkpoint, eager=True)
    )
    # r13: the k-core peel is integer counting over dup-graph vertices
    # only, so a bounded graph goes through driver_solve (_kcore_driver)
    # instead of 10 checkpointed two-semi-join rounds x ~0.3 s of job
    # dispatch.
    solved = driver_solve(upairs, _kcore_driver, "doc_id long, core_deg long")
    if solved is not None:
        return solved.orderBy("doc_id")

    edges = upairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        upairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ).transform(checkpoint, eager=True)
    act = edges.select(F.col("u").alias("node")).distinct()
    for _ in range(_KCORE_ROUNDS):
        act = (
            edges.join(F.broadcast(act), edges.u == act.node)
            .drop("node")
            .join(
                F.broadcast(act.select(F.col("node").alias("_v"))),
                F.col("v") == F.col("_v"),
            )
            .groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("node"))
            .transform(checkpoint, eager=True)
        )
    return (
        edges.join(F.broadcast(act), edges.u == act.node)
        .drop("node")
        .join(
            F.broadcast(act.select(F.col("node").alias("_v"))),
            F.col("v") == F.col("_v"),
        )
        .groupBy(F.col("u").alias("doc_id"))
        .agg(F.count("*").alias("core_deg"))
        .orderBy("doc_id")
    )


from flink_rc_spark.registry import REGISTRY as _REG2  # noqa: E402

_REG2["q_graph_kcore"].oracle = _kcore_oracle()


# ---------------------------------------------------------------------------
# q_graph_cluster_coeff — per-node local clustering coefficient
# ---------------------------------------------------------------------------


@register(
    "q_graph_cluster_coeff",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTE},
    edges AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs),
    sym AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    degs AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_nodes AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ),
    tcnt AS (SELECT node, COUNT(*) AS n_tri FROM tri_nodes GROUP BY node)
    SELECT d.node AS doc_id,
           CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(t.n_tri, 0)
                 / (CAST(d.d AS DOUBLE) * (d.d - 1.0)), 6) AS lcc
    FROM degs d LEFT JOIN tcnt t USING (node)
    WHERE d.d >= 2
    ORDER BY doc_id
    """,
    tags=("graph", "dedup", "join"),
)
def q_graph_cluster_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NODE local clustering coefficient of the MinHash candidate
    graph: lcc(v) = 2*T(v) / (d(v)*(d(v)-1)) for nodes with degree >= 2
    — the node-resolution refinement of q_graph_triangles' single
    global coefficient. Dedup reading: a doc whose neighborhood closes
    (lcc ~ 1) sits inside a duplicate clique; low-lcc high-degree docs
    are hash-collision hubs joining unrelated clusters — exactly the
    nodes a curation pipeline audits before transitive-closure dedup.

    Exactness: triangles enumerate once in sorted orientation
    (a<b ⋈ b<c, probe (a,c) — each an equi-shuffle on a vertex key)
    and explode to their 3 corners; degrees and triangle counts are
    exact integers, lcc is one double division rounded once.

    100 TB: same joins as q_graph_triangles (the a<b orientation
    bounds wedge fan-out); the corner explode is 3x triangle count;
    both aggregates hash-partition on the node key.
    """
    docs = load(spark, sf_dir, "documents")
    edges = minhash_candidate_pairs(docs).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    edges = edges.transform(checkpoint, eager=True)
    sym = edges.select(F.col("a").alias("node")).unionByName(
        edges.select(F.col("b").alias("node"))
    )
    degs = sym.groupBy("node").agg(F.count("*").alias("d"))
    e1 = edges
    e2 = edges.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
    tri = (
        e1.join(e2, e1.b == F.col("a2"))
        .join(e3, (e1.a == F.col("a3")) & (F.col("b2") == F.col("b3")))
        .select(F.col("a").alias("x"), F.col("b").alias("y"), F.col("b2").alias("z"))
    )
    tri_nodes = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    tcnt = tri_nodes.groupBy("node").agg(F.count("*").alias("n_tri"))
    return (
        degs.join(tcnt, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce("n_tri", F.lit(0))
                / (F.col("d").cast("double") * (F.col("d") - F.lit(1.0))),
                6,
            ).alias("lcc"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_graph_jaccard_neighbors — neighbor-set Jaccard link scoring
# ---------------------------------------------------------------------------


@register(
    "q_graph_jaccard_neighbors",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTE},
    edges AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs),
    sym AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    degs AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
    cn AS (
        SELECT e1.v AS u, e2.v AS v, COUNT(*) AS n_common
        FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v
        GROUP BY e1.v, e2.v
    ),
    scored AS (
        SELECT c.u, c.v, c.n_common,
               CAST(du.d + dv.d - c.n_common AS BIGINT) AS n_union,
               CAST(c.n_common * 1000000
                    // (du.d + dv.d - c.n_common) AS BIGINT) AS jacc_micro
        FROM cn c
        JOIN degs du ON du.node = c.u
        JOIN degs dv ON dv.node = c.v
    )
    SELECT u AS doc_a, v AS doc_b, n_common, n_union,
           ROUND(CAST(jacc_micro AS DOUBLE) / 1000000, 6) AS jaccard
    FROM scored
    ORDER BY jacc_micro DESC, u, v
    LIMIT 20
    """,
    tags=("graph", "dedup", "join"),
)
def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity on the MinHash candidate graph:
    for every pair sharing >= 1 common neighbor, J = |N(u) cap N(v)| /
    |N(u) cup N(v)| — the structural-equivalence link score (the
    common-neighbor sibling of q_link_predict's resource-allocation
    index, on the doc graph instead of the co-purchase graph). Top-20
    by the exact micro-quantized score, ties on (u, v).

    Exactness: common-neighbor counts come from the wedge equi-join on
    the shared endpoint; the union size is du + dv - cn (inclusion-
    exclusion on exact degrees); ranking compares the exact integer
    floor(1e6 * cn / union) so the order never rests on a double.

    100 TB: wedge enumeration on the bounded candidate graph (the
    q_graph_triangles shape); degree joins after the pair aggregate;
    TakeOrdered(20) instead of a global sort.
    """
    docs = load(spark, sf_dir, "documents")
    edges = minhash_candidate_pairs(docs).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    edges = edges.transform(checkpoint, eager=True)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).toDF("u", "v")
    degs = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    e1 = sym.select(F.col("u").alias("x"), F.col("v").alias("p"))
    e2 = sym.select(F.col("u").alias("x"), F.col("v").alias("q"))
    cn = (
        e1.join(e2, "x")
        .filter(F.col("p") < F.col("q"))
        .groupBy(F.col("p").alias("u"), F.col("q").alias("v"))
        .agg(F.count("*").alias("n_common"))
    )
    du = degs.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = degs.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    scored = (
        cn.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            (F.col("du") + F.col("dv") - F.col("n_common"))
            .cast("bigint")
            .alias("n_union"),
            F.expr("CAST(n_common * 1000000 DIV (du + dv - n_common) AS BIGINT)")
            .alias("jacc_micro"),
        )
    )
    return (
        scored.orderBy(F.desc("jacc_micro"), "u", "v")
        .limit(20)
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            "n_common",
            "n_union",
            F.round(F.col("jacc_micro").cast("double") / 1000000, 6).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_graph_modularity — modularity of the dedup-component partition
# ---------------------------------------------------------------------------


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(v, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, reach.r FROM edges e JOIN reach ON reach.v = e.a
    ),
    comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v),
    deg AS (
        SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY a
    ),
    dc AS (
        SELECT comp.component,
               CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS d_c
        FROM comp LEFT JOIN deg ON comp.doc_id = deg.v
        GROUP BY comp.component
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
    SELECT CAST((SELECT COUNT(*) FROM comp) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_components,
           m.n_edges,
           CAST(SUM(dc.d_c * dc.d_c) AS BIGINT) AS sum_dcsq,
           ROUND(CAST(4 * m.n_edges * m.n_edges
                      - SUM(dc.d_c * dc.d_c) AS DOUBLE)
                 / CAST(4 * m.n_edges * m.n_edges AS DOUBLE), 6)
               AS modularity
    FROM dc, m
    GROUP BY m.n_edges
    """,
    tags=("graph", "llm", "stats"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY of the connected-component partition of the MinHash
    near-dup graph (Newman's Q with every edge intra-community by
    construction: Q = 1 − Σ_c d_c²/(4m²)) — the cluster-quality score
    that distinguishes a dedup graph of many small tight clusters
    (Q → 1, healthy) from one giant hairball component (Q → 0, the
    failure mode where a too-loose LSH threshold chains everything
    together and canonical-doc selection collapses the corpus).

    Exactness: degrees, per-component degree sums, and the numerator
    4m² − Σd_c² are exact BIGINTs; Q is ONE double division, rounded
    once. Headroom: d_c² < 2^63 to ~3e9 total intra-component degree —
    far beyond any sane dedup graph's largest component (and if it is
    exceeded, THAT is the hairball alarm this key exists to raise).

    Plan at 100 TB: reuses q_dedup_components' iterative min-label
    fixpoint (bucketed equi-joins, lineage-cut) and the banded-LSH
    pair generation; degrees are one hash agg on the edge list; the
    modularity algebra runs on the |components|-row frame.
    """
    from flink_rc_spark.llm.dedup import dedup_components_from_pairs

    docs = load(spark, sf_dir, "documents")
    # ONE banding-pipeline computation for the whole key: the pair
    # frame used to be rebuilt FOUR times (both union arms of `edges`,
    # the n_edges count, and once more inside q_dedup_components's own
    # builder). Materialize it, then share it with the component
    # fixpoint via dedup_components_from_pairs (guide §2.4).
    pairs = (
        minhash_candidate_pairs(docs)
        .select("doc_a", "doc_b")
        .transform(checkpoint, eager=True)
    )
    comp = dedup_components_from_pairs(docs, pairs).select("doc_id", "component")
    edges = pairs.union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    ).toDF("a", "b")
    deg = edges.groupBy(F.col("a").alias("v")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    dc = (
        comp.join(deg, comp.doc_id == deg.v, "left")
        .groupBy("component")
        .agg(
            F.sum(F.coalesce("d", F.lit(0))).cast("bigint").alias("d_c")
        )
    )
    m = pairs.agg(F.count("*").cast("bigint").alias("n_edges"))
    n_vertices = comp.agg(F.count("*").cast("bigint").alias("n_vertices"))
    rolled = dc.agg(
        F.count("*").cast("bigint").alias("n_components"),
        F.sum(F.col("d_c") * F.col("d_c")).cast("bigint").alias("sum_dcsq"),
    )
    return (
        n_vertices.crossJoin(F.broadcast(rolled))
        .crossJoin(F.broadcast(m))
        .select(
            "n_vertices",
            "n_components",
            "n_edges",
            "sum_dcsq",
            F.round(
                (
                    4 * F.col("n_edges") * F.col("n_edges")
                    - F.col("sum_dcsq")
                ).cast("double")
                / (4 * F.col("n_edges") * F.col("n_edges")).cast("double"),
                6,
            ).alias("modularity"),
        )
    )
