"""Focused tests for the r13 optimization-round internals.

Each r13 rewrite keeps the declared results bit-identical; these tests
pin the mechanisms against the pre-r13 spellings they replaced:

- the simhash signature kernel must equal the 60-column JVM bit-vote
  aggregate it replaced, doc for doc;
- each bounded dup-graph driver solver behind ``dedup.driver_solve``
  (components, pagerank, kcore) must equal the distributed loop it
  short-circuits, forced by zeroing the one gate
  ``dedup._DRIVER_MAX_EDGES``, on real graphs and on an empty one
  (Arrow on and off); pagerank's int64 range check must fall through;
- (the r13 setsim verify kernel and the pair-count kernel were both
  tried, measured SLOWER at the larger SF, and reverted — see the
  docstrings at q_join_setsim and pair_support_salted;)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_simhash_signature_kernel_equals_jvm(spark):
    """The Arrow bit-vote kernel == the flat 60-column JVM aggregate
    it replaced (the pre-r13 spelling, reconstructed here)."""
    from flink_rc_spark.llm.pairkern import (
        SIMHASH_SIG_SCHEMA,
        make_simhash_signature_kernel,
    )
    from flink_rc_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 1200)
    toks = docs.select(
        "doc_id",
        F.explode(F.expr("array_distinct(split(text, ' '))")).alias("tok"),
    )
    hashed = toks.select("doc_id", F.md5("tok").alias("x"))
    # pre-r13 spelling: 60 per-bit vote columns -> groupBy sums -> sign
    vote_cols = [
        F.expr(
            f"(CAST(floor((instr('0123456789abcdef',"
            f" substr(x, {p // 4 + 1}, 1)) - 1)"
            f" / {2 ** (p % 4)}) AS INT) % 2) * 2 - 1"
        ).alias(f"v{p}")
        for p in range(60)
    ]
    agg = hashed.select("doc_id", *vote_cols).groupBy("doc_id").agg(
        *[F.sum(f"v{p}").alias(f"s{p}") for p in range(60)]
    )
    simhash_expr = " + ".join(
        f"(CASE WHEN s{p} >= 0 THEN 1 ELSE 0 END) * {2 ** p}"
        for p in range(60)
    )
    ref = {
        (r.doc_id, r.simhash)
        for r in agg.select(
            "doc_id", F.expr(simhash_expr).cast("bigint").alias("simhash")
        ).collect()
    }
    got = {
        (r.doc_id, r.simhash)
        for r in hashed.select(
            "doc_id", F.substring("x", 1, 15).alias("x")
        )
        .mapInPandas(make_simhash_signature_kernel(60), SIMHASH_SIG_SCHEMA)
        .collect()
    }
    assert got == ref


def test_components_driver_union_equals_fixpoint(spark, monkeypatch):
    """The bounded collect-and-solve component path == the distributed
    min-label fixpoint it short-circuits (forced by the gate), row for
    row including singletons, sizes, and canonical flags."""
    from flink_rc_spark.llm import dedup as _d
    from flink_rc_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 1500)
    pairs = (
        _d.minhash_candidate_pairs(docs)
        .select("doc_a", "doc_b")
        .transform(_d.checkpoint, eager=True)
    )
    got = {
        tuple(r)
        for r in _d.dedup_components_from_pairs(docs, pairs).collect()
    }
    monkeypatch.setattr(_d, "_DRIVER_MAX_EDGES", -1)
    ref = {
        tuple(r)
        for r in _d.dedup_components_from_pairs(docs, pairs).collect()
    }
    assert got == ref and len(got) == docs.count()


@pytest.mark.parametrize(
    "key", ["q_graph_modularity", "q_graph_pagerank", "q_graph_kcore"]
)
def test_graph_driver_solver_equals_distributed(spark, monkeypatch, key):
    """Each bounded-subgraph driver solver == the distributed fixpoint
    it short-circuits (forced by zeroing the gate), row for row."""
    from flink_rc_spark.llm import dedup as _d
    from flink_rc_spark.registry import REGISTRY, load_all

    load_all()
    got = {tuple(r) for r in REGISTRY[key].builder(spark, SF_DIR).collect()}
    monkeypatch.setattr(_d, "_DRIVER_MAX_EDGES", -1)
    ref = {tuple(r) for r in REGISTRY[key].builder(spark, SF_DIR).collect()}
    assert got == ref and len(got) > 0


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_driver_solve_empty_graph(spark, monkeypatch, arrow):
    """A zero-row pair frame takes the gated path with no special case
    and gives what the forced-distributed path gives: every doc its own
    component, every vertex at the teleport rank, an empty k-core —
    with the Arrow hand-off on and off (a vanilla session may have it
    off)."""
    from flink_rc_spark.llm import dedup as _d
    from flink_rc_spark.operators import graph as _g

    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, arrow)
    try:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
        docs = spark.range(5).select(F.col("id").alias("doc_id"))
        verts = docs.select(F.col("doc_id").alias("v"))
        monkeypatch.setattr(_g, "minhash_candidate_pairs", lambda d: pairs)

        def outcome():
            return [
                sorted(tuple(r) for r in df.collect())
                for df in (
                    _d.dedup_components_from_pairs(docs, pairs),
                    _d._pagerank_ranks(verts, pairs),
                    _g.q_graph_kcore(spark, SF_DIR),
                )
            ]

        kcore = _d.driver_solve(
            pairs, _g._kcore_driver, "doc_id long, core_deg long"
        )
        assert kcore is not None and kcore.collect() == []
        gated = outcome()
        assert gated == [
            [(i, i, 1, True) for i in range(5)],
            [(i, _d._PR_TELEPORT) for i in range(5)],
            [],
        ]
        monkeypatch.setattr(_d, "_DRIVER_MAX_EDGES", -1)
        assert gated == outcome()
    finally:
        spark.conf.set(conf, prev)


def test_simhash_kernel_partition_locality(spark):
    """The signature kernel sums each doc's votes inside ONE task, so
    it is correct only while a doc's token rows stay in the partition
    they were exploded in: the declared plan has no Exchange between
    the explode (Generate) and the kernel (MapInPandas), and on a
    multi-partition input the kernel emits each doc_id exactly once."""
    from flink_rc_spark.llm.dedup import simhash_signatures
    from flink_rc_spark.plans.inspect import formatted_plan
    from flink_rc_spark.registry import REGISTRY, load_all
    from flink_rc_spark.sources.tables import load

    load_all()
    plan = formatted_plan(REGISTRY["q_dedup_simhash"].builder(spark, SF_DIR))
    tree = plan.split("\n\n", 1)[0].splitlines()
    nodes = [ln.lstrip(" :+-").split(" (", 1)[0].strip() for ln in tree]
    # the signature kernel is the deepest MapInPandas; walk down to
    # the Generate feeding it (the plan is a chain down to the scan)
    below = nodes[max(i for i, n in enumerate(nodes) if n == "MapInPandas") + 1:]
    assert "Generate" in below, plan
    assert "Exchange" not in below[: below.index("Generate")], plan

    docs = load(spark, SF_DIR, "documents").repartition(4)
    assert docs.rdd.getNumPartitions() > 1
    ids = [r.doc_id for r in simhash_signatures(docs).collect()]
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert len(ids) == len(set(ids)) == n_docs


def test_pagerank_driver_overflow_falls_back(spark, monkeypatch):
    """A star whose hub collects > (2^63-1)/85 inflow in round 1 breaks
    the driver solve's int64 precondition: numpy would wrap 85*m
    silently, so the gate must fall through to the distributed loop,
    whose outcome (an ANSI overflow error, or the wrapped values with
    ANSI off) the gated path must then share exactly."""
    import numpy as np

    from flink_rc_spark.llm import dedup as _d

    def star(n):  # (ids, ea, eb): hub index 0, leaves 1..n
        return np.arange(n + 1), np.zeros(n, dtype=np.int64), np.arange(1, n + 1)

    leaves = _d._PR_MAX_INFLOW // _d._PR_SCALE + 1_500  # ~110k
    assert leaves <= _d._DRIVER_MAX_EDGES
    assert _d._pagerank_driver(*star(leaves)) is None
    assert _d._pagerank_driver(*star(1_000)) is not None

    pairs = spark.range(1, leaves + 1).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    verts = spark.range(leaves + 1).select(F.col("id").alias("v"))

    def outcome():
        try:
            return sorted(
                tuple(r) for r in _d._pagerank_ranks(verts, pairs).collect()
            )
        except Exception as e:  # noqa: BLE001 - compared across paths
            assert "ARITHMETIC_OVERFLOW" in str(e), e
            return "overflow"

    gated = outcome()
    monkeypatch.setattr(_d, "_DRIVER_MAX_EDGES", -1)
    assert gated == outcome()
    if spark.conf.get("spark.sql.ansi.enabled").lower() == "true":
        assert gated == "overflow"
