"""Semantic checks for the wave-10 ML-primitive keys: decision stump,
naive Bayes, LOO target encoding, WoE/IV, fixed-width parsing.
"""

from __future__ import annotations

import math

import pytest

from flink_rc_spark.registry import REGISTRY, get_queries


@pytest.fixture(scope="module", autouse=True)
def _load():
    get_queries()


def test_stump_cost_matches_brute_gini(spark, sf_dir):
    from flink_rc_spark.sources.tables import load

    rows = REGISTRY["q_decision_stump"].builder(spark, sf_dir).collect()
    assert len(rows) == 5
    data = [
        (d.n_chars, 1 if d.lang == "en" else 0)
        for d in load(spark, sf_dir, "documents").collect()
    ]
    n = len(data)

    def cost_e9(t):
        left = [(f, y) for f, y in data if f <= t]
        right = [(f, y) for f, y in data if f > t]
        nl, nr = len(left), len(right)
        if not nl or not nr:
            return None
        pl, pr = sum(y for _, y in left), sum(y for _, y in right)
        a_l = nl * nl - pl * pl - (nl - pl) * (nl - pl)
        a_r = nr * nr - pr * pr - (nr - pr) * (nr - pr)
        return (a_l * nr + a_r * nl) * 10**9 // (nl * nr)

    # reported costs are exact; the top-1 must be the global argmin
    all_costs = sorted(
        c
        for c in (cost_e9(t) for t in {f for f, _ in data})
        if c is not None
    )
    assert rows[0].cost_e9 == all_costs[0]
    for r in rows:
        assert r.cost_e9 == cost_e9(r.threshold)
        assert r.n_l + r.n_r == n
    # weighted-gini identity: cost/1e9 ~ 2n*gini_weighted
    g = rows[0].cost_e9 / 1e9
    assert 0 <= g <= 2 * n


def test_naive_bayes_confusion_consistent(spark, sf_dir):
    from flink_rc_spark.sources.tables import load

    rows = REGISTRY["q_naive_bayes"].builder(spark, sf_dir).collect()
    total = sum(r.n_docs for r in rows)
    assert total == load(spark, sf_dir, "documents").count()
    langs = {"de", "en", "es", "fr", "zh"}
    for r in rows:
        assert r.true_lang in langs and r.pred_lang in langs
    # the learned model must beat random: diagonal > total/len(langs)
    diag = sum(r.n_docs for r in rows if r.true_lang == r.pred_lang)
    assert diag > total / len(langs)


def test_target_encode_formula(spark, sf_dir):
    rows = REGISTRY["q_target_encode"].builder(spark, sf_dir).collect()
    assert len(rows) == 10  # 5 segments x y in {0,1}
    n_g = None
    # recompute from the row's own counters
    from pyspark.sql import functions as F

    from flink_rc_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    x = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        "c_mktsegment",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    g = x.agg(F.count("*").alias("n"), F.sum("y").alias("p")).collect()[0]
    for r in rows:
        expect = ((r.pos_seg - r.y) * g.n + 20 * g.p) * 1_000_000 // (
            (r.n_seg - 1 + 20) * g.n
        )
        assert r.loo_enc_micro == expect
        assert 0 <= r.loo_enc_micro <= 1_000_000


def test_woe_iv_identities(spark, sf_dir):
    rows = REGISTRY["q_woe_iv"].builder(spark, sf_dir).collect()
    assert rows
    pos_t = sum(r.pos_b for r in rows)
    neg_t = sum(r.neg_b for r in rows)
    for r in rows:
        woe = math.log((r.pos_b / pos_t) / (r.neg_b / neg_t))
        assert abs(r.woe_micro - round(woe * 1_000_000)) <= 1
        dd = (r.pos_b / pos_t - r.neg_b / neg_t) * 1_000_000
        assert abs(r.dist_diff_micro - dd) <= 1  # floor-quantized
    # distribution differences sum to ~0 across buckets
    assert abs(sum(r.dist_diff_micro for r in rows)) <= len(rows)


def test_fixedwidth_roundtrip(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_rc_spark.sources.tables import load

    out = REGISTRY["q_parse_fixedwidth"].builder(spark, sf_dir)
    orders = load(spark, sf_dir, "orders")
    assert out.count() == orders.count()
    assert out.filter(F.col("rec_len") != 49).count() == 0
    # parsed fields must round-trip the source values
    j = out.join(
        orders, out.orderkey == orders.o_orderkey
    ).filter(
        (F.col("status") != F.col("o_orderstatus"))
        | (F.col("priority") != F.col("o_orderpriority"))
        | (
            F.col("totalprice_c")
            != (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
    )
    assert j.count() == 0


def test_stump_oracle_exact_at_sf01(sf_dir):
    """The oracle's Gini numerator times 1e9 passes BIGINT once the
    corpus reaches sf0.1 (9289161420 * 1e9); it must stay exact there,
    so it is checked against the Python integer reference on the
    sf0.1 documents (DuckDB only — tier-1 parity runs at sf0.001)."""
    import os

    from tests.parity import duck_connect

    con = duck_connect(os.path.join(os.path.dirname(sf_dir), "sf0.1"))
    try:
        got = con.execute(REGISTRY["q_decision_stump"].oracle).fetchall()
        th = con.execute(
            "SELECT n_chars, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
            " AS BIGINT), COUNT(*) FROM documents GROUP BY n_chars ORDER BY 1"
        ).fetchall()
    finally:
        con.close()
    pos_t, n_t = sum(p for _, p, _ in th), sum(c for _, _, c in th)
    ref, pl, nl = [], 0, 0
    for f, p, c in th:
        pl, nl = pl + p, nl + c
        nr, pr = n_t - nl, pos_t - pl
        if nl and nr:
            a_l = nl * nl - pl * pl - (nl - pl) ** 2
            a_r = nr * nr - pr * pr - (nr - pr) ** 2
            ref.append(((a_l * nr + a_r * nl) * 10**9 // (nl * nr), f, nl, nr, pl, pr))
    ref.sort()
    assert [(r[1], r[2], r[3], r[4], r[5], r[0]) for r in ref[:5]] == [
        tuple(r) for r in got
    ]
