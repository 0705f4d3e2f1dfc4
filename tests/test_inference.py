"""Semantic checks for the wave-7 inference/resampling keys
(operators/inference.py, the timeseries additions, q_dedup_url) —
engine-parity is covered by tests/test_correctness.py; these pin the
statistics and constructions themselves.
"""

from __future__ import annotations

import math

import pytest

from flink_rc_spark.registry import REGISTRY, get_queries


@pytest.fixture(scope="module", autouse=True)
def _load():
    get_queries()


def test_poisson_thresholds_match_cdf():
    from flink_rc_spark.operators.inference import _POIS

    c = 0.0
    for k, t in enumerate(_POIS):
        c += math.exp(-1) / math.factorial(k)
        assert t == int(c * 1048576)


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    row = REGISTRY["q_bootstrap_ci"].builder(spark, sf_dir).collect()[0]
    assert row.b_used == 40
    assert row.ci_lo_micro <= row.ci_hi_micro
    # the full-sample mean should fall inside (or at worst graze) the 90% CI
    assert row.ci_lo_micro * 0.9 <= row.mean_micro <= row.ci_hi_micro * 1.1
    # weights average ~1, so replicate means cluster near the sample mean
    assert abs(row.ci_hi_micro - row.ci_lo_micro) < row.mean_micro  # sane width


def test_bootstrap_weights_poissonish(spark):
    # empirical weight distribution over 20k hash draws ~ Poisson(1)
    from pyspark.sql import functions as F

    from flink_rc_spark.functions.exact import md5_int
    from flink_rc_spark.operators.inference import _BS_KEY, _pois_case

    df = (
        spark.range(500)
        .withColumnRenamed("id", "event_id")
        .select(
            "event_id",
            F.explode(F.sequence(F.lit(0), F.lit(39))).alias("b"),
        )
        .select(F.expr(_pois_case(md5_int(_BS_KEY, 1, 5))).alias("w"))
    )
    counts = {r.w: r.c for r in df.groupBy("w").agg(F.count("*").alias("c")).collect()}
    n = sum(counts.values())
    assert n == 20000
    # P(0) = P(1) = e^-1 ~ .368: allow 3 sigma ~ .01
    for k in (0, 1):
        assert abs(counts.get(k, 0) / n - math.exp(-1)) < 0.015
    mean_w = sum(k * c for k, c in counts.items()) / n
    assert abs(mean_w - 1.0) < 0.03


def test_assoc_rules_bounds(spark, sf_dir):
    rows = REGISTRY["q_assoc_rules"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.supp_ab >= 3
        assert r.supp_ab <= min(r.supp_a, r.supp_b)
        assert 0 < r.conf_micro <= 1_000_000  # P(b|a) in (0, 1]
        assert r.lift_micro > 0
    # ranked by lift desc
    lifts = [r.lift_micro for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_agg_mode_is_argmax(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_rc_spark.sources.tables import load

    out = {
        (r.l_returnflag, r.l_linestatus): (r.mode_qty, r.mode_cnt)
        for r in REGISTRY["q_agg_mode"].builder(spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    by_grp = {}
    for r in counts:
        by_grp.setdefault((r.l_returnflag, r.l_linestatus), []).append(
            (r.c, r.l_quantity)
        )
    for grp, pairs in by_grp.items():
        best = max(pairs, key=lambda p: (p[0], -p[1]))
        assert out[grp] == (best[1], best[0]), grp


def test_ts_decompose_identity_and_seasonal_centering(spark, sf_dir):
    rows = REGISTRY["q_ts_decompose"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.resid_micro == r.x_micro - r.trend_micro - r.seas_micro
    # per type, the mean detrended value minus its dow seasonal should be
    # near zero on the rows that fed the seasonal fit (floor-quantization
    # allows |mean| < 1 micro-unit per dow group)
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r.x_micro - r.trend_micro - r.seas_micro)
    for t, resids in by_type.items():
        assert abs(sum(resids) / len(resids)) < 10_000_000  # « typical x_micro


def test_ts_outlier_mad_invariants(spark, sf_dir):
    rows = REGISTRY["q_ts_outlier_mad"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mad_c >= 0
        assert r.n_outliers < r.n  # the rule can't flag everything
        assert r.median_c > 0


def test_dedup_url_collapses_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    out = REGISTRY["q_dedup_url"].builder(spark, sf_dir)
    # gid = doc_id div 2 pairs docs; hosts/path/query canon must merge the
    # 4 messy variants: every group has exactly the docs sharing a gid
    mx = out.agg(F.max("n_dups").alias("m"), F.min("n_dups").alias("lo")).collect()[0]
    assert mx.m == 2
    # keeper is the even doc of the pair whenever both exist
    bad = out.filter(
        (F.col("n_dups") == 2) & (F.col("keeper_doc") % 2 != 0)
    ).count()
    assert bad == 0
    # canonical forms carry no tracking params, ports, fragments, www
    pat = out.filter(
        F.col("canonical_url").rlike("utm|443|#|://www\\.|[A-Z]")
    ).count()
    assert pat == 0
