"""Semantic checks for the wave-13 keys: Markov removal-effect
attribution and farthest-point coreset selection.
"""

from __future__ import annotations

import pytest

from flink_rc_spark.registry import REGISTRY, get_queries


@pytest.fixture(scope="module", autouse=True)
def _load():
    get_queries()


def test_markov_attribution_sanity(spark, sf_dir):
    rows = REGISTRY["q_attribution_markov"].builder(spark, sf_dir).collect()
    channels = {r.channel for r in rows}
    assert channels == {"click", "error", "signup", "view"}
    base = {r.base_micro for r in rows}
    assert len(base) == 1  # one base conversion probability
    b = base.pop()
    assert 0 < b <= 1_000_000
    total_share = 0
    for r in rows:
        # removing a channel can only lower (or keep) absorption prob
        assert r.removed_micro <= b + 1  # +1 floor-noise headroom
        assert r.effect_micro >= 0
        if r.share_micro is not None:
            total_share += r.share_micro
    # shares sum to ~1 (floor-quantized: within 4 micro of 1e6)
    assert 1_000_000 - 4 <= total_share <= 1_000_000


def test_markov_removal_monotone_vs_traffic(spark, sf_dir):
    # the channel with the largest removal effect must carry journeys:
    # its effect can't exceed base, and at least one channel matters
    rows = REGISTRY["q_attribution_markov"].builder(spark, sf_dir).collect()
    effects = sorted((r.effect_micro for r in rows), reverse=True)
    assert effects[0] > 0
    b = rows[0].base_micro
    assert all(e <= b for e in effects)


def test_coreset_greedy_invariants(spark, sf_dir):
    rows = sorted(
        REGISTRY["q_sample_coreset"].builder(spark, sf_dir).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.sel_rank for r in rows] == list(range(8))
    assert rows[0].dist_at_pick is None  # seed has no distance
    picks = [r.dist_at_pick for r in rows[1:]]
    # greedy max-min distances are non-increasing
    assert picks == sorted(picks, reverse=True)
    cr = {r.cover_radius_sq for r in rows}
    assert len(cr) == 1
    # coverage radius can't exceed the last pick's distance
    assert cr.pop() <= picks[-1]
    # all picks distinct vectors
    assert len({r.vec_id for r in rows}) == 8


def test_coreset_beats_hash_sample_coverage(spark, sf_dir):
    # farthest-point coverage must be at least as tight as an arbitrary
    # 8-vector hash sample's coverage (the whole point of the method)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_rc_spark.functions.vectors import on_grid
    from flink_rc_spark.sources.tables import load

    rows = REGISTRY["q_sample_coreset"].builder(spark, sf_dir).collect()
    fps_radius = rows[0].cover_radius_sq
    emb = load(spark, sf_dir, "embeddings")
    vq = emb.select("vec_id", F.expr(on_grid(2)).alias("m"))
    hash_sample = (
        vq.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(
                    F.md5(F.concat(F.lit("alt#"), F.col("vec_id").cast("string")))
                )
            ),
        )
        .filter(F.col("rn") <= 8)
        .select(F.col("m").alias("cm"))
    )
    dist = (
        "aggregate(zip_with(m, cm, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x)"
    )
    alt_radius = (
        vq.crossJoin(F.broadcast(hash_sample))
        .select("vec_id", F.expr(dist).alias("d"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("dmin"))
        .agg(F.max("dmin").alias("r"))
        .collect()[0]
        .r
    )
    assert fps_radius <= alt_radius
