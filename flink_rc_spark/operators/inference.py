"""Resampling inference and rule mining: Poisson-bootstrap confidence
intervals, association rules (support / confidence / lift), and the
deterministic MODE aggregate.

Reference parity: none — driver-north-star analytics surface (the
q_ab_ztest / q_ks_test statistics family).

Float policy: everything is integer- or decimal-exact. The bootstrap
quantizes replicate means to integer micro-units with exact floor
division; rule confidence/lift are floor-quantized rationals; mode is
pure counting with a total-order tie-break.

100 TB story:
- Poisson bootstrap is THE cluster-scale bootstrap (Chamandy et al.,
  "Estimating Uncertainty for Massive Data Streams", Google 2012):
  instead of materializing B resamples, each row draws B independent
  Poisson(1) weights from a deterministic hash, so one scan + one
  B-row aggregate replaces B shuffles. The explode(B) here is a
  per-row flat map (no shuffle); the aggregate is map-side combined
  to B partial rows per partition.
- Association rules re-aggregate q_basket_pairs' co-occurrence frame
  (the slim (cust, part) self-join) and join two bounded dimension
  frames (per-item supports, single-row basket count — the q_bm25
  broadcast class).
- Mode is one hash agg on (group, value) + a per-group ranking
  window over the distinct-value frame.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# Poisson(1) CDF scaled to 2^20 = 1048576 (5 hex digits of md5):
# P(X<=k)*2^20 for k = 0..5; above the last threshold the weight
# saturates at 6 (P ~ 5e-5 at sf-independent truth).
_POIS = [385749, 771499, 964373, 1028665, 1044738, 1047952]
_B = 40  # replicates; 90% CI picks order stats 2 and 38




def _pois_case(u: str) -> str:
    """CASE expr mapping a uniform [0, 2^20) int to a Poisson(1) draw."""
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS)
    )
    return f"(CASE {branches} ELSE 6 END)"


_BS_KEY = "'bs' || CAST(event_id AS STRING) || '_' || CAST(b AS STRING)"


@register(
    "q_bootstrap_ci",
    oracle=f"""
        WITH x AS (
            SELECT event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM events
        ), drawn AS (
            SELECT t.b AS b, x.cents,
                   {_pois_case(md5_int(_BS_KEY, 1, 5, duck=True))} AS w
            FROM x, (SELECT CAST(range AS BIGINT) AS b FROM range({_B})) t
        ), rep AS (
            SELECT b,
                   CAST(SUM(w) AS BIGINT) AS sw,
                   CAST(SUM(w * cents) AS BIGINT) AS swx
            FROM drawn GROUP BY b
            HAVING CAST(SUM(w) AS BIGINT) > 0
        ), means AS (
            SELECT (swx * 10000) // sw AS mean_micro,
                   ROW_NUMBER() OVER (ORDER BY (swx * 10000) // sw, b) AS r,
                   COUNT(*) OVER () AS nb
            FROM rep
        ), full_mean AS (
            SELECT (CAST(SUM(cents) AS BIGINT) * 10000)
                     // CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM x
        )
        SELECT MAX(full_mean.n) AS n,
               CAST(MAX(means.nb) AS BIGINT) AS b_used,
               CAST(MAX(full_mean.m) AS BIGINT) AS mean_micro,
               CAST(MAX(CASE WHEN r = 2 THEN mean_micro END) AS BIGINT)
                 AS ci_lo_micro,
               CAST(MAX(CASE WHEN r = {_B - 2} THEN mean_micro END) AS BIGINT)
                 AS ci_hi_micro
        FROM means, full_mean
    """,
    tags=("stats", "sample"),
)
def q_bootstrap_ci(spark, sf_dir):
    """90% Poisson-bootstrap CI for the mean event value: each (row,
    replicate) pair draws a Poisson(1) weight from 5 md5 hex digits
    against the 2^20-scaled CDF, replicate means floor-quantize to
    integer micro-units ((Σw·cents · 1e4) div Σw), and the CI is the
    2nd/38th order statistic of the 40 replicate means — every step
    integer-exact, so the driver hash closes over a *resampling*
    procedure.

    Plan: scan → explode(40) flat map (no shuffle) → hash agg to 40
    partial rows per partition → 40-row final frame; the order-stat
    window runs over 40 rows. Replicate count B, not data volume,
    bounds the post-agg work.
    """
    ev = load(spark, sf_dir, "events")
    x = ev.select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    drawn = x.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    ).select(
        "b",
        "cents",
        F.expr(_pois_case(md5_int(_BS_KEY, 1, 5))).alias("w"),
    )
    rep = (
        drawn.groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("sw"),
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("swx"),
        )
        .filter(F.col("sw") > 0)
    )
    means = rep.select(
        F.expr("(swx * 10000) div sw").alias("mean_micro"),
        F.row_number()
        .over(Window.orderBy(F.expr("(swx * 10000) div sw"), "b"))
        .alias("r"),
        F.count("*")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nb"),
    )
    full = x.agg(
        F.expr("(CAST(SUM(cents) AS BIGINT) * 10000) div COUNT(*)").alias("m"),
        F.count("*").alias("n"),
    )
    return means.crossJoin(F.broadcast(full)).agg(
        F.max("n").alias("n"),
        F.max("nb").cast("long").alias("b_used"),
        F.max("m").cast("long").alias("mean_micro"),
        F.max(F.when(F.col("r") == 2, F.col("mean_micro")))
        .cast("long")
        .alias("ci_lo_micro"),
        F.max(F.when(F.col("r") == _B - 2, F.col("mean_micro")))
        .cast("long")
        .alias("ci_hi_micro"),
    )


@register(
    "q_assoc_rules",
    oracle="""
        WITH basket AS (
            SELECT DISTINCT o_custkey AS cust, l_partkey AS part
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), n AS (
            SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_baskets FROM basket
        ), item AS (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS supp FROM basket GROUP BY part
        ), pair AS (
            SELECT a.part AS part_a, b.part AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS supp_ab
            FROM basket a JOIN basket b
              ON a.cust = b.cust AND a.part < b.part
            GROUP BY a.part, b.part
            HAVING COUNT(*) >= 3
        )
        SELECT part_a, part_b, supp_ab,
               ia.supp AS supp_a, ib.supp AS supp_b,
               (supp_ab * 1000000) // ia.supp AS conf_micro,
               (supp_ab * n.n_baskets * 1000000) // (ia.supp * ib.supp)
                 AS lift_micro
        FROM pair
        JOIN item ia ON pair.part_a = ia.part
        JOIN item ib ON pair.part_b = ib.part
        CROSS JOIN n
        ORDER BY lift_micro DESC, part_a, part_b
        LIMIT 20
    """,
    tags=("analytics", "join", "agg"),
)
def q_assoc_rules(spark, sf_dir):
    """Association rules a⇒b over customer baskets: support ≥ 3 pairs
    ranked by LIFT, with confidence = P(b|a) and lift =
    P(ab)/(P(a)P(b)) floor-quantized to integer micro-units
    ((x·1e6) div y — both engines floor the same exact rational).

    Extends q_basket_pairs' co-occurrence counts into the full
    Agrawal-style rule readout.

    Plan: the basket self-join is q_basket_pairs' measured-fastest
    shape; per-item supports hash-join onto the pair frame (both
    slim); the basket count is ONE broadcast row (the q_bm25
    corpus-stats class). TakeOrdered(20) replaces a global sort.
    """
    from flink_rc_spark.operators.joins import pair_support_salted
    from flink_rc_spark.plans.inspect import checkpoint

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # The basket feeds FOUR consumers (basket count, item supports,
    # both self-join sides) and no ReusedExchange fires across them —
    # the before-plan re-ran the fact join + distinct subtree each
    # time (20 parquet scans / 38 exchanges). Materialize it once
    # (guide §2.4); the self-join then goes through the shared
    # skew-diagnosed pair helper (q_basket_pairs' measured shape,
    # result row-identical by its test) instead of a hand-rolled
    # plain join.
    basket = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .transform(checkpoint, eager=True)
    )
    n = basket.agg(F.countDistinct("cust").alias("n_baskets"))
    item = basket.groupBy("part").agg(F.count("*").alias("supp"))
    pair = pair_support_salted(
        basket, "cust", "part", "part_a", "part_b", "supp_ab",
        materialized=True,
    ).filter(F.col("supp_ab") >= 3)
    ia = item.select(F.col("part").alias("part_a"), F.col("supp").alias("supp_a"))
    ib = item.select(F.col("part").alias("part_b"), F.col("supp").alias("supp_b"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "supp_ab",
            "supp_a",
            "supp_b",
            F.expr("(supp_ab * 1000000) div supp_a").alias("conf_micro"),
            F.expr(
                "(supp_ab * n_baskets * 1000000) div (supp_a * supp_b)"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "q_agg_mode",
    oracle="""
        WITH c AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus, CAST(l_quantity AS DECIMAL(12,2))
        ), r AS (
            SELECT l_returnflag, l_linestatus, qty, cnt,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                                      ORDER BY cnt DESC, qty) AS rn
            FROM c
        )
        SELECT l_returnflag, l_linestatus,
               CAST(qty AS DOUBLE) AS mode_qty,
               cnt AS mode_cnt
        FROM r WHERE rn = 1
    """,
    tags=("agg", "window"),
)
def q_agg_mode(spark, sf_dir):
    """Deterministic MODE: the most frequent l_quantity per
    (returnflag, linestatus), ties broken by the SMALLEST value — a
    total order, unlike the engines' native mode()/any-wins
    aggregates whose tie winner is unspecified (why the oracle spells
    the count + row_number rewrite rather than DuckDB's mode()).

    Plan: hash agg to the (group, distinct value) frame (map-side
    combined), then a per-group top-1 window over distinct values
    only — never the raw rows.
    """
    li = load(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.desc("cnt"), "qty"
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("qty").cast("double").alias("mode_qty"),
            F.col("cnt").alias("mode_cnt"),
        )
    )
