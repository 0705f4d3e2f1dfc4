"""TPC-H-style analytic benchmark queries (beyond-reference surface).

The test tables are a TPC-H-ish star schema (TESTDATA.md) with a
subset of the official columns, so these are the classic TPC-H query
*shapes* adapted to the columns that exist: multi-way fact⋈dim joins,
date-windowed filters, group-by-aggregate, top-k with deterministic
tie-breaks, EXISTS subqueries, and a ratio report. Together they prove
the engine composes its operator surface into the full analytic
queries a warehouse user actually runs — each one exercises several
declared operators at once.

Scale story (100 TB):
- Dimensions (region/nation/supplier/customer-at-dim-scale) are
  explicitly ``F.broadcast`` — the fact side never shuffles for them.
- Fact⋈fact (lineitem⋈orders) shuffles on the join key once; AQE
  handles skew/over-partitioning at runtime. On a real lake both facts
  would be bucketed by orderkey, removing the exchange entirely
  (sources/sinks.py shows the bucketing path).
- Every aggregate is a partial+final hash agg on a low-cardinality
  key, so the agg shuffle carries (groups × partitions) rows.
- Top-k outputs go through TakeOrdered (no global sort of the fact).

Float policy: all money aggregates route through DECIMAL
(functions/exact.py) so the result is order-independent and
hash-identical to the DuckDB oracle; ratios divide two exact doubles.

Reference parity: none — the reference is a numeric-vector dataflow
engine (SURVEY.md §1.1); this is the driver-north-star relational
surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import davg, dec, dlit, dsum
from flink_rc_spark.registry import register
from flink_rc_spark.sources import load

# Shared decimal-exact revenue term: extendedprice * (1 - discount).
_REV_DUCK = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)


def _rev():
    return dec("l_extendedprice") * (dlit(1) - dec("l_discount"))


@register(
    "q_tpch_q3",
    oracle=f"""
        SELECT l_orderkey,
               CAST(SUM({_REV_DUCK}) AS DOUBLE) AS revenue,
               o_orderdate
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-30'
          AND l_shipdate > TIMESTAMP '1997-06-30'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape — shipping priority: top-10 unshipped orders of
    one market segment by revenue.

    customer is a dimension at any realistic scale relative to the
    lineitem fact → broadcast; lineitem⋈orders shuffles once on
    orderkey. Top-10 via TakeOrdered with full tie-break
    (revenue desc, orderdate, orderkey) so the cut is deterministic.
    """
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q4",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape — order-priority checking: orders in a quarter
    with at least one line shipped > 30 days after the order date.

    (The official Q4 uses commitdate/receiptdate, which this schema
    lacks; shipdate-vs-orderdate keeps the EXISTS-correlated shape.)
    The EXISTS compiles to a LEFT SEMI join on orderkey — one shuffle,
    no row duplication, then a tiny 5-group aggregate.
    """
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    joined = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q_tpch_q5",
    oracle=f"""
        SELECT n_name,
               CAST(SUM({_REV_DUCK}) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 — local supplier volume: revenue where customer and
    supplier share a nation, for one region and one year.

    Six-way join: region→nation→supplier are broadcast dims; the
    c_nationkey = s_nationkey condition rides on the customer join
    (no extra shuffle). lineitem⋈orders is the only fact shuffle.
    """
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q_tpch_q6",
    oracle=f"""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 — forecasting revenue change: a pure scan-filter-agg.

    All four predicates push down to the parquet scan; the aggregate
    is a single ungrouped partial+final sum — the cheapest possible
    plan shape, and the canonical pushdown check.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double")
        .alias("revenue")
    )


@register(
    "q_tpch_q9",
    oracle=f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM({_REV_DUCK}) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN part ON p_partkey = l_partkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE p_name LIKE '%red%'
        -- group by the raw expressions: DuckDB won't bind the alias
        -- "nation" here because it shadows the joined table's name
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape — product-type profit by nation and year for
    parts matching a name pattern.

    (No partsupp table in this schema, so profit = discounted revenue
    without the supplycost term — the join/agg shape is Q9's.)
    part/supplier/nation are broadcast dims; the p_name LIKE filter
    shrinks the part build side before broadcast. One fact shuffle
    (lineitem⋈orders), then a (nation × year) hash agg.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q_tpch_q10",
    oracle=f"""
        SELECT c_custkey, c_name,
               CAST(SUM({_REV_DUCK}) AS DOUBLE) AS revenue,
               c_acctbal, n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 — returned-item reporting: top-20 customers by lost
    revenue from returned lines in one quarter.

    nation broadcast; customer joins the pre-aggregated order revenue
    side. Top-20 via TakeOrdered, tie-broken by custkey.
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q14",
    oracle=f"""
        SELECT CAST(100.0 AS DOUBLE)
                   * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN {_REV_DUCK}
                                   ELSE CAST(0 AS DECIMAL(12,2)) END)
                          AS DOUBLE)
                   / CAST(SUM({_REV_DUCK}) AS DOUBLE) AS promo_revenue
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 — promotion effect: percent of one month's revenue
    from promo parts.

    part is broadcast; conditional + total sums computed in ONE pass
    over the joined rows (no second scan). Both sums are exact
    decimals, so the final double division is deterministic on both
    engines.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
        dlit(0)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_rev()).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "q_tpch_q18",
    oracle="""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(12,2)))
                   > CAST(300 AS DECIMAL(12,2))
        )
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 100
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 — large-volume customer: orders whose total quantity
    exceeds a threshold, with the customer attached.

    The oracle keeps the official straggler spelling (HAVING subquery
    + re-join + re-aggregate over 5 keys — TWO full lineitem
    shuffles); the builder exploits that o_orderkey is UNIQUE in
    orders, so the per-order pre-aggregate IS the final quantity sum:
    one lineitem shuffle total, the filtered survivors (top few % of
    orders; threshold 300, max ≈ 458 in this data) join orders and
    customer directly, and no second aggregate exists. The driver
    hash proves the rewrite exact. Measured at 10× fact volume
    (BASELINE.md, "TPC-H-wave scale probe"): 4.2× → ~1.6× time at
    10× data.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > dlit(300))
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "q_tpch_q22",
    oracle="""
        WITH avg_bal AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                       / COUNT(c_acctbal) AS a
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment,
               COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   AS totacctbal
        FROM customer, avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1999-01-01'
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape — global sales opportunity: customers with
    above-average balances and no RECENT orders, grouped by segment.

    (The official Q22 keys on phone prefixes, which this schema lacks;
    mktsegment keeps the scalar-subquery + anti-join shape. The "no
    orders at all" form is structurally EMPTY in this data — ~10
    orders per customer make a zero-order customer a (1-1/n)^(10n)
    ≈ e^-10 event — so the anti-join keys on orders since 1999,
    i.e. lapsed customers, keeping the result non-trivial at every
    scale factor.) The average is a scalar broadcast; the NOT EXISTS
    is a LEFT ANTI join against the recent orders' custkeys, with the
    date predicate pushed to the orders scan.
    """
    cust = load(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("a")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q_tpch_q7",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(volume_dec) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   {_REV_DUCK} AS volume_dec
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
                OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 — volume shipping: bilateral trade between two nations
    by year. (Nation literals use this dataset's synthetic NATION_*
    names; the official FRANCE/GERMANY pair matches nothing here and
    would make the key a trivially-empty result — same for Q8's
    numerator nation.)

    The nation dimension joins TWICE under different roles (supplier's
    nation, customer's nation) — both broadcast; the OR-of-pairs
    predicate evaluates after the second nation attach. One fact⋈fact
    shuffle (lineitem⋈orders); two-year shipdate range pushed to the
    scan.
    """
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10")
    ) | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q_tpch_q15",
    oracle=f"""
        WITH revenue0 AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(SUM({_REV_DUCK}) AS DOUBLE) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier
        JOIN revenue0 ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
        ORDER BY s_suppkey
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 — top supplier: the supplier(s) with the maximum
    quarterly revenue (the official query's CREATE VIEW + scalar MAX
    subquery shape).

    The revenue pre-aggregate is computed ONCE and persisted for its
    two consumers (the max and the filter); the scalar max broadcasts.
    Exact decimal revenue makes the equality predicate safe — float
    revenue would make "= MAX" flaky on either engine.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue0 = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).cast("double").alias("total_revenue"))
        .persist()
    )
    try:
        mx = revenue0.agg(F.max("total_revenue").alias("mx"))
        supp = load(spark, sf_dir, "supplier")
        return (
            supp.join(
                revenue0, supp.s_suppkey == revenue0.supplier_no
            )
            .join(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("mx"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey")
        )
    finally:
        # deferred unpersist: the returned plan still references the
        # cached data; blocking=False lets the driver release it after
        # the query's consumers run
        revenue0.unpersist(blocking=False)


@register(
    "q_tpch_q19",
    oracle=f"""
        SELECT CAST(SUM({_REV_DUCK}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    tags=("tpch", "join", "filter"),
)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape — discounted revenue under an OR of
    brand/size/quantity conjunctions (the official query's disjunctive
    multi-attribute predicate, adapted to available columns).

    Catalyst extracts the common sub-predicates to each side BEFORE the
    join: the part scan receives a pushed brand/size disjunction and
    the lineitem scan a quantity range — the textbook test that complex
    OR predicates still prune at the scan instead of post-join.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "q_tpch_q8",
    oracle=f"""
        SELECT o_year,
               CAST(SUM(CASE WHEN nation = 'NATION_9' THEN volume_dec
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                   / CAST(SUM(volume_dec) AS DOUBLE) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   {_REV_DUCK} AS volume_dec,
                   n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA'
              AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 — national market share: the fraction of one region's
    market volume (for one part type, two years) supplied by one
    nation, per year. The conditional/total decimal sums divide as
    exact doubles, so the ratio is hash-stable.

    Eight-way join, still ONE fact⋈fact shuffle: part/customer-side
    nation+region/supplier/supplier-side nation are all broadcast dims
    (nation joins twice under different roles, as in Q7).
    """
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = load(spark, sf_dir, "supplier")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = _rev()
    brazil = F.when(F.col("nation") == "NATION_9", vol).otherwise(dlit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (F.sum(brazil).cast("double") / F.sum(vol).cast("double")).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


@register(
    "q_tpch_q12",
    oracle="""
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
               COUNT(*) AS line_count
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape — shipping-delay report: per order priority,
    how many of a year's lineitems shipped more than 60 days after the
    order. (The official Q12 groups by l_shipmode and checks
    commit/receipt dates — columns this schema lacks; priority ×
    ship-lag keeps the join + conditional-count shape.)

    One fact⋈fact shuffle; the conditional count is a single-pass
    CASE aggregate, 5 output groups.
    """
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    late = F.when(
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(late).cast("bigint").alias("late_count"),
            F.count("*").alias("line_count"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_tpch_q13",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 — customer order-count distribution: how many
    customers placed 0, 1, 2, … orders (the LEFT JOIN keeps
    zero-order customers; COUNT(col) skips their NULLs).

    Double aggregation: the first groups by custkey (shuffle on the
    join key, shared with the outer join's partitioning), the second
    collapses to the tiny count-of-counts histogram.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    c_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q_tpch_q17",
    oracle="""
        WITH part_avg AS (
            SELECT l_partkey AS pk,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       / COUNT(l_quantity) AS avg_qty
            FROM lineitem
            GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   / 7.0 AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN part_avg ON pk = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < 0.2 * avg_qty
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 — small-quantity-order revenue: lines of one brand
    whose quantity is under 20% of that part's average quantity.

    The official correlated scalar subquery (avg per part) decorrelates
    to a per-part pre-aggregate joined back on partkey — one extra
    fact aggregate, no per-row subquery execution. avg_qty is a
    decimal-exact sum divided by an exact count, so the 0.2*avg
    threshold compares identically cross-engine.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # pre-agg only the brand's partkeys (broadcast semi-join): the join
    # below keeps only those anyway, and the decorrelated aggregate
    # drops from all-facts to 1/|brands| of them — measured 9.5x ->
    # ~2x at the 10x fact probe
    li_brand = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    part_avg = li_brand.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(part_avg, li.l_partkey == part_avg.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# Narrow decimals for rate columns (discount/tax are in [0, 0.25]):
# keeping (1 - disc) at DECIMAL(5,2) lets the three-factor Q1 charge
# product stay inside both engines' 38-digit width (SURVEY §4.2).
_DISC1 = "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
_TAX1 = "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"


@register(
    "q_tpch_q1",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * {_DISC1})
                    AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * {_DISC1}
                        * {_TAX1}) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(l_extendedprice) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
)
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 — pricing summary report, the FULL official aggregate
    set (8 aggregates incl. the three-factor charge term; the flagship
    q_agg_group covers only the 4-aggregate subset).

    Pure scan → pushed date filter → 6-group partial+final hash agg:
    the canonical columnar-scan benchmark. The charge product routes
    discount/tax through DECIMAL(4,2) so the three-factor decimal
    product stays within 38 digits in BOTH engines and every sum is
    order-independent (hash-exact vs the oracle).
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    # rev_d materialized ONCE in the projection: the two product
    # aggregates would otherwise each redo the decimal multiply per
    # row (no CSE across aggregate expressions) — measured ~3x on the
    # whole query at sf0.1, bit-identical results
    li = li.withColumn(
        "rev_d",
        dec("l_extendedprice") * (dlit(1, 4, 2) - dec("l_discount", 4, 2)),
    )
    tax1 = dlit(1, 4, 2) + dec("l_tax", 4, 2)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum("rev_d").cast("double").alias("sum_disc_price"),
            F.sum(F.col("rev_d") * tax1)
            .cast("double")
            .alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_tpch_q2",
    oracle="""
        WITH cost AS (
            SELECT l_partkey AS pk, l_suppkey AS sk,
                   MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
            FROM lineitem
            GROUP BY l_partkey, l_suppkey
        ), eligible AS (
            SELECT pk, sk, supplycost, s_acctbal, s_name, n_name
            FROM cost
            JOIN supplier ON s_suppkey = sk
            JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               CAST(supplycost AS DOUBLE) AS supplycost
        FROM part
        JOIN eligible ON pk = p_partkey
        WHERE p_size <= 25 AND p_type = 'STANDARD'
          AND supplycost = (
              SELECT MIN(supplycost) FROM eligible e2 WHERE e2.pk = p_partkey
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    tags=("tpch", "subquery", "join"),
)
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape — minimum-cost supplier: for each qualifying
    part, the region's supplier(s) offering it at the minimum cost.

    (No partsupp table in this schema: lineitem is the part-supplier
    associative table and MIN(l_extendedprice) per (part, supplier) is
    the supply-cost proxy — MIN of exact decimals, so the correlated
    "= MIN" equality is safe cross-engine.) The correlated scalar
    subquery decorrelates to a per-part MIN pre-aggregate joined back.
    supplier⋈nation⋈region and the filtered part are broadcast dims;
    the only fact shuffle is the (part, supplier) cost aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    cost = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(dec("l_extendedprice")).alias("supplycost_d"))
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 25) & (F.col("p_type") == "STANDARD")
    )
    eligible = cost.join(F.broadcast(supp), cost.sk == supp.s_suppkey).join(
        F.broadcast(part), cost.pk == part.p_partkey
    )
    min_cost = eligible.groupBy(F.col("pk").alias("mpk")).agg(
        F.min("supplycost_d").alias("min_cost")
    )
    return (
        eligible.join(
            min_cost,
            (eligible.pk == min_cost.mpk)
            & (eligible.supplycost_d == min_cost.min_cost),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("supplycost_d").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q_tpch_q11",
    oracle="""
        WITH value AS (
            SELECT l_partkey AS pk,
                   SUM(CAST(l_quantity AS DECIMAL(12,2))
                       * CAST(l_extendedprice AS DECIMAL(12,2))) AS v
            FROM lineitem
            WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier
                JOIN nation ON n_nationkey = s_nationkey
                WHERE n_name = 'NATION_3'
            )
            GROUP BY l_partkey
        )
        SELECT pk AS l_partkey, CAST(v AS DOUBLE) AS value
        FROM value
        WHERE CAST(v AS DOUBLE)
              > CAST(0.0001 AS DOUBLE) * (SELECT CAST(SUM(v) AS DOUBLE) FROM value)
        ORDER BY value DESC, l_partkey
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape — important stock: parts whose traded value
    through one nation's suppliers exceeds a fraction of that nation's
    total traded value.

    (partsupp's availqty*supplycost becomes quantity*extendedprice
    over lineitem — same nested-aggregate + scalar-subquery-threshold
    shape.) The per-part value aggregate is computed ONCE and persisted
    for its two consumers (HAVING threshold's total and the output);
    the scalar total broadcasts. Values are exact decimal products, so
    the double threshold comparison is identical cross-engine.
    """
    nation = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    value = li.groupBy("l_partkey").agg(
        F.sum(dec("l_quantity") * dec("l_extendedprice")).alias("v_d")
    ).persist()
    try:
        total = value.agg(F.sum("v_d").cast("double").alias("t"))
        return (
            value.join(F.broadcast(total))
            .filter(
                F.col("v_d").cast("double") > F.lit(0.0001) * F.col("t")
            )
            .select(
                "l_partkey", F.col("v_d").cast("double").alias("value")
            )
            .orderBy(F.desc("value"), "l_partkey")
        )
    finally:
        value.unpersist(blocking=False)


@register(
    "q_tpch_q16",
    oracle="""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#4'
          AND p_type NOT IN ('MEDIUM', 'PROMO')
          AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape — parts/supplier relationship: how many
    distinct suppliers can provide each excluded-brand part class,
    skipping blacklisted suppliers.

    (partsupp → lineitem as the associative table; the "complaints"
    comment filter becomes s_acctbal < 0.) The supplier blacklist is a
    broadcast ANTI join (NOT IN with a provably non-null key list);
    the filtered part dim broadcasts; COUNT(DISTINCT) shuffles on the
    3-attribute group key with partial distinct-aggregation map-side.
    """
    complaints = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (~F.col("p_type").isin("MEDIUM", "PROMO"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(complaints),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q_tpch_q20",
    oracle="""
        WITH shipped AS (
            SELECT l_partkey AS pk, l_suppkey AS sk,
                   SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
              )
            GROUP BY l_partkey, l_suppkey
        ), part_total AS (
            SELECT pk, SUM(qty) AS total_qty FROM shipped GROUP BY pk
        )
        SELECT s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (
              SELECT sk FROM shipped
              JOIN part_total ON shipped.pk = part_total.pk
              WHERE qty * 2 > total_qty
          )
        ORDER BY s_name
    """,
    tags=("tpch", "subquery", "join"),
)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape — potential part promotion: one region's
    suppliers who shipped the MAJORITY of some matching part's yearly
    volume (the "excess availability" predicate re-expressed over
    lineitem: qty > 0.5 * part total, spelled 2*qty > total so both
    sides stay exact decimals — no float threshold).

    Doubly-nested IN subqueries → two semi-join stages: the part-name
    filter semi-joins the fact BEFORE its aggregate (broadcast), and
    the majority-supplier set semi-joins the supplier dim. One fact
    shuffle on (part, supplier); the per-part total reuses that
    partitioning (AQE coalesces).
    """
    part_red = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(
        F.broadcast(part_red), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum(dec("l_quantity")).alias("qty"))
    part_total = shipped.groupBy(F.col("pk").alias("tpk")).agg(
        F.sum("qty").alias("total_qty")
    )
    major = (
        shipped.join(part_total, shipped.pk == part_total.tpk)
        .filter(F.col("qty") * 2 > F.col("total_qty"))
        .select("sk")
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(major, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_name", "s_acctbal", "n_name")
        .orderBy("s_name")
    )


@register(
    "q_tpch_q21",
    oracle="""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE o_orderstatus = 'F'
          AND n_name = 'NATION_3'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
    tags=("tpch", "subquery", "join"),
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape — suppliers who kept orders waiting: lines of
    finished orders that shipped late (> 60 days after the order, the
    schema's receipt/commit proxy, as in Q4/Q12) where the supplier
    was the ONLY late supplier on a multi-supplier order.

    The EXISTS / NOT EXISTS pair compiles to a LEFT SEMI then a LEFT
    ANTI join against lineitem, both keyed on orderkey (equi-shuffle;
    the suppkey≠ and lateness conditions ride on the join). The l1
    side is pre-shrunk to one nation's suppliers (broadcast semi) and
    finished orders BEFORE the two fact-sized joins, so the expensive
    stages see 1/|nations| of the fact.
    """
    nation = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    l1 = (
        li.join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "s_name", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waited = l1.join(
        l2,
        (l1.l_orderkey == F.col("o2")) & (l1.l_suppkey != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("o3"))
        & (F.col("l_suppkey") != F.col("s3"))
        & (F.col("d3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
