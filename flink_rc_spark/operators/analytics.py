"""Product-analytics operators over the events stream: funnel
conversion and cohort retention.

These are the two canonical "who did what, in what order, when"
queries every event warehouse runs; they compose the declared window /
aggregate / join surface into user-journey analyses the same way the
TPC-H wave composes it into warehouse reports.

Reference parity: none — the reference is a numeric dataflow engine
(SURVEY.md §1.1); this is driver-north-star analytics surface.

100 TB story:
- The funnel is ONE scan and ONE shuffle: events group to their user
  key, the per-user journey folds inside array HOFs (filter/transform/
  array_min — all JVM codegen, no Python), and the final step counts
  are a global partial+final aggregate of 4 counters. No self-joins,
  no per-step re-scan of the fact (the textbook funnel anti-pattern:
  k steps = k joins).
- Cohort retention is one window (min-over-user, reusing the same
  hash partitioning a groupBy would need anyway), one distinct on
  (user, cohort, week) — which AQE-coalesces since week cardinality
  is tiny — and a count-distinct rollup. Per-user event skew is
  bounded by the per-user event volume, the same bound the
  sessionization ops carry.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load


@register(
    "q_funnel_steps",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS users_total,
               (SELECT COUNT(*) FROM s1) AS reached_view,
               (SELECT COUNT(*) FROM s2) AS reached_click,
               (SELECT COUNT(*) FROM s3) AS reached_purchase
    """,
    tags=("analytics", "agg", "hof"),
)
def q_funnel_steps(spark, sf_dir):
    """Ordered funnel view → click → purchase: a user reaches step k
    only with an event strictly after their step-(k−1) time (first
    qualifying occurrence, the standard strict-ordering funnel).

    The oracle spells it as the straggler 3-pass CTE chain (each step
    re-scans events); the builder folds the whole journey in ONE scan:
    per-user sorted event list → step times via filter/transform/
    array_min HOFs → 4 global counters. The driver hash proves the
    single-pass rewrite equals the 3-pass spelling.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    # step times: earliest qualifying event strictly after the prior step
    j = per_user.withColumn(
        "t1",
        F.expr(
            "array_min(transform(filter(evs, x -> x.event_type = 'view'),"
            " x -> x.ts))"
        ),
    ).withColumn(
        "t2",
        F.expr(
            "array_min(transform(filter(evs, x -> x.event_type = 'click'"
            " AND t1 IS NOT NULL AND x.ts > t1), x -> x.ts))"
        ),
    ).withColumn(
        "t3",
        F.expr(
            "array_min(transform(filter(evs, x -> x.event_type = 'purchase'"
            " AND t2 IS NOT NULL AND x.ts > t2), x -> x.ts))"
        ),
    )
    return j.agg(
        F.count("*").alias("users_total"),
        F.count("t1").alias("reached_view"),
        F.count("t2").alias("reached_click"),
        F.count("t3").alias("reached_purchase"),
    )


@register(
    "q_retention_cohort",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        )
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week,
                              date_trunc('week', e.ts)) / 7 AS BIGINT)
                   AS week_offset,
               COUNT(DISTINCT e.user_id) AS active_users
        FROM events e
        JOIN first_seen USING (user_id)
        GROUP BY cohort_week, week_offset
        ORDER BY cohort_week, week_offset
    """,
    tags=("analytics", "window", "agg"),
)
def q_retention_cohort(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-activity week,
    counted as active in each subsequent week they produced any event.

    The oracle joins a first-seen CTE back to the fact (two scans);
    the builder computes the cohort week as a min-over-user WINDOW on
    the single scan — the window's hash partitioning on user_id is the
    same exchange the join spelling would need, minus the second scan
    and the join itself. Week arithmetic is integer-exact (both
    engines truncate weeks to Monday 00:00, so the day difference is
    always a multiple of 7).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w))
    ).withColumn("active_week", F.date_trunc("week", F.col("ts")))
    return (
        cohorted.groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "q_anomaly_zscore",
    oracle="""
        WITH stats AS (
            SELECT event_type,
                   CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s,
                   CAST(SUM(CAST(value AS DECIMAL(12,4))
                            * CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sq,
                   COUNT(*) AS n
            FROM events
            GROUP BY event_type
        )
        SELECT event_id, e.event_type,
               CAST(CAST(value AS DECIMAL(12,4)) AS DOUBLE) AS value_q,
               ROUND((CAST(CAST(value AS DECIMAL(12,4)) AS DOUBLE) - s / n)
                     / sqrt((sq - s * s / n) / (n - 1)), 4) AS zscore
        FROM events e
        JOIN stats USING (event_type)
        WHERE abs((CAST(CAST(value AS DECIMAL(12,4)) AS DOUBLE) - s / n)
                  / sqrt((sq - s * s / n) / (n - 1))) > 3.0
        ORDER BY event_id
    """,
    tags=("analytics", "agg"),
)
def q_anomaly_zscore(spark, sf_dir):
    """Z-score outlier detection per event type: events more than 3
    sample standard deviations from their type's mean — the streaming
    monitoring primitive, expressed batch-first.

    Determinism without rounding the WHERE boundary away: values are
    quantized to DECIMAL(12,4) once, then mean and variance come from
    EXACT decimal Σx / Σx² (order-independent), so the double
    std/z-score arithmetic runs on bit-identical inputs in both
    engines and the |z| > 3 cut selects the same rows. 100 TB: the
    stats are a 5-group partial+final agg BROADCAST back over the
    fact — one scan for stats, one for scoring (the same two-pass
    shape as q_subq_scalar); no window over the full fact.
    """
    from flink_rc_spark.functions.exact import dec

    ev = load(spark, sf_dir, "events")
    vq = dec("value", 12, 4)
    stats = ev.groupBy("event_type").agg(
        F.sum(vq).cast("double").alias("s"),
        F.sum(vq * vq).cast("double").alias("sq"),
        F.count("*").alias("n"),
    )
    z = (vq.cast("double") - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            vq.cast("double").alias("value_q"),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("event_id")
    )


@register(
    "q_sessionize_stats",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, event_id, value,
                   CAST(SUM(is_start) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS session_no
            FROM marked
        )
        SELECT user_id, session_no,
               MIN(ts) AS session_start,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
                   AS duration_s,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_no
    """,
    tags=("analytics", "window", "agg"),
)
def q_sessionize_stats(spark, sf_dir):
    """Batch sessionization with a 30-minute inactivity gap — the
    gaps-and-islands TIME variant (q_scd2_intervals is the VALUE-run
    variant; q_stream_session is the streaming twin via
    session_window): mark session starts with a lag-compare, number
    them with a running sum, then aggregate per-session duration /
    volume stats.

    One exchange total: the lag window, the running-sum window, and
    the per-(user, session) aggregate all live on the same user_id
    hash partitioning — Spark reuses the sort/exchange across all
    three (same pattern q_scd2_intervals plan-asserts). Duration and
    counts are integer-exact; values sum through decimal.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    marked = ev.withColumn(
        "is_start",
        F.when(F.lag("ts").over(w).isNull() | (gap_s > 1800), 1).otherwise(0),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = marked.withColumn("session_no", F.sum("is_start").over(wrun))
    from flink_rc_spark.functions.exact import dsum

    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts").cast("long") - F.min("ts").cast("long"))
            .cast("bigint")
            .alias("duration_s"),
            F.count("*").alias("n_events"),
            dsum("value", 18, 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_no")
    )


@register(
    "q_dq_checks",
    oracle="""
        SELECT
            (SELECT COUNT(*) FROM orders) AS orders_rows,
            (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                AS dup_orderkeys,
            (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                AS null_custkeys,
            (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (
                 SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
             )) AS orphan_orders,
            (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (
                 SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
             )) AS orphan_lineitems,
            (SELECT COUNT(*) FROM lineitem
             WHERE l_quantity <= 0 OR l_discount < 0 OR l_discount > 1
                OR l_extendedprice < 0) AS domain_violations,
            (SELECT COUNT(*) FROM orders
             WHERE o_orderdate > TIMESTAMP '2026-01-01') AS future_orders
    """,
    tags=("analytics", "dq", "join"),
)
def q_dq_checks(spark, sf_dir):
    """Data-quality audit in one declared plan — the checks a
    warehouse runs before trusting a load: row counts, key uniqueness,
    null keys, referential integrity in BOTH fact directions
    (orders→customer, lineitem→orders), domain-range rules, and
    future-dated records. One row of violation counters (all zeros on
    this data except the structural row count — which is the point:
    the hash proves the checks RAN and found clean data, not that they
    were skipped).

    Plan shape: the uniqueness check is a count-distinct aggregate;
    each referential check is a LEFT ANTI join on the key (the same
    shuffle the real join would do — at 100 TB you run these as
    bucketed anti-joins on the load's own partitioning); domain rules
    fold into one scan each.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    orders_rows = orders.agg(F.count("*").alias("orders_rows"))
    dup = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_orderkeys")
    )
    nulls = orders.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkeys")
    )
    orphan_o = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_orders"))
    )
    orphan_l = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("orphan_lineitems"))
    )
    domain = li.agg(
        F.count(
            F.when(
                (F.col("l_quantity") <= 0)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1)
                | (F.col("l_extendedprice") < 0),
                1,
            )
        ).alias("domain_violations")
    )
    future = orders.agg(
        F.count(
            F.when(
                F.col("o_orderdate") > F.lit("2026-01-01").cast("timestamp"), 1
            )
        ).alias("future_orders")
    )
    out = orders_rows
    for d in (dup, nulls, orphan_o, orphan_l, domain, future):
        out = out.join(F.broadcast(d))
    return out


@register(
    "q_basket_pairs",
    oracle="""
        WITH basket AS (
            SELECT DISTINCT o_custkey AS cust, l_partkey AS part
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        )
        SELECT a.part AS part_a, b.part AS part_b,
               COUNT(*) AS support
        FROM basket a JOIN basket b
          ON a.cust = b.cust AND a.part < b.part
        GROUP BY a.part, b.part
        ORDER BY support DESC, part_a, part_b
        LIMIT 20
    """,
    tags=("analytics", "join", "agg"),
)
def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the top-20 part pairs bought by
    the most customers — the "users who bought X also bought Y"
    primitive behind co-occurrence recommenders.

    Plan choice, measured not assumed: the in-basket lambda generator
    (the MinHash-bucket idiom) shuffles baskets once but pays
    Catalyst-INTERPRETED nested-HOF cost per emitted pair — 14.3 s at
    sf0.1; the textbook self-join on the customer key is fully
    codegen'd with identical results (A/B in-session; a double-explode
    splits the difference). r8: the self-join runs through
    `pair_support_salted` (operators/joins.py) — the basket
    materializes ONCE (no ReusedExchange fires across join sides, so
    the plain form built the fact-join+distinct subtree twice), the
    per-customer skew is DIAGNOSED (q_skew_stats' salt factor), and a
    hot customer's C(B,2) fan-out splits across salt tasks when the
    diagnosis says so — identical pair set, tested.
    """
    from flink_rc_spark.operators.joins import pair_support_salted

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    basket = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    return (
        pair_support_salted(
            basket, "cust", "part", "part_a", "part_b", "support"
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "q_rfm_segments",
    oracle="""
        WITH rfm AS (
            SELECT c_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                       AS monetary
            FROM customer JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey
        ),
        scored AS (
            SELECT c_custkey, last_order, frequency, monetary,
                   NTILE(4) OVER (ORDER BY last_order, c_custkey) AS r_score,
                   NTILE(4) OVER (ORDER BY frequency, c_custkey) AS f_score,
                   NTILE(4) OVER (ORDER BY monetary, c_custkey) AS m_score
            FROM rfm
        )
        SELECT r_score, f_score, m_score,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(monetary AS DECIMAL(14,2))) AS DOUBLE)
                   AS segment_value
        FROM scored
        GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score
    """,
    tags=("analytics", "window", "agg"),
)
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: quartile-score every customer on
    Recency (last order date), Frequency (order count), and Monetary
    (decimal-exact lifetime value), then report the 4×4×4 segment
    grid — the standard CRM slicing.

    NTILE ties are broken by custkey so the quartile assignment is a
    TOTAL order and hash-stable cross-engine. Scale note: each
    quartile score is the TWO-PHASE range-bucketed rank
    (`global_scan_salted` count scan over the customer aggregate —
    parallelism = n_buckets per dimension, no single-partition sort)
    plus the exact integer NTILE floor formula (`ntile_from_rn`),
    bit-equal to the engines' NTILE; extreme customer counts would
    swap exact NTILE for percentile boundaries from
    q_agg_percentile's sketching path, the documented
    accuracy/latency trade.
    """
    from flink_rc_spark.functions.exact import dsum
    from flink_rc_spark.operators.windows import (
        global_scan_salted,
        ntile_from_rn,
    )

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")

    rfm = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            dsum("o_totalprice", 14, 2).alias("monetary"),
        )
        .withColumn(
            "_r_d", F.col("last_order").cast("timestamp").cast("double")
        )
        # read by count() + quantile probe + three rank scans —
        # materialize ONCE (r8 verdict: the old chained form paid a
        # fresh checkpoint + quantile job per dimension)
        .transform(checkpoint, eager=True)
    )
    n = rfm.count()
    # ONE multi-column approxQuantile job supplies all three dims'
    # bucket boundaries (boundary choice never affects values)
    bounds = dict(
        zip(
            ["_r_d", "frequency", "monetary"],
            rfm.approxQuantile(
                ["_r_d", "frequency", "monetary"],
                [i / 32 for i in range(1, 32)],
                0.001,
            ),
        )
    )
    cnt = [{"kind": "count", "value": None, "out": "_rn", "exclusive": False}]
    # three INDEPENDENT rank scans of the one materialized frame
    # (scores depend only on their own dimension), joined back on the
    # unique customer key — replaces the old sequential chain
    scored = rfm
    for col, bcol, out in [
        ("last_order", "_r_d", "r_score"),
        ("frequency", "frequency", "f_score"),
        ("monetary", "monetary", "m_score"),
    ]:
        r = global_scan_salted(
            rfm,
            F.col(bcol),
            [col, "c_custkey"],
            cnt,
            materialize=False,
            boundaries=bounds[bcol],
        ).select(
            "c_custkey",
            ntile_from_rn(F.col("_rn"), 4, n).cast("int").alias(out),
        )
        scored = scored.join(r, "c_custkey")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("monetary", 14, 2).alias("segment_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "q_merge_classify",
    oracle="""
        WITH base AS (
            SELECT o_custkey AS k,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                       AS old_val
            FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY o_custkey
        ),
        delta AS (
            SELECT o_custkey AS k,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                       AS new_val
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_custkey
        )
        SELECT CASE WHEN b.k IS NULL THEN 'insert'
                    WHEN d.k IS NULL THEN 'unchanged'
                    ELSE 'update' END AS change_type,
               COUNT(*) AS n_keys,
               CAST(SUM(CAST(COALESCE(b.old_val, 0) AS DECIMAL(14,2))
                        + CAST(COALESCE(d.new_val, 0) AS DECIMAL(14,2)))
                    AS DOUBLE) AS merged_value
        FROM base b FULL OUTER JOIN delta d ON b.k = d.k
        GROUP BY change_type
        ORDER BY change_type
    """,
    tags=("analytics", "join", "etl"),
)
def q_merge_classify(spark, sf_dir):
    """MERGE INTO, classified: apply a change batch (1997 order
    volumes) to a base state (pre-1997 volumes) and report what the
    merge DID — inserts (keys first seen in the batch), updates (keys
    in both), unchanged (base keys the batch missed) — with the merged
    value per class. This is the upsert-audit every incremental ETL
    job logs; the full-outer join IS the merge's matching phase, and
    the classification is the CASE over null sides.

    Exact decimals end-to-end. 100 TB: base and delta shuffle once on
    the merge key (bucketed tables co-locate it away — the
    tests/test_bucketing.py path); classification adds no extra
    exchange (the CASE rides the join output into a 3-group agg).
    """
    from flink_rc_spark.functions.exact import dsum

    orders = load(spark, sf_dir, "orders")
    base = (
        orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("bk"))
        .agg(dsum("o_totalprice", 14, 2).alias("old_val"))
    )
    delta = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.col("o_custkey").alias("dk"))
        .agg(dsum("o_totalprice", 14, 2).alias("new_val"))
    )
    merged = base.join(delta, base.bk == delta.dk, "full_outer")
    change_type = (
        F.when(F.col("bk").isNull(), "insert")
        .when(F.col("dk").isNull(), "unchanged")
        .otherwise("update")
    )
    val = F.coalesce(F.col("old_val"), F.lit(0.0)).cast(
        "decimal(14,2)"
    ) + F.coalesce(F.col("new_val"), F.lit(0.0)).cast("decimal(14,2)")
    return (
        merged.select(change_type.alias("change_type"), val.alias("v"))
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("v").cast("double").alias("merged_value"),
        )
        .orderBy("change_type")
    )


@register(
    "q_pareto_abc",
    oracle="""
        WITH rev AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(12,2))
                          - CAST(l_discount AS DECIMAL(12,2)))) AS r
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, r,
                   SUM(r) OVER (ORDER BY r DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(r) OVER () AS total
            FROM rev
        )
        SELECT CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8
                         THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95
                         THEN 'B'
                    ELSE 'C' END AS abc_class,
               COUNT(*) AS n_parts,
               CAST(SUM(r) AS DOUBLE) AS class_revenue
        FROM ranked
        GROUP BY abc_class
        ORDER BY abc_class
    """,
    tags=("analytics", "window", "agg"),
)
def q_pareto_abc(spark, sf_dir):
    """Pareto / ABC classification: rank parts by revenue, classify by
    cumulative share (A: first 80%, B: to 95%, C: tail) — the
    inventory-management standard for "which 20% of parts make 80% of
    revenue".

    The cumulative sum runs over EXACT decimals in a total order
    (revenue desc, partkey), so the share boundaries — double
    divisions of exactly-agreed decimals — classify identically
    cross-engine; no boundary row can flip. Scale: the per-part
    aggregate is the fact-sized work; the ranked cumsum is the
    TWO-PHASE range-bucketed decimal prefix sum (`global_scan_salted`
    over the revenue-desc total order — no single-partition window),
    and the grand total is a 1-row broadcast, the q_bm25
    corpus-stats class.
    """
    li = load(spark, sf_dir, "lineitem")
    from flink_rc_spark.functions.exact import dec, dlit
    from flink_rc_spark.operators.windows import global_scan_salted

    rev = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * (dlit(1) - dec("l_discount"))).alias("r")
    ).transform(checkpoint, eager=True)  # shared by totals + scan
    tot = rev.agg(F.sum("r").alias("total"))
    ranked = global_scan_salted(
        rev,
        "r",
        [F.desc("r"), "l_partkey"],
        [{"kind": "sum", "value": F.col("r"), "out": "cum",
          "exclusive": False}],
        descending=True,
        materialize=False,
    ).crossJoin(F.broadcast(tot))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    abc = (
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return (
        ranked.select(abc.alias("abc_class"), "r")
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("r").cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


@register(
    "q_fuzzy_join",
    oracle="""
        WITH named AS (
            SELECT p_partkey, p_name,
                   string_split(p_name, ' ')[2] AS block
            FROM part
        ),
        pairs AS (
            SELECT a.block,
                   levenshtein(a.p_name, b.p_name) AS d
            FROM named a JOIN named b
              ON a.block = b.block AND a.p_partkey < b.p_partkey
        )
        SELECT n.block,
               COUNT(DISTINCT n.p_partkey) AS n_parts,
               (SELECT COUNT(*) FROM pairs p WHERE p.block = n.block)
                   AS n_candidates,
               (SELECT COUNT(*) FROM pairs p
                WHERE p.block = n.block AND p.d <= 2) AS n_fuzzy,
               (SELECT COUNT(*) FROM pairs p
                WHERE p.block = n.block AND p.d = 0) AS n_exact
        FROM named n
        GROUP BY n.block
        ORDER BY n.block
    """,
    tags=("analytics", "join", "text"),
)
def q_fuzzy_join(spark, sf_dir):
    """Blocked FUZZY JOIN (entity resolution): part names matched
    within edit distance ≤ 2, candidates generated per BLOCK (the
    name's noun token) — the classic blocking-key architecture that
    makes fuzzy matching survive scale: levenshtein runs only inside
    blocks, never across the full cross product. Output is the
    per-block audit (parts, candidates, fuzzy matches, exact dups) a
    dedup/ER pipeline reports.

    levenshtein is unit-cost edit distance with identical semantics in
    Spark and DuckDB, so even the fuzzy counts hash-match.

    PLAN — MULTIPLICITY COMPRESSION, not pair enumeration (the oracle
    enumerates; the hash proves the rewrite): the naive in-block
    self-join emits ~2.2M key-pairs at sf0.1 and pays levenshtein on
    each (26 s; a length-band prefilter + banded levenshtein(·,·,2)
    still 15 s — the DP dominates). But edit distance only depends on
    the VALUES: group to distinct (block, name) with counts first
    (~200 distinct names regardless of row count), run the pair join
    over distinct values only (a few hundred DPs total), and expand
    the counters by multiplicity —
        n_exact  = Σ C(cnt, 2)                   (same-name pairs)
        n_fuzzy  = n_exact + Σ_{d≤2, a<b} cnt_a·cnt_b
    This is the dedup-first principle every operator here leans on:
    work scales with DISTINCT values, row multiplicity is arithmetic.
    100 TB: the distinct-name rollup is one hash agg; if distinct
    names themselves blow up, the value-pair stage swaps in segment
    signatures (PassJoin) or the MinHash bucket join — candidate
    generation over values, never over rows.
    """
    part = load(spark, sf_dir, "part")
    named = part.select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ").getItem(1).alias("block"),
    )
    g = named.groupBy("block", "p_name").agg(F.count("*").alias("cnt"))
    ga = g.select("block", F.col("p_name").alias("na"), F.col("cnt").alias("ca"))
    gb = g.select(
        F.col("block").alias("block_b"),
        F.col("p_name").alias("nb"),
        F.col("cnt").alias("cb"),
    )
    cross = (
        ga.join(
            gb,
            (F.col("block") == F.col("block_b"))
            & (F.col("na") < F.col("nb"))
            & (F.abs(F.length("na") - F.length("nb")) <= 2),
        )
        .withColumn("d", F.levenshtein("na", "nb", 2))
        .filter(F.col("d") >= 0)
        .groupBy("block")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("n_cross"))
    )
    same = g.groupBy("block").agg(
        F.sum(F.expr("cnt * (cnt - 1) div 2")).cast("bigint").alias("n_same")
    )
    pair_stats = same.join(cross, "block", "left").select(
        "block",
        (F.col("n_same") + F.coalesce("n_cross", F.lit(0)))
        .cast("bigint")
        .alias("n_fuzzy"),
        F.col("n_same").cast("bigint").alias("n_exact"),
    )
    part_stats = named.groupBy("block").agg(
        F.countDistinct("p_partkey").alias("n_parts")
    )
    return (
        part_stats.join(pair_stats, "block", "left")
        .select(
            "block",
            "n_parts",
            F.expr("n_parts * (n_parts - 1) div 2").alias("n_candidates"),
            F.coalesce("n_fuzzy", F.lit(0)).alias("n_fuzzy"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        )
        .orderBy("block")
    )


@register(
    "q_skyline",
    oracle="""
        SELECT p_partkey, p_retailprice, p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size <= p.p_size
              AND (q.p_retailprice < p.p_retailprice
                   OR q.p_size < p.p_size)
        )
        ORDER BY p_retailprice, p_size, p_partkey
    """,
    tags=("analytics", "window"),
)
def q_skyline(spark, sf_dir):
    """SKYLINE (Pareto frontier): parts where no other part is both
    cheaper-or-equal AND smaller-or-equal (strict in one) — the
    multi-criteria "best tradeoffs" operator from the classic Börzsönyi
    et al. skyline paper.

    The oracle is the quadratic NOT EXISTS dominator spelling; the
    builder is the O(n log n) 2-D sweep: collapse to per-price minimum
    sizes, take the running strict-prefix minimum over ascending
    prices, and a part survives iff its size beats every
    strictly-cheaper minimum AND is minimal within its own price
    group. The driver hash proves the sweep equals the quadratic
    definition. Scale: the strict-prefix minimum over the
    DISTINCT-price rollup runs as the TWO-PHASE range-bucketed scan
    (`global_scan_salted` exclusive min — no single-partition
    window), then a broadcast-back join — no self-join of the base
    table.
    """
    from flink_rc_spark.operators.windows import global_scan_salted

    part = load(spark, sf_dir, "part")
    g = part.groupBy("p_retailprice").agg(F.min("p_size").alias("gmin"))
    g2 = global_scan_salted(
        g,
        "p_retailprice",
        ["p_retailprice"],
        [{"kind": "min", "value": F.col("gmin"), "out": "rm_strict",
          "exclusive": True}],
    )
    return (
        part.join(F.broadcast(g2), "p_retailprice")
        .filter(
            (F.col("rm_strict").isNull() | (F.col("p_size") < F.col("rm_strict")))
            & (F.col("p_size") == F.col("gmin"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_size", "p_partkey")
    )


@register(
    "q_snapshot_diff",
    oracle="""
        WITH old AS (
            SELECT o_orderkey AS k, o_totalprice AS price
            FROM orders WHERE o_orderkey % 10 != 9
        ),
        new AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS price
            FROM orders WHERE o_orderkey % 10 != 0
        ),
        diff AS (
            SELECT COALESCE(o.k, n.k) AS k,
                   CASE WHEN o.k IS NULL THEN 'insert'
                        WHEN n.k IS NULL THEN 'delete'
                        WHEN o.price != n.price THEN 'update'
                        ELSE 'unchanged' END AS change_type,
                   n.price AS new_price, o.price AS old_price
            FROM old o FULL OUTER JOIN new n ON o.k = n.k
        )
        SELECT change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(k) AS BIGINT) AS key_checksum,
               CAST(SUM(CASE WHEN change_type = 'update'
                        THEN CAST(new_price AS DECIMAL(14,2))
                             - CAST(old_price AS DECIMAL(14,2))
                        ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
                   AS value_delta
        FROM diff
        GROUP BY change_type
        ORDER BY change_type
    """,
    tags=("analytics", "join", "cdc"),
)
def q_snapshot_diff(spark, sf_dir):
    """CDC-style snapshot diff: classify every key across two table
    snapshots as insert / delete / update / unchanged and report per-
    class counts, a key checksum, and the decimal-exact value delta of
    the updates — the audit a pipeline runs before publishing an
    incremental load. Snapshots are derived deterministically from
    orders INSIDE the query on both engines (keys ending in 9 exist
    only in the new snapshot, keys ending in 0 only in the old, every
    key ≡ 3 mod 7 got its price bumped by exactly 1.00 — a float-exact
    increment), so the verified operator is the diff itself.

    Plan: one FULL OUTER equi-join on the snapshot key (two scans of
    the same source prune to 2 columns each) into a 4-group hash agg.
    100 TB: snapshots bucketed by primary key diff with ZERO shuffle
    (bucket-local SMJ); the update detector compares a row hash
    instead of each column when schemas are wide — same plan shape.
    The value delta sums DECIMAL(14,2) differences (exact) and casts
    to DOUBLE only at the output boundary, per the engine's decimal-
    exact aggregation policy.
    """
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 9).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("old_price")
    )
    new = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 7 == 3, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    diff = old.join(new, "k", "full_outer").select(
        "k",
        F.when(F.col("old_price").isNull(), "insert")
        .when(F.col("new_price").isNull(), "delete")
        .when(F.col("old_price") != F.col("new_price"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        "new_price",
        "old_price",
    )
    dec = lambda c: F.col(c).cast("decimal(14,2)")  # noqa: E731
    return (
        diff.groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_checksum"),
            F.sum(
                F.when(
                    F.col("change_type") == "update",
                    dec("new_price") - dec("old_price"),
                ).otherwise(F.lit(0).cast("decimal(14,2)"))
            )
            .cast("double")
            .alias("value_delta"),
        )
        .orderBy("change_type")
    )


@register(
    "q_cdc_apply",
    oracle="""
        WITH log AS (
            SELECT o_custkey AS k, o_orderkey AS seq,
                   CASE WHEN o_orderkey % 11 = 5 THEN 'D' ELSE 'U' END AS op,
                   o_totalprice AS price
            FROM orders
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                         ORDER BY seq DESC) AS rn
            FROM log
        ),
        stats AS (
            SELECT k,
                   CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_upserts,
                   CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_deletes
            FROM log GROUP BY k
        )
        SELECT r.k, r.seq AS last_seq, r.price AS final_price,
               s.n_upserts, s.n_deletes
        FROM ranked r JOIN stats s ON s.k = r.k
        WHERE r.rn = 1 AND r.op = 'U'
        ORDER BY r.k
    """,
    tags=("analytics", "cdc"),
)
def q_cdc_apply(spark, sf_dir):
    """Ordered-changelog APPLY (the Flink upsert-stream / Paimon-LSM
    compaction read): replay a keyed changelog of upserts and deletes
    in sequence order and materialize the final table state —
    last-writer-wins per key, a key whose final op is a DELETE is
    absent from the snapshot. The sibling of q_snapshot_diff (which
    PRODUCES a changelog) and q_merge_classify (which applies one
    batch of staged changes): this one applies an arbitrarily long
    history. The changelog is derived deterministically from orders
    INSIDE the query on both engines (key = o_custkey, seq =
    o_orderkey — unique, so last-writer is well-defined — op = DELETE
    on seq % 11 = 5), so the verified operator is the apply itself.
    Output carries per-key op counts (the compaction statistics) plus
    the surviving last_seq/price.

    Plan: ONE shuffle — a single hash agg on the key computing
    max(struct(seq, op, price)) (struct max orders by seq first, the
    argmax-by-sequence idiom) alongside the op counters; the oracle
    spells the same semantics as a window + join for dialect safety.
    100 TB: this is exactly how log-structured tables compact —
    changelog partitions shuffle once by primary key, each key folds
    to its newest row; with the log bucketed by key the shuffle
    disappears entirely (bucket-local compaction).
    """
    orders = load(spark, sf_dir, "orders")
    log = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 11 == 5, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    agg = log.groupBy("k").agg(
        F.max(F.struct("seq", "op", "price")).alias("last"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("bigint")
        .alias("n_upserts"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
    )
    return (
        agg.filter(F.col("last.op") == "U")
        .select(
            "k",
            F.col("last.seq").alias("last_seq"),
            F.col("last.price").alias("final_price"),
            "n_upserts",
            "n_deletes",
        )
        .orderBy("k")
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "q_corr_matrix",
    oracle=f"""
        WITH stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   {", ".join(f"CAST(SUM(CAST({c} AS DECIMAL(18,2)))"
                              f" AS DOUBLE) AS s_{c}" for c in _CORR_COLS)},
                   {", ".join(f"CAST(SUM(CAST({a} AS DECIMAL(18,2))"
                              f" * CAST({b} AS DECIMAL(18,2)))"
                              f" AS DOUBLE) AS p_{a}_{b}"
                              for i, a in enumerate(_CORR_COLS)
                              for b in _CORR_COLS[i:])}
            FROM lineitem
        )
        {" UNION ALL ".join(
            f'''SELECT '{a}' AS var_a, '{b}' AS var_b,
                ROUND((n * p_{a}_{b} - s_{a} * s_{b})
                      / (sqrt(n * p_{a}_{a} - s_{a} * s_{a})
                         * sqrt(n * p_{b}_{b} - s_{b} * s_{b})), 6)
                    AS corr
             FROM stats'''
            for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:])}
        ORDER BY var_a, var_b
    """,
    tags=("analytics", "agg", "stats"),
)
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over lineitem's four
    numeric measures — the profiling step a feature pipeline runs
    before model training (drop one of any near-collinear pair).

    EXACT-MOMENT TRICK: corr() on doubles can never hash-match across
    engines (the partial-sum tree changes the low bits), so the
    moments are computed as DECIMAL sums — SUM(x), SUM(x*y) with the
    2-decimal inputs cast to DECIMAL(18,2) (products exact at scale
    4, sums exact at precision 38) — which both engines agree on
    bit-for-bit. Only then does the textbook formula
    (n·Sxy − Sx·Sy) / √(n·Sxx − Sx²)·√(n·Syy − Sy²) run in DOUBLE, an
    identical fixed expression tree over identical scalars → an
    identical IEEE result, rounded to 6 at the boundary.

    Plan: ONE scan, ONE partial+final aggregate producing 15 exact
    moments in a single row; the 6 output rows are a broadcast-side
    expansion of that row. 100 TB: this is the textbook one-pass
    sufficient-statistics pattern — no per-pair scans, no shuffle
    beyond the single-row final agg.
    """
    li = load(spark, sf_dir, "lineitem")
    # Materialize the decimal casts AND products once in the projection
    # (the q_tpch_q1 lesson, BASELINE.md r5 log: Catalyst does not CSE
    # across aggregate expressions, so 14 aggregates each redoing the
    # cast/multiply per row cost ~12 s at sf0.1; this is ~4x).
    proj = li.select(
        *[F.col(c).cast("decimal(18,2)").alias(f"d_{c}") for c in _CORR_COLS]
    ).select(
        "*",
        *[
            (F.col(f"d_{a}") * F.col(f"d_{b}")).alias(f"pr_{a}_{b}")
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i:]
        ],
    )
    aggs = [F.count("*").cast("double").alias("n")]
    aggs += [F.sum(f"d_{c}").cast("double").alias(f"s_{c}") for c in _CORR_COLS]
    aggs += [
        F.sum(f"pr_{a}_{b}").cast("double").alias(f"p_{a}_{b}")
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i:]
    ]
    stats = proj.agg(*aggs)
    pairs = [
        F.struct(
            F.lit(a).alias("var_a"),
            F.lit(b).alias("var_b"),
            F.round(
                (F.col("n") * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}"))
                / (
                    F.sqrt(
                        F.col("n") * F.col(f"p_{a}_{a}")
                        - F.col(f"s_{a}") * F.col(f"s_{a}")
                    )
                    * F.sqrt(
                        F.col("n") * F.col(f"p_{b}_{b}")
                        - F.col(f"s_{b}") * F.col(f"s_{b}")
                    )
                ),
                6,
            ).alias("corr"),
        )
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    return (
        stats.select(F.explode(F.array(*pairs)).alias("kv"))
        .select("kv.var_a", "kv.var_b", "kv.corr")
        .orderBy("var_a", "var_b")
    )


@register(
    "q_ivm_delta",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_orderkey % 13 = 5
           OR (l_orderkey % 13 != 5 AND l_orderkey % 17 != 2)
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("analytics", "agg", "ivm"),
)
def q_ivm_delta(spark, sf_dir):
    """INCREMENTAL VIEW MAINTENANCE: maintain a revenue-per-
    (returnflag, linestatus) materialized view under a change batch of
    inserts AND deletes WITHOUT recomputing from scratch — the
    signed-multiplicity (Z-relation) delta algebra of the incremental
    view maintenance literature (DBSP / differential dataflow lineage,
    all public): inserts carry +1, deletes carry −1, and the new view
    is base ⊕ Σ(signed delta), group-wise.

    The workload is derived deterministically inside the query: rows
    with orderkey ≡ 5 (mod 13) are the insert batch (excluded from the
    base view), base rows with orderkey ≡ 2 (mod 17) are the delete
    batch. The ORACLE IS THE FULL RECOMPUTE over the final row set —
    so the driver's value hash proves the incremental path produces
    bit-identical results to rebuilding the view, which is the entire
    correctness obligation of IVM. Sums are decimal-exact (the
    engine's aggregation policy), counts are signed bigints.

    100 TB: the base view is TINY (group cardinality); only the change
    batch is scanned at refresh — one filtered scan + one group agg on
    the delta + a broadcast-size merge with the stored view. Refresh
    cost tracks delta size, not table size, which is the point.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    keys = ["l_returnflag", "l_linestatus"]
    is_insert = F.col("l_orderkey") % 13 == 5
    is_delete = (~is_insert) & (F.col("l_orderkey") % 17 == 2)

    # The stored view: aggregated over the base (pre-change) rows.
    base_view = (
        li.filter(~is_insert)
        .groupBy(*keys)
        .agg(F.count("*").alias("b_n"), F.sum(rev).alias("b_rev"))
    )
    # The signed delta: +1 inserts, -1 deletes, aggregated in ONE pass
    # over only the change rows. Sign via negation, not multiplication —
    # a decimal*decimal sign product would overflow precision 38 and
    # silently round, breaking the exact-sum contract.
    sign = F.when(is_insert, F.lit(1)).otherwise(F.lit(-1))
    delta = (
        li.filter(is_insert | is_delete)
        .groupBy(*keys)
        .agg(
            F.sum(sign).alias("d_n"),
            F.sum(F.when(is_insert, rev).otherwise(-rev)).alias("d_rev"),
        )
    )
    zero = F.lit(0).cast(delta.schema["d_rev"].dataType)
    return (
        base_view.join(delta, keys, "full_outer")
        .select(
            *keys,
            (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce(F.col("b_rev").cast(delta.schema["d_rev"].dataType), zero)
                + F.coalesce("d_rev", zero)
            )
            .cast("double")
            .alias("revenue"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy(*keys)
    )


_ATTR_CHANNELS = "CASE %s %% 5 WHEN 0 THEN 'organic' WHEN 1 THEN 'paid' WHEN 2 THEN 'email' WHEN 3 THEN 'social' ELSE 'direct' END"


@register(
    "q_attribution",
    oracle=f"""
        WITH clicks AS (
            SELECT event_id AS ck, user_id, ts AS cts,
                   {_ATTR_CHANNELS % "CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)"}
                       AS channel
            FROM events WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT event_id AS pk, user_id, ts AS pts, value
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT p.pk, p.value, c.channel,
                   ROW_NUMBER() OVER (PARTITION BY p.pk
                                      ORDER BY c.cts, c.ck) AS rn_first,
                   ROW_NUMBER() OVER (PARTITION BY p.pk
                                      ORDER BY c.cts DESC, c.ck DESC) AS rn_last
            FROM purchases p JOIN clicks c
              ON c.user_id = p.user_id
             AND c.cts < p.pts
             AND c.cts >= p.pts - INTERVAL 3 DAY
        )
        SELECT channel,
               CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_first,
               CAST(SUM(CASE WHEN rn_first = 1
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   AS first_touch_revenue,
               CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_last,
               CAST(SUM(CASE WHEN rn_last = 1
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   AS last_touch_revenue
        FROM touches
        GROUP BY channel
        ORDER BY channel
    """,
    tags=("analytics", "join", "window"),
)
def q_attribution(spark, sf_dir):
    """MARKETING ATTRIBUTION (first-touch vs last-touch): every
    purchase credits its revenue to the user's earliest and latest
    click channel within a 3-day lookback — the two bookend models
    every attribution system ships (the channel derives
    deterministically from the click's JSON props inside the query,
    both engines alike). Output: per channel, credited purchase counts
    and decimal-exact revenue under each model — the comparison that
    shows how model choice moves budget between channels.

    Plan: clicks and purchases are two filtered projections of ONE
    events scan; the touch join is the INTERVAL-join shape keyed by
    user (fan-out bounded by per-user activity in the lookback — the
    q_join_interval cell playbook applies verbatim when the lookback
    is long); first/last selection is two ROW_NUMBERs over the same
    (purchase) partitioning — one exchange, deterministically
    tie-broken by click id. 100 TB: everything shuffles on user_id /
    purchase_id; no self-scan per model (the rn trick computes both
    models from one join pass).
    """
    from flink_rc_spark.functions.exact import dec  # decimal cast helper

    e = load(spark, sf_dir, "events")
    k_int = F.get_json_object("props", "$.k").cast("int")
    channel = (
        F.when(k_int % 5 == 0, "organic")
        .when(k_int % 5 == 1, "paid")
        .when(k_int % 5 == 2, "email")
        .when(k_int % 5 == 3, "social")
        .otherwise("direct")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("ck"),
        "user_id",
        F.col("ts").alias("cts"),
        channel.alias("channel"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pk"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    touches = purchases.join(
        clicks,
        (clicks.user_id == purchases.user_id)
        & (F.col("cts") < F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 3 DAY")),
    ).select("pk", "value", "channel", "cts", "ck")
    w_first = Window.partitionBy("pk").orderBy("cts", "ck")
    w_last = Window.partitionBy("pk").orderBy(F.desc("cts"), F.desc("ck"))
    ranked = touches.withColumn("rn_first", F.row_number().over(w_first)).withColumn(
        "rn_last", F.row_number().over(w_last)
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        ranked.groupBy("channel")
        .agg(
            F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.sum(
                F.when(F.col("rn_first") == 1, dec("value", 18, 2)).otherwise(zero)
            )
            .cast("double")
            .alias("first_touch_revenue"),
            F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_last"),
            F.sum(
                F.when(F.col("rn_last") == 1, dec("value", 18, 2)).otherwise(zero)
            )
            .cast("double")
            .alias("last_touch_revenue"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q_markov_transitions — next-event transition matrix
# ---------------------------------------------------------------------------


@register(
    "q_markov_transitions",
    oracle="""
        WITH t AS (
            SELECT event_type AS src,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst
            FROM events
        ),
        c AS (
            SELECT src, dst, COUNT(*) AS n
            FROM t WHERE dst IS NOT NULL
            GROUP BY src, dst
        )
        SELECT src, dst, n,
               ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 4)
                   AS p
        FROM c
        ORDER BY src, dst
    """,
    tags=("analytics", "window", "agg"),
)
def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of the user event stream:
    for each ordered pair (src → dst) of consecutive events within a
    user's timeline, the transition count and the row-normalized
    probability — the model behind next-action prediction, journey
    Sankey diagrams, and anomalous-flow detection.

    One window (lead over the user timeline — the same hash partition
    a sessionize needs), one hash aggregate on the 5×5 state space,
    and one tiny window to normalize rows. Determinism: counts are
    integers; p is a single double division of two exact integers,
    rounded identically in both engines. 100 TB: the only full-fact
    shuffle is the per-user window; the transition matrix itself is
    |states|² rows — the aggregate combines map-side to almost
    nothing.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = t.groupBy("src", "dst").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("src")
    return c.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wsrc), 4).alias("p"),
    ).orderBy("src", "dst")


# ---------------------------------------------------------------------------
# q_ab_ztest — two-proportion experiment readout
# ---------------------------------------------------------------------------

# arm = md5-bucket parity of the exposure key (reuses the deterministic
# [0,255] hash bucket the sampling wave established). The exposure unit
# is the EVENT (impression-grain experiment): user-grain conversion
# saturates to 100% on the small-sf fixtures (every user eventually
# purchases), which degenerates the pooled variance to 0 — event-grain
# conversion (~20% purchases) is well-conditioned at every sf.
def ab_arm(duck: bool = False) -> str:
    """The 0/1 experiment arm of an event (q_ab_ztest, q_effect_size)."""
    key = "'e' || CAST(event_id AS STRING)"
    return f"{md5_int(key, 1, 2, duck=duck)} % 2"


@register(
    "q_ab_ztest",
    oracle=f"""
        WITH armed AS (
            SELECT {ab_arm(duck=True)} AS arm,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events
        ),
        s AS (
            SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                   SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                   SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS conv_a,
                   SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS conv_b
            FROM armed
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(conv_a AS BIGINT) AS conv_a,
               CAST(conv_b AS BIGINT) AS conv_b,
               CASE WHEN n_a > 0
                    THEN ROUND(CAST(conv_a AS DOUBLE) / n_a, 4) END AS rate_a,
               CASE WHEN n_b > 0
                    THEN ROUND(CAST(conv_b AS DOUBLE) / n_b, 4) END AS rate_b,
               CASE WHEN n_a > 0 AND n_b > 0
                         AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
                    THEN ROUND((CAST(conv_a AS DOUBLE) / n_a
                                - CAST(conv_b AS DOUBLE) / n_b)
                               / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                                      * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                               / (n_a + n_b))
                                      * (1.0 / n_a + 1.0 / n_b)), 4)
                    ELSE NULL END AS z
        FROM s
    """,
    tags=("analytics", "agg"),
)
def q_ab_ztest(spark, sf_dir):
    """A/B experiment readout: exposures (events) are hash-assigned to
    two arms by md5-bucket parity — the same deterministic [0,255]
    bucket the sampling wave uses, so assignment is reproducible and
    partition-independent — success is "the event is a purchase", and
    the output is the standard two-proportion pooled z statistic.

    Determinism: arm counts and successes are exact integers; every
    rate and the z statistic is a fixed sequence of IEEE double ops on
    those integers, identical in both engines, rounded once at the
    end. The z is NULL-guarded for the degenerate pools (0% / 100%)
    where its variance term is 0 — ANSI mode makes the unguarded
    division an ERROR, not an inf, so the guard is load-bearing.
    100 TB: one scan, one global partial+final aggregate of 4
    counters; the z arithmetic runs on one row.
    """
    ev = load(spark, sf_dir, "events")
    armed = ev.select(
        F.expr(ab_arm()).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    s = armed.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    # Every division involving an arm count is gated on that count
    # being > 0: an empty arm (possible only on degenerate inputs,
    # but unguarded) is a hard divide-by-zero ERROR under ANSI mode,
    # not a NULL — the same lesson the z guard below already encodes.
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    conv_t = F.col("conv_a") + F.col("conv_b")
    n_t = F.col("n_a") + F.col("n_b")
    pp = conv_t.cast("double") / n_t
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (conv_t > 0) & (conv_t < n_t),
        F.round(
            (ra - rb)
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            ),
            4,
        ),
    ).alias("z")
    return s.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.when(F.col("n_a") > 0, F.round(ra, 4)).alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(rb, 4)).alias("rate_b"),
        z,
    )


# ---------------------------------------------------------------------------
# q_regr_fit — least-squares fit from exact sufficient statistics
# ---------------------------------------------------------------------------


@register(
    "q_regr_fit",
    oracle="""
        WITH pts AS (
            SELECT event_type,
                   CAST(props->>'$.k' AS BIGINT) AS x,
                   CAST(value AS DECIMAL(12,2)) AS y
            FROM events
        ),
        m AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   SUM(x) AS sx,
                   SUM(x * x) AS sxx,
                   SUM(y) AS sy,
                   SUM(CAST(x AS DECIMAL(10,0)) * y) AS sxy,
                   SUM(y * y) AS syy
            FROM pts GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
               ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS intercept,
               ROUND(POW(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
        FROM m
        ORDER BY event_type
    """,
    tags=("analytics", "agg", "ml"),
)
def q_regr_fit(spark, sf_dir):
    """Least-squares linear fit (slope / intercept / R²) of value
    against the JSON k field, per event type — the regr_slope /
    regr_intercept / regr_r2 SQL aggregate family, but computed from
    EXACT decimal sufficient statistics (n, Σx, Σx², Σy, Σxy, Σy²)
    the way q_corr_matrix established: the five moments are
    order-independent decimals, every division/square runs on
    bit-identical doubles in both engines, and the result is rounded
    once. The built-in regr_* aggregates fold doubles in partial
    aggregation order and cannot hash-match across engines — the
    moment route is how a warehouse gets regression that is both
    distributed AND reproducible.

    100 TB: ONE scan into a 6-accumulator hash agg (map-side
    combined); the fit arithmetic runs on |types| rows. The same
    sufficient-statistics shape extends to multiple regressors as the
    normal-equations fit in rc/readout.py — this is its 1-D scalar
    twin on the relational surface.
    """
    from flink_rc_spark.functions.exact import dec

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("x"),
        dec("value", 12, 2).alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # Moments go to DOUBLE *before* the n*moment products: bigint n ×
    # wide-decimal sxy would widen past decimal(38) at large row
    # counts and ANSI mode turns that into a runtime overflow error.
    # The exact decimal moments convert to double identically in both
    # engines, so the subsequent IEEE op sequence still hash-matches.
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    syy_d = F.col("syy").cast("double")
    num = n_d * sxy_d - sx_d * sy_d
    den = n_d * sxx_d - sx_d * sx_d
    deny = n_d * syy_d - sy_d * sy_d
    intercept_num = sy_d * sxx_d - sx_d * sxy_d
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(num / den, 6).alias("slope"),
        F.round(intercept_num / den, 6).alias("intercept"),
        F.round(F.pow(num, 2) / (den * deny), 6).alias("r2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q_cep_pattern — MATCH_RECOGNIZE-style complex event processing
# ---------------------------------------------------------------------------


@register(
    "q_cep_pattern",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id, ts, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        runs AS (
            -- gaps-and-islands: rn minus the per-type row number is
            -- constant across a maximal same-type run
            SELECT user_id, event_id, ts, rn,
                   rn - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                           ORDER BY rn) AS grp
            FROM seq WHERE event_type = 'view'
        ),
        islands AS (
            SELECT user_id, grp,
                   CAST(COUNT(*) AS BIGINT) AS n_views,
                   MIN(event_id) AS first_view_id,
                   MIN(ts) AS first_view_ts,
                   MAX(rn) AS last_rn
            FROM runs GROUP BY user_id, grp
        )
        SELECT i.user_id AS user_id, i.first_view_id, i.n_views,
               s.event_id AS click_id,
               CAST(epoch_us(s.ts) - epoch_us(i.first_view_ts)
                    AS BIGINT) AS span_us
        FROM islands i
        JOIN seq s ON s.user_id = i.user_id AND s.rn = i.last_rn + 1
        WHERE s.event_type = 'click'
        ORDER BY i.user_id, first_view_id
    """,
    tags=("analytics", "window", "cep"),
)
def q_cep_pattern(spark, sf_dir):
    """COMPLEX EVENT PROCESSING — the SQL MATCH_RECOGNIZE / Flink-CEP
    pattern `V+ C` with greedy quantifier and AFTER MATCH SKIP PAST
    LAST ROW semantics: every MAXIMAL run of consecutive 'view'
    events (per user, event-time order, ties broken by event_id)
    whose IMMEDIATELY NEXT event is a 'click'. Per match: the run's
    first event id, the view count (the V+ quantifier's measure), the
    closing click id, and the exact first-view-to-click span in
    microseconds (integer epoch arithmetic — no float time math).

    Spark has no MATCH_RECOGNIZE; the rewrite is the gaps-and-islands
    decomposition CEP engines compile contiguous quantifiers into:
    one per-user sequence numbering, islands = rn minus per-type rank
    (constant within a maximal same-type run), and the pattern's
    closing literal becomes an equi-join on (user_id, rn + 1). The
    DuckDB oracle spells the identical decomposition, so match sets,
    measures, and spans hash-match exactly.

    100 TB: two windows over the SAME (user_id)-hash partitioning
    (one exchange, reused) + a self-equi-join on (user_id, rn) — the
    sequence-number join CEP state machines become in batch. Per-task
    memory is bounded by per-user event volume (the sessionize
    bound); no cross-user state exists by construction.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("rn", F.row_number().over(w_seq))
    w_type = Window.partitionBy("user_id", "event_type").orderBy("rn")
    runs = (
        seq.filter(F.col("event_type") == "view")
        .withColumn("grp", F.col("rn") - F.row_number().over(w_type))
    )
    islands = runs.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("n_views"),
        F.min("event_id").alias("first_view_id"),
        F.min("ts").alias("first_view_ts"),
        F.max("rn").alias("last_rn"),
    )
    nxt = seq.select(
        F.col("user_id").alias("n_user"),
        F.col("rn").alias("nrn"),
        F.col("event_id").alias("click_id"),
        F.col("event_type").alias("ntype"),
        F.col("ts").alias("nts"),
    )
    return (
        islands.join(
            nxt,
            (F.col("n_user") == F.col("user_id"))
            & (F.col("nrn") == F.col("last_rn") + 1)
            & (F.col("ntype") == "click"),
        )
        .select(
            "user_id",
            "first_view_id",
            "n_views",
            "click_id",
            (F.unix_micros("nts") - F.unix_micros("first_view_ts"))
            .cast("bigint")
            .alias("span_us"),
        )
        .orderBy("user_id", "first_view_id")
    )


@register(
    "q_funnel_windowed",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
              AND e.ts <= s1.t1 + INTERVAL 24 HOUR
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e
            JOIN s2 ON e.user_id = s2.user_id
            JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              AND e.ts <= s1.t1 + INTERVAL 24 HOUR
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS users_total,
               (SELECT COUNT(*) FROM s1) AS reached_view,
               (SELECT COUNT(*) FROM s2) AS reached_click_24h,
               (SELECT COUNT(*) FROM s3) AS reached_purchase_24h
    """,
    tags=("analytics", "agg", "hof"),
)
def q_funnel_windowed(spark, sf_dir):
    """WINDOWED funnel (the windowFunnel semantics): view → click →
    purchase in strict order, with every later step required to land
    within 24 HOURS of the user's first view — the conversion-window
    variant product teams actually report (q_funnel_steps is the
    unbounded-horizon twin).

    Same one-scan HOF fold as q_funnel_steps — the deadline is just
    one more predicate inside each step's filter lambda — while the
    oracle pays the textbook k-pass CTE chain; the driver hash proves
    the single-pass rewrite under the window constraint.

    Plan: ONE events scan, one user_id shuffle, per-user journey
    folded in array HOFs (JVM codegen), 4 global counters.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    j = (
        per_user.withColumn(
            "t1",
            F.expr(
                "array_min(transform(filter(evs, x -> x.event_type = 'view'),"
                " x -> x.ts))"
            ),
        )
        .withColumn("deadline", F.expr("t1 + INTERVAL 24 HOUR"))
        .withColumn(
            "t2",
            F.expr(
                "array_min(transform(filter(evs, x -> x.event_type = 'click'"
                " AND t1 IS NOT NULL AND x.ts > t1 AND x.ts <= deadline),"
                " x -> x.ts))"
            ),
        )
        .withColumn(
            "t3",
            F.expr(
                "array_min(transform(filter(evs, x -> x.event_type = 'purchase'"
                " AND t2 IS NOT NULL AND x.ts > t2 AND x.ts <= deadline),"
                " x -> x.ts))"
            ),
        )
    )
    return j.agg(
        F.count("*").alias("users_total"),
        F.count("t1").alias("reached_view"),
        F.count("t2").alias("reached_click_24h"),
        F.count("t3").alias("reached_purchase_24h"),
    )


@register(
    "q_itemsets_apriori",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ), vocab AS (
            SELECT w FROM (
                SELECT w, COUNT(*) AS c,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
                FROM tok GROUP BY w
            ) WHERE rn <= 40
        ), incidence AS (
            SELECT DISTINCT t.doc_id, t.w
            FROM tok t JOIN vocab v ON t.w = v.w
        )
        SELECT a.w AS w1, b.w AS w2, c.w AS w3,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM incidence a
        JOIN incidence b ON a.doc_id = b.doc_id AND a.w < b.w
        JOIN incidence c ON b.doc_id = c.doc_id AND b.w < c.w
        GROUP BY a.w, b.w, c.w
        HAVING COUNT(*) >= 5
        ORDER BY support DESC, w1, w2, w3
        LIMIT 20
    """,
    tags=("analytics", "join", "agg", "llm"),
)
def q_itemsets_apriori(spark, sf_dir):
    """Frequent TRIPLES (the 3-itemset tier of the Apriori lattice,
    Agrawal–Srikant 1994) over document token sets, mined on the
    top-40 corpus vocabulary (the q_cooccur_pmi restriction — PMI is
    this lattice's 2-itemset tier scored; this key climbs one level)
    with document-support ≥ 5, ranked by support.

    The vocabulary restriction IS the scale control: per-document
    fan-out is C(k,3) in the count k of VOCABULARY words the document
    contains (≤ 40 by construction, independent of corpus size or
    document length) — unlike an absolute top-N over a growing item
    catalog, whose per-basket hit rate decays with scale (a first cut
    on the co-purchase catalog returned 0 rows at sf0.1 for exactly
    that reason; recorded in BASELINE.md).

    Plan: tokenize scan → 40-row vocabulary broadcast → distinct
    incidence (map-side combined) → 3-way self-equi-join on doc_id →
    hash agg on ≤ C(40,3) keys → TakeOrdered(20). Support counts
    exact, output total-ordered.
    """
    docs = load(spark, sf_dir, "documents")
    # tok feeds BOTH the vocabulary count and the incidence join — the
    # r12 plan tokenized documents twice (the duplicate scan the fixed
    # r13 audit regex exposed; ADVICE r12 item 1). Materialize the
    # token stream once: measured A/B at sf0.1 in OPTIMIZATION_r13.md.
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).transform(checkpoint, eager=True)
    # top-40 via orderBy().limit() — Spark's TakeOrderedAndProject
    # (per-partition top-40 + driver merge), not a single-partition
    # row_number window over the full distinct vocabulary
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(40)
        .select("w")
    )
    # Triple enumeration as an Arrow kernel with IN-KERNEL partial
    # aggregation (guide §4.2 / §2.3), replacing the 3-way self-join:
    # the join shape shuffled the incidence three times and then
    # streamed every C(k,3) combination (~77M rows at sf0.1) through
    # two join probes + a hash aggregate, all row-at-a-time. Here each
    # doc becomes ONE row (its <= 40 sorted vocabulary words), the
    # kernel gathers combination index triples (cached per k), encodes
    # them as codes into the <= 40-word batch vocabulary (codes are
    # string-rank-ordered, so i<j<l IS w1<w2<w3 — UTF-8 byte order ==
    # codepoint order, the engines' binary compare), and accumulates
    # ONE bincount per batch — so only <= C(40,3) partial-count rows
    # per task ever reach the final shuffle. Counting is pure integer
    # arithmetic: results identical, verified by the oracle hash.
    incidence = tok.join(F.broadcast(vocab), "w").select("doc_id", "w").distinct()
    return (
        vocab_triple_counts(spark, incidence)
        .filter(F.col("support") >= 5)
        .orderBy(F.desc("support"), "w1", "w2", "w3")
        .limit(20)
    )


def vocab_triple_counts(spark, incidence):
    """(doc_id, w) incidence over a bounded vocabulary -> exact
    (w1 < w2 < w3, support) triple counts via the Arrow kernel —
    factored out of q_itemsets_apriori so the kernel-vs-join equality
    test can compare the FULL triple set, not just the key's top-20."""
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    per_doc = (
        incidence.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("ws")
    )

    def _triple_counts(batches):
        import numpy as np
        import pandas as pd

        comb_cache: dict = {}

        def combs(k: int):
            tri = comb_cache.get(k)
            if tri is None:
                idx = np.arange(k)
                i, j, l = np.meshgrid(idx, idx, idx, indexing="ij")
                keep = (i < j) & (j < l)
                tri = (i[keep], j[keep], l[keep])
                comb_cache[k] = tri
            return tri

        for pdf in batches:
            if not len(pdf):
                continue
            # batch vocabulary: <= 40 distinct strings by construction
            uniq = np.unique(np.concatenate([np.asarray(w) for w in pdf["ws"]]))
            nv = len(uniq)
            acc = np.zeros(nv * nv * nv, dtype=np.int64)
            for w in pdf["ws"]:
                codes = np.searchsorted(uniq, np.asarray(w))
                k = len(codes)
                if k < 3:
                    continue
                i, j, l = combs(k)
                acc += np.bincount(
                    (codes[i] * nv + codes[j]) * nv + codes[l],
                    minlength=nv * nv * nv,
                )
            hit = np.nonzero(acc)[0]
            if len(hit):
                yield pd.DataFrame(
                    {
                        "w1": uniq[hit // (nv * nv)],
                        "w2": uniq[(hit // nv) % nv],
                        "w3": uniq[hit % nv],
                        "cnt": acc[hit],
                    }
                )

    partial = per_doc.mapInPandas(
        _triple_counts, "w1 string, w2 string, w3 string, cnt long"
    )
    return partial.groupBy("w1", "w2", "w3").agg(
        F.sum("cnt").cast("long").alias("support")
    )


@register(
    "q_seq_mining",
    oracle="""
        WITH first_occ AS (
            SELECT user_id, event_type AS t, MIN(ts) AS ft
            FROM events GROUP BY user_id, event_type
        )
        SELECT a.t AS t1, b.t AS t2, c.t AS t3,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM first_occ a
        JOIN first_occ b ON a.user_id = b.user_id AND a.ft < b.ft
        JOIN first_occ c ON b.user_id = c.user_id AND b.ft < c.ft
        GROUP BY a.t, b.t, c.t
        HAVING COUNT(*) >= 5
        ORDER BY n_users DESC, t1, t2, t3
    """,
    tags=("analytics", "join", "agg"),
)
def q_seq_mining(spark, sf_dir):
    """SEQUENTIAL pattern mining (the funnel-DISCOVERY primitive —
    which ordered journeys are common, before anyone hand-picks a
    funnel): for every ordered type triple (t1 → t2 → t3), count
    users whose FIRST occurrences respect that strict time order;
    support ≥ 5 users. The first-occurrence projection is what makes
    this the bounded tier of PrefixSpan: each user contributes one
    row per event TYPE (≤ |types| = 5), so the 3-way join fans out
    at most P(5,3) = 60 combinations per user regardless of event
    volume — the q_itemsets_apriori lesson applied to sequences.

    Plan: one groupBy to the (user, type, first_ts) frame (map-side
    combined over the raw events), a user-keyed 3-way self-join on
    that ≤ 5-rows-per-user frame, hash agg on ≤ 60 keys. All
    timestamps compared exactly; counts exact.
    """
    ev = load(spark, sf_dir, "events")
    fo = ev.groupBy("user_id", F.col("event_type").alias("t")).agg(
        F.min("ts").alias("ft")
    )
    a = fo.select("user_id", F.col("t").alias("t1"), F.col("ft").alias("fa"))
    b = fo.select("user_id", F.col("t").alias("t2"), F.col("ft").alias("fb"))
    c = fo.select("user_id", F.col("t").alias("t3"), F.col("ft").alias("fc"))
    return (
        a.join(b, "user_id")
        .filter(F.col("fa") < F.col("fb"))
        .join(c, "user_id")
        .filter(F.col("fb") < F.col("fc"))
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= 5)
        .orderBy(F.desc("n_users"), "t1", "t2", "t3")
    )


@register(
    "q_cohort_ltv",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   date_diff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', MIN(ts)) AS DATE)) // 7
                     AS cohort_week
            FROM events GROUP BY user_id
        ), cohort_size AS (
            SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM firsts GROUP BY cohort_week
        ), spend AS (
            SELECT f.cohort_week,
                   date_diff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', e.ts) AS DATE)) // 7
                     - f.cohort_week AS week_offset,
                   CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM events e
            JOIN firsts f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY f.cohort_week, week_offset
        ), cum AS (
            SELECT cohort_week, week_offset,
                   CAST(SUM(cents) OVER (PARTITION BY cohort_week
                                         ORDER BY week_offset) AS BIGINT)
                     AS cum_cents
            FROM spend
        )
        SELECT c.cohort_week, c.week_offset, s.n_users, c.cum_cents,
               (c.cum_cents * 10000) // s.n_users AS ltv_micro
        FROM cum c JOIN cohort_size s ON c.cohort_week = s.cohort_week
        WHERE c.week_offset >= 0
    """,
    tags=("analytics", "window", "agg"),
)
def q_cohort_ltv(spark, sf_dir):
    """Cohort LTV curve — the revenue companion to q_retention_cohort:
    users cohort by first-event week (epoch-day div 7, engine-neutral
    like q_ts_decompose), purchase revenue accumulates per cohort
    across week offsets, and LTV per user is the cumulative cents
    floor-quantized micro. The curve every growth team plots.

    Plan: first-event groupBy (one user-keyed agg), cohort join back
    (same user_id partitioning), weekly rollup crushes cardinality to
    |cohorts|×|offsets| before the cumulative window (partitioned by
    cohort, tiny). All integer/decimal exact.
    """
    ev = load(spark, sf_dir, "events")
    wk = lambda col: F.expr(
        f"datediff(CAST(date_trunc('day', {col}) AS DATE),"
        " DATE '1970-01-01') div 7"
    )
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("fts")).select(
        "user_id", wk("fts").alias("cohort_week")
    )
    cohort_size = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("n_users")
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (wk("ts") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = spend.select(
        "cohort_week",
        "week_offset",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )
    return (
        cum.join(F.broadcast(cohort_size), "cohort_week")
        .filter(F.col("week_offset") >= 0)
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "cum_cents",
            F.expr("(cum_cents * 10000) div n_users").alias("ltv_micro"),
        )
    )


@register(
    "q_ab_cuped",
    oracle="""
        WITH bounds AS (
            SELECT date_diff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', MIN(ts)) AS DATE))
                   + (date_diff('day', DATE '1970-01-01',
                                CAST(date_trunc('day', MAX(ts)) AS DATE))
                      - date_diff('day', DATE '1970-01-01',
                                  CAST(date_trunc('day', MIN(ts)) AS DATE)))
                     // 2 AS mid_day
            FROM events
        ), per_user AS (
            SELECT e.user_id,
                   CAST(SUM(CASE WHEN date_diff('day', DATE '1970-01-01',
                                     CAST(date_trunc('day', e.ts) AS DATE))
                                     <= b.mid_day
                                 THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100
                                           AS BIGINT) ELSE 0 END)
                        // 100 AS BIGINT) AS pre_d,
                   CAST(SUM(CASE WHEN date_diff('day', DATE '1970-01-01',
                                     CAST(date_trunc('day', e.ts) AS DATE))
                                     > b.mid_day
                                 THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100
                                           AS BIGINT) ELSE 0 END)
                        // 100 AS BIGINT) AS post_d
            FROM events e CROSS JOIN bounds b
            GROUP BY e.user_id
        ), mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pre_d) AS BIGINT) AS sx,
                   CAST(SUM(post_d) AS BIGINT) AS sy,
                   CAST(SUM(pre_d * pre_d) AS BIGINT) AS sxx,
                   CAST(SUM(pre_d * post_d) AS BIGINT) AS sxy,
                   CAST(SUM(post_d * post_d) AS BIGINT) AS syy
            FROM per_user
        )
        SELECT n,
               CAST(n * sxx - sx * sx AS BIGINT) AS var_pre_n2,
               CAST(n * sxy - sx * sy AS BIGINT) AS cov_n2,
               CAST(n * syy - sy * sy AS BIGINT) AS var_post_n2,
               CAST((CAST(n * sxy - sx * sy AS HUGEINT) * 1000000
                     + 1000000000 * CAST(n * sxx - sx * sx AS HUGEINT))
                    // CAST(n * sxx - sx * sx AS HUGEINT)
                    - 1000000000 AS BIGINT) AS theta_micro,
               CAST((CAST(n * sxy - sx * sy AS HUGEINT)
                     * CAST(n * sxy - sx * sy AS HUGEINT) * 1000000)
                    // (CAST(n * sxx - sx * sx AS HUGEINT)
                       * CAST(n * syy - sy * sy AS HUGEINT))
                    AS BIGINT) AS var_reduction_micro
        FROM mom
    """,
    tags=("analytics", "stats", "agg"),
)
def q_ab_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al., WSDM 2013) — the
    experimentation-platform technique that shrinks A/B metric
    variance using each user's PRE-period behavior as a control
    covariate: θ = cov(pre, post)/var(pre), and the achievable
    variance reduction is ρ² = cov²/(var_pre·var_post).

    The pre/post split is the data-derived midpoint day (exact
    integer epoch-day arithmetic); per-user sums floor to whole
    DOLLARS (the defined metric unit — keeps every n²-multiplied
    moment inside 38-digit headroom at sf100). All moments are the
    exact integer n·Σxy − Σx·Σy form (the q_ts_acf idiom); θ uses
    the signed exact-floor shift (K = 1e9 bounds |θ_micro|), ρ² is a
    positive exact rational floor-quantized micro.

    Documented precondition (the theta_micro-style bound): ρ² squares
    cov_n2 inside DECIMAL(38,0)/HUGEINT, so var_reduction_micro is
    exact only while |cov_n2| ≤ ~1.2e16 (cov_n2² × 1e6 < 10³⁸).
    Dollar-floored per-user sums keep sf100 well inside that (the
    moments themselves bound at ~1e13); past it Spark (non-ANSI)
    would NULL silently while DuckDB errors — re-quantize the metric
    unit (cents→dollars→k$) before that scale, do not widen the type.

    Plan: one scan → one user-keyed agg (the midpoint is ONE
    broadcast row) → single-row moment reduce. The whole CUPED fit —
    the thing platforms run per-metric per-experiment — costs one
    shuffle.
    """
    ev = load(spark, sf_dir, "events")
    day = F.expr("datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01')")
    bounds = ev.agg(
        F.expr(
            "min(datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01'))"
            " + (max(datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01'))"
            " - min(datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01')))"
            " div 2"
        ).alias("mid_day")
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN datediff(CAST(date_trunc('day', ts) AS DATE),"
                " DATE '1970-01-01') <= mid_day THEN"
                " CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " ELSE 0 END) div 100 AS BIGINT)"
            ).alias("pre_d"),
            F.expr(
                "CAST(SUM(CASE WHEN datediff(CAST(date_trunc('day', ts) AS DATE),"
                " DATE '1970-01-01') > mid_day THEN"
                " CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " ELSE 0 END) div 100 AS BIGINT)"
            ).alias("post_d"),
        )
    )
    mom = per_user.agg(
        F.count("*").alias("n"),
        F.sum("pre_d").alias("sx"),
        F.sum("post_d").alias("sy"),
        F.sum(F.col("pre_d") * F.col("pre_d")).alias("sxx"),
        F.sum(F.col("pre_d") * F.col("post_d")).alias("sxy"),
        F.sum(F.col("post_d") * F.col("post_d")).alias("syy"),
    )
    return mom.select(
        "n",
        F.expr("CAST(n * sxx - sx * sx AS BIGINT)").alias("var_pre_n2"),
        F.expr("CAST(n * sxy - sx * sy AS BIGINT)").alias("cov_n2"),
        F.expr("CAST(n * syy - sy * sy AS BIGINT)").alias("var_post_n2"),
        F.expr(
            "CAST((CAST(n * sxy - sx * sy AS DECIMAL(38,0)) * 1000000"
            " + CAST(1000000000 AS DECIMAL(38,0)) * (n * sxx - sx * sx))"
            " div (n * sxx - sx * sx) - 1000000000 AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            "CAST((CAST(n * sxy - sx * sy AS DECIMAL(19,0))"
            " * CAST(n * sxy - sx * sy AS DECIMAL(19,0)) * 1000000)"
            " div (CAST(n * sxx - sx * sx AS DECIMAL(19,0))"
            " * (n * syy - sy * sy)) AS BIGINT)"
        ).alias("var_reduction_micro"),
    )


# ---------------------------------------------------------------------------
# q_attribution_markov — removal-effect (Markov-chain) attribution
# ---------------------------------------------------------------------------

_MKV_ROUNDS = 12
_MKV_CHANNELS = ("click", "error", "signup", "view")


def _mkv_transitions_cte() -> str:
    """DuckDB CTE text: user journeys truncated at the first purchase,
    transitions (from_s, to_s) with 'start'/'conv'/'null' endpoints,
    expanded to the 5 chain variants (base + one per removed channel:
    transitions INTO the removed channel redirect to 'null'), with
    per-(variant, from) floor-quantized probabilities."""
    variants = ", ".join(
        f"('rm_{c}')" for c in _MKV_CHANNELS
    )
    return f"""
        fp AS (
            SELECT user_id, ts AS fts, event_id AS fid FROM (
                SELECT user_id, ts, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE event_type = 'purchase'
            ) WHERE rn = 1
        ),
        kept AS (
            SELECT e.user_id, e.ts, e.event_id, e.event_type
            FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
            WHERE fp.fts IS NULL OR e.ts < fp.fts
               OR (e.ts = fp.fts AND e.event_id <= fp.fid)
        ),
        seq AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
            FROM kept
        ),
        trans_raw AS (
            SELECT 'start' AS from_s,
                   CASE WHEN event_type = 'purchase' THEN 'conv'
                        ELSE event_type END AS to_s
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT event_type,
                   CASE WHEN nxt = 'purchase' THEN 'conv'
                        WHEN nxt IS NULL THEN 'null' ELSE nxt END
            FROM seq WHERE event_type <> 'purchase'
        ),
        tcnt AS (
            SELECT from_s, to_s, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM trans_raw GROUP BY from_s, to_s
        ),
        vnames AS (SELECT 'base' AS variant UNION ALL
                   SELECT * FROM (VALUES {variants}) v(variant)),
        vtrans AS (
            SELECT v.variant, t.from_s,
                   CASE WHEN v.variant <> 'base'
                         AND t.to_s = substr(v.variant, 4) THEN 'null'
                        ELSE t.to_s END AS to_s,
                   CAST(SUM(t.cnt) AS BIGINT) AS cnt
            FROM tcnt t CROSS JOIN vnames v
            WHERE NOT (v.variant <> 'base'
                       AND t.from_s = substr(v.variant, 4))
            GROUP BY 1, 2, 3
        ),
        probs AS (
            SELECT variant, from_s, to_s,
                   (cnt * 1000000)
                     // CAST(SUM(cnt) OVER (PARTITION BY variant, from_s)
                             AS BIGINT) AS p_micro
            FROM vtrans
        )"""


def _mkv_round_sql(r: int) -> str:
    """One integer fixed-point value-iteration round as DuckDB CTE:
    v_r(s) = (p(s,conv)·1e6 + Σ p(s,t)·v_{r-1}(t)) div 1e6."""
    return f"""
        v{r} AS MATERIALIZED (
            SELECT p.variant, p.from_s AS s,
                   CAST((CAST(SUM(CASE WHEN p.to_s = 'conv'
                                       THEN p.p_micro * 1000000
                                       WHEN p.to_s IN ('null')
                                       THEN 0
                                       ELSE p.p_micro * COALESCE(v.val, 0)
                                  END) AS BIGINT)) // 1000000 AS BIGINT)
                     AS val
            FROM probs p
            LEFT JOIN v{r - 1} v
              ON v.variant = p.variant AND v.s = p.to_s
            GROUP BY p.variant, p.from_s
        )"""


def _mkv_transition_counts(spark, sf_dir):
    """The data-touching stage of q_attribution_markov (its stage split
    is in BASELINE.md, "r9: the last two weak plans, measured dead"):
    journey transitions (from_s, to_s, cnt) for journeys truncated at
    the first purchase. ONE window exchange on user_id carries
    row_number, lead, AND a running prior-purchase count (same
    partition + order ⇒ one sort); a row is kept iff no purchase
    precedes it. Each kept row then emits its ≤ 2 transitions (journey
    start at rn=1; step out of a non-purchase state — the full-order
    lead IS the kept successor by the prefix property) in one
    compacted-array explode pass, so the window subtree is read once,
    not twice."""
    ev = load(spark, sf_dir, "events")
    wuser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wprior = wuser.rowsBetween(Window.unboundedPreceding, -1)
    is_purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    seq = ev.select(
        "event_type",
        F.row_number().over(wuser).alias("rn"),
        F.lead("event_type").over(wuser).alias("nxt"),
        F.coalesce(F.sum(is_purch).over(wprior), F.lit(0)).alias(
            "n_prior_purch"
        ),
    ).filter(F.col("n_prior_purch") == 0)
    start_tr = F.when(
        F.col("rn") == 1,
        F.struct(
            F.lit("start").alias("from_s"),
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("to_s"),
        ),
    )
    step_tr = F.when(
        F.col("event_type") != "purchase",
        F.struct(
            F.col("event_type").alias("from_s"),
            F.when(F.col("nxt") == "purchase", "conv")
            .when(F.col("nxt").isNull(), "null")
            .otherwise(F.col("nxt"))
            .alias("to_s"),
        ),
    )
    return (
        seq.select(
            F.explode(F.array_compact(F.array(start_tr, step_tr))).alias(
                "tr"
            )
        )
        .select("tr.from_s", "tr.to_s")
        .groupBy("from_s", "to_s")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q_attribution_markov",
    oracle=None,  # replaced below — assembled from the CTE helpers
    tags=("analytics", "graph", "iterative"),
)
def q_attribution_markov(spark, sf_dir):
    """REMOVAL-EFFECT (Markov-chain) attribution (Anderl et al. 2014)
    — the model-based alternative to q_attribution's first/last-touch
    heuristics: user journeys (truncated at first purchase) define a
    start → channels → conv/null chain; a channel's credit is how
    much the absorption probability DROPS when the channel is removed
    (its inbound edges redirect to null), normalized into shares.

    Integer fixed-point end-to-end (the q_kmeans/PageRank protocol):
    transition probabilities floor-quantize to micro; absorption
    probabilities run {_MKV_ROUNDS} value-iteration rounds of
    v(s) = (p(s,conv)·1e6 + Σ p(s,t)·v(t)) div 1e6 — every iterate an
    identical integer in both engines, so the 12th-round vector IS
    the defined statistic. All 5 chain variants (base + 4 removals)
    iterate TOGETHER as one (variant, state)-keyed frame — one plan,
    not 5 chains.

    Plan (r9 rework — the r8 verdict demanded a stage split and
    exchange reuse): ONE window exchange on user_id carries ALL the
    data-touching work — row_number, lead, and a running
    prior-purchase count share the same (partition, order), so the
    old shape's second window over the purchases subset AND the
    broadcast first-purchase join disappear: a row is "kept" (before
    or at the user's first purchase) iff no purchase precedes it in
    the user order. Start and step transitions then come out of ONE
    pass via a compacted-array explode instead of a union that read
    the window subtree twice. The ≤ 5 variants × 36-edge chain is
    model-sized, so the 12 exact-integer value-iteration rounds run
    driver-side (the q_kmeans centroid protocol — identical integers
    to the oracle's CTE rounds), replacing 12 tiny join+agg stage
    cascades with arithmetic on ~180 collected rows. At 100 TB only
    the single window + count rollup touches data.
    """
    tcnt = _mkv_transition_counts(spark, sf_dir)
    # ---- model-sized tail: the transition-count frame is ≤ ~36 rows
    # (6 from-states × 6 to-states), the audited collect() pattern —
    # variant expansion, floor-quantized probabilities, and the 12
    # value-iteration rounds run as exact Python-integer arithmetic,
    # bit-identical to the oracle's BIGINT CTE rounds (floor div on
    # non-negative ints == SQL // and Spark div). This replaces 12
    # tiny distributed join+agg stage cascades (~36 scheduled stages
    # of ≤ 180-row data) with driver math.
    counts = [(r["from_s"], r["to_s"], r["cnt"]) for r in tcnt.collect()]
    variants = ["base"] + [f"rm_{c}" for c in _MKV_CHANNELS]
    vcnt: dict = {}
    for variant in variants:
        rm = variant[3:] if variant != "base" else None
        for from_s, to_s, cnt in counts:
            if rm is not None and from_s == rm:
                continue
            t = "null" if (rm is not None and to_s == rm) else to_s
            vcnt[(variant, from_s, t)] = (
                vcnt.get((variant, from_s, t), 0) + cnt
            )
    tot: dict = {}
    for (variant, from_s, _t), c in vcnt.items():
        tot[(variant, from_s)] = tot.get((variant, from_s), 0) + c
    probs = {
        k: (c * 1_000_000) // tot[(k[0], k[1])] for k, c in vcnt.items()
    }
    out_edges: dict = {}
    for (variant, from_s, t), p in probs.items():
        out_edges.setdefault((variant, from_s), []).append((t, p))
    val: dict = {}
    for _ in range(_MKV_ROUNDS):
        nxt_val = {}
        for vs, edges in out_edges.items():
            variant = vs[0]
            acc = 0
            for t, p in edges:
                if t == "conv":
                    acc += p * 1_000_000
                elif t != "null":
                    acc += p * val.get((variant, t), 0)
            nxt_val[vs] = acc // 1_000_000
        val = nxt_val
    out_rows = []
    if ("base", "start") in val:
        base = val[("base", "start")]
        effs = [
            (c, val[(f"rm_{c}", "start")])
            for c in _MKV_CHANNELS
            if (f"rm_{c}", "start") in val
        ]
        tot_eff = sum(max(0, base - r) for _c, r in effs)
        for c, removed in effs:
            e = max(0, base - removed)
            share = (e * 1_000_000) // tot_eff if tot_eff > 0 else None
            out_rows.append((c, base, removed, e, share))
    return spark.createDataFrame(
        out_rows,
        "channel string, base_micro bigint, removed_micro bigint,"
        " effect_micro bigint, share_micro bigint",
    )


# assemble the full oracle from the helpers and register it
def _mkv_oracle() -> str:
    rounds = "".join("," + _mkv_round_sql(r) for r in range(1, _MKV_ROUNDS + 1))
    return f"""
        WITH {_mkv_transitions_cte()},
        v0 AS (SELECT variant, from_s AS s, CAST(NULL AS BIGINT) AS val
               FROM probs WHERE 1 = 0)
        {rounds},
        base AS (
            SELECT val AS base_micro FROM v{_MKV_ROUNDS}
            WHERE variant = 'base' AND s = 'start'
        ),
        eff AS (
            SELECT substr(variant, 4) AS channel,
                   b.base_micro, val AS removed_micro,
                   GREATEST(0, b.base_micro - val) AS effect_micro
            FROM v{_MKV_ROUNDS} CROSS JOIN base b
            WHERE variant <> 'base' AND s = 'start'
        )
        SELECT channel, base_micro, removed_micro, effect_micro,
               CASE WHEN CAST(SUM(effect_micro) OVER () AS BIGINT) > 0 THEN
                 CAST((effect_micro * 1000000)
                      // CAST(SUM(effect_micro) OVER () AS BIGINT)
                      AS BIGINT) END AS share_micro
        FROM eff
    """


from flink_rc_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["q_attribution_markov"].oracle = _mkv_oracle()


# ---------------------------------------------------------------------------
# q_time_to_convert — view→purchase latency percentiles across users
# ---------------------------------------------------------------------------


@register(
    "q_time_to_convert",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ), conv AS (
            SELECT e.user_id,
                   CAST(date_diff('microsecond', v.t_view, MIN(e.ts))
                        AS BIGINT) AS gap_us
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'purchase' AND e.ts > v.t_view
            GROUP BY e.user_id, v.t_view
        ), vals AS (
            SELECT gap_us, CAST(COUNT(*) AS BIGINT) AS n
            FROM conv GROUP BY gap_us
        ), cum AS (
            SELECT gap_us,
                   CAST(SUM(n) OVER (ORDER BY gap_us) AS BIGINT) AS cumn,
                   CAST(SUM(n) OVER () AS BIGINT) AS tot,
                   CAST(SUM(gap_us * n) OVER () AS BIGINT) AS total_us
            FROM vals
        )
        SELECT MAX(tot) AS n_converted,
               CAST(MIN(CASE WHEN 2 * cumn >= tot THEN gap_us END)
                    AS BIGINT) AS p50_us,
               CAST(MIN(CASE WHEN 10 * cumn >= 9 * tot THEN gap_us END)
                    AS BIGINT) AS p90_us,
               CAST(MAX(total_us) // MAX(tot) AS BIGINT) AS mean_us_floor
        FROM cum
    """,
    tags=("analytics", "funnel", "stats"),
)
def q_time_to_convert(spark, sf_dir):
    """TIME-TO-CONVERT distribution: per user, the exact microsecond
    gap from FIRST view to the first subsequent purchase; reported as
    the converted-user count with median / p90 / floor-mean latency —
    the funnel-velocity readout that tells a growth team whether
    conversion is an impulse (minutes) or a considered purchase
    (days), where q_funnel_steps only says IF users convert.

    Exactness: gaps are exact integer microseconds; percentiles use
    the lower-threshold pick over the DISTINCT-GAP frame
    (q_weighted_median discipline); the mean is floor-divided
    (DIV ≡ // on positives). No doubles.

    Plan at 100 TB: two (user_id)-keyed hash aggs share one exchange
    (min-view join min-purchase rides the same key); the percentile
    window runs over distinct gap values, never users.
    """
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_p")
    )
    conv = (
        p.join(v, "user_id")
        .filter(F.col("t_p") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("t_p").alias("t_first"))
        .select(
            (
                F.unix_micros("t_first") - F.unix_micros("t_view")
            ).alias("gap_us")
        )
    )
    vals = (
        conv.groupBy("gap_us")
        .agg(F.count("*").cast("bigint").alias("n"))
        .transform(checkpoint, eager=True)  # shared by totals + scan
    )
    # cumulative count via the two-phase range-bucketed scan (no
    # single-partition window over the distinct-gap frame, which
    # grows with converted users); grand totals are a 1-row broadcast
    from flink_rc_spark.operators.windows import global_scan_salted

    totals = vals.agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.sum(F.col("gap_us") * F.col("n")).cast("bigint").alias("total_us"),
    )
    cum = global_scan_salted(
        vals,
        "gap_us",
        ["gap_us"],
        [{"kind": "sum", "value": F.col("n"), "out": "_cumn",
          "exclusive": False}],
        materialize=False,
    ).crossJoin(F.broadcast(totals)).select(
        "gap_us",
        F.col("_cumn").cast("bigint").alias("cumn"),
        "tot",
        "total_us",
    )
    return cum.agg(
        F.max("tot").alias("n_converted"),
        F.min(F.when(2 * F.col("cumn") >= F.col("tot"), F.col("gap_us")))
        .cast("bigint")
        .alias("p50_us"),
        F.min(
            F.when(10 * F.col("cumn") >= 9 * F.col("tot"), F.col("gap_us"))
        )
        .cast("bigint")
        .alias("p90_us"),
        F.expr("MAX(total_us) DIV MAX(tot)").cast("bigint").alias(
            "mean_us_floor"
        ),
    )


# ---------------------------------------------------------------------------
# q_event_interarrival — per-type inter-arrival gap percentiles
# ---------------------------------------------------------------------------


@register(
    "q_event_interarrival",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   CAST(date_diff('microsecond',
                        lag(ts) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id), ts)
                        AS BIGINT) AS gap_us
            FROM events
        ), vals AS (
            SELECT event_type, gap_us, CAST(COUNT(*) AS BIGINT) AS n
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type, gap_us
        ), cum AS (
            SELECT event_type, gap_us,
                   CAST(SUM(n) OVER (PARTITION BY event_type
                                     ORDER BY gap_us) AS BIGINT) AS cumn,
                   CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
                       AS tot
            FROM vals
        )
        SELECT event_type,
               MAX(tot) AS n_gaps,
               CAST(MIN(CASE WHEN 2 * cumn >= tot THEN gap_us END)
                    AS BIGINT) AS p50_us,
               CAST(MIN(CASE WHEN 10 * cumn >= 9 * tot THEN gap_us END)
                    AS BIGINT) AS p90_us,
               CAST(MIN(CASE WHEN 100 * cumn >= 99 * tot THEN gap_us END)
                    AS BIGINT) AS p99_us
        FROM cum
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("analytics", "timeseries", "stats"),
)
def q_event_interarrival(spark, sf_dir):
    """INTER-ARRIVAL GAP percentiles per event type (p50/p90/p99 in
    exact microseconds) — the traffic-model readout behind rate
    limiting, autoscaling, and SLO burn alerts ("how bursty is each
    stream?"), and the empirical base for any Poisson-ness assumption
    a queueing model makes.

    Exactness: gaps come from ONE lag window on the (event_type)
    exchange; percentiles use the lower-threshold pick over the
    DISTINCT-GAP frame (q_weighted_median discipline). No doubles.

    Plan at 100 TB: the lag window and the (type, gap) hash agg share
    the event_type exchange; percentile windows run over distinct gap
    values (bounded by time resolution, not event count).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    vals = g.groupBy("event_type", "gap_us").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w_cum = Window.partitionBy("event_type").orderBy("gap_us")
    w_all = Window.partitionBy("event_type")
    cum = vals.select(
        "event_type",
        "gap_us",
        F.sum("n").over(w_cum).cast("bigint").alias("cumn"),
        F.sum("n").over(w_all).cast("bigint").alias("tot"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("tot").alias("n_gaps"),
            F.min(F.when(2 * F.col("cumn") >= F.col("tot"), F.col("gap_us")))
            .cast("bigint")
            .alias("p50_us"),
            F.min(
                F.when(10 * F.col("cumn") >= 9 * F.col("tot"),
                       F.col("gap_us"))
            )
            .cast("bigint")
            .alias("p90_us"),
            F.min(
                F.when(100 * F.col("cumn") >= 99 * F.col("tot"),
                       F.col("gap_us"))
            )
            .cast("bigint")
            .alias("p99_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_decay_score — time-decayed engagement score (exact dyadic weights)
# ---------------------------------------------------------------------------

_DECAY_SHIFT = 30  # score scaled by 2^30; contributions >30 half-lives = 0


@register(
    "q_decay_score",
    oracle=f"""
        WITH mx AS (SELECT MAX(ts) AS t_ref FROM events),
        aged AS (
            SELECT user_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents,
                   CAST(date_diff('day', CAST(ts AS DATE),
                                  CAST(t_ref AS DATE)) // 7 AS BIGINT)
                       AS weeks
            FROM events, mx
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN weeks <= {_DECAY_SHIFT}
                             THEN cents * (CAST(2 AS BIGINT)
                                           ** ({_DECAY_SHIFT} - weeks))
                             ELSE 0 END) AS BIGINT) AS score_scaled,
               ROUND(CAST(SUM(CASE WHEN weeks <= {_DECAY_SHIFT}
                             THEN cents * (CAST(2 AS BIGINT)
                                           ** ({_DECAY_SHIFT} - weeks))
                             ELSE 0 END) AS DOUBLE)
                     / {float(1 << _DECAY_SHIFT)!r}, 6) AS decay_score
        FROM aged
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("analytics", "agg"),
)
def q_decay_score(spark, sf_dir):
    """TIME-DECAYED ENGAGEMENT score per user with a one-week
    half-life: score = Σ cents·2^(−weeks_old) — the recency-weighted
    loyalty metric behind churn models and feed ranking (q_rfm_segments
    buckets recency crudely; this integrates it). Ages are anchored to
    the corpus max timestamp so the key is re-run-stable.

    EXACTNESS — dyadic weights instead of exp(): a half-life in whole
    weeks makes every weight a power of two, so the score scaled by
    2^30 is a PURE BIGINT sum (each term cents·2^(30−weeks), terms
    older than 30 half-lives are exactly 0 — they'd be < 1e-9 of a
    cent anyway); the reported double is one division by the 2^30
    constant. No transcendental, no float accumulation order anywhere
    — the decay curve any exp(−λt) pipeline approximates, hash-exact.

    Plan at 100 TB: single-row max-ts broadcast (q_bm25 class) + ONE
    (user_id) hash agg. Headroom: cents·2^30 ≈ 5e13/term → 2^63 at
    ~1.8e5 recent events/user; DECIMAL(38,0) past that.
    """
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("t_ref"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.expr(
            "CAST(datediff(CAST(t_ref AS DATE), CAST(ts AS DATE)) DIV 7"
            " AS BIGINT)"
        ).alias("weeks"),
    )
    term = F.when(
        F.col("weeks") <= _DECAY_SHIFT,
        F.col("cents")
        * F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), "
                 f"CAST({_DECAY_SHIFT} - weeks AS INT)) AS BIGINT)"),
    ).otherwise(0)
    return (
        aged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(term).cast("bigint").alias("score_scaled"),
        )
        .select(
            "user_id",
            "n_events",
            "score_scaled",
            F.round(
                F.col("score_scaled").cast("double")
                / F.lit(float(1 << _DECAY_SHIFT)),
                6,
            ).alias("decay_score"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q_new_vs_returning — daily active users split by first-seen day
# ---------------------------------------------------------------------------


@register(
    "q_new_vs_returning",
    oracle="""
        WITH d AS (
            SELECT DISTINCT user_id,
                   CAST(CAST(date_trunc('day', ts) AS DATE)
                        - DATE '1970-01-01' AS BIGINT) AS day
            FROM events
        ), first_seen AS (
            SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id
        )
        SELECT d.day AS day_epoch,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS returning_users
        FROM d JOIN first_seen f ON d.user_id = f.user_id
        GROUP BY d.day
        HAVING COUNT(*) >= 5
        ORDER BY d.day
    """,
    tags=("analytics", "agg"),
)
def q_new_vs_returning(spark, sf_dir):
    """DAILY ACTIVE USERS split NEW vs RETURNING (first-seen day vs
    later days) — the growth-accounting readout that separates
    acquisition from retention in the same DAU curve (a flat DAU can
    hide collapsing retention behind strong acquisition; this split
    can't). Low-activity days (< 5 DAU) are dropped to keep the
    readout stable.

    Exactness: pure integer counts over the distinct (user, day)
    frame; new + returning = dau by construction (tested). Days are
    reported as epoch-day integers (the q_ts_decompose discipline —
    DATE columns stringify differently across engines).

    Plan at 100 TB: ONE distinct (user, day) agg (map-side combine
    crushes event volume), first-seen rides the same user_id key, and
    the daily rollup is |days|-sized. No windows.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day"),
    ).distinct()
    first_seen = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        d.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("dau"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("new_users"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("returning_users"),
        )
        .filter(F.col("dau") >= 5)
        .withColumnRenamed("day", "day_epoch")
        .orderBy("day_epoch")
    )


# ---------------------------------------------------------------------------
# q_stickiness — DAU/MAU engagement ratio per month
# ---------------------------------------------------------------------------


@register(
    "q_stickiness",
    oracle="""
        WITH d AS (
            SELECT DISTINCT user_id,
                   CAST(CAST(date_trunc('day', ts) AS DATE)
                        - DATE '1970-01-01' AS BIGINT) AS day,
                   CAST(CAST(date_trunc('month', ts) AS DATE)
                        - DATE '1970-01-01' AS BIGINT) AS month
            FROM events
        ), daily AS (
            SELECT month, day, CAST(COUNT(*) AS BIGINT) AS dau
            FROM d GROUP BY month, day
        ), per_month AS (
            SELECT month,
                   CAST(COUNT(*) AS BIGINT) AS active_days,
                   CAST(SUM(dau) AS BIGINT) AS dau_sum
            FROM daily GROUP BY month
        ), mau AS (
            SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
            FROM d GROUP BY month
        )
        SELECT p.month AS month_epoch, p.active_days, p.dau_sum, m.mau,
               CAST((p.dau_sum * 1000000) // (p.active_days * m.mau)
                    AS BIGINT) AS stickiness_micro
        FROM per_month p JOIN mau m ON p.month = m.month
        ORDER BY p.month
    """,
    tags=("analytics", "agg"),
)
def q_stickiness(spark, sf_dir):
    """STICKINESS (DAU/MAU) per month: average daily actives divided by
    monthly actives — the engagement-frequency metric every growth
    dashboard tracks (1.0 = every monthly user shows up every day;
    ~0.2 = weekly habit). Spelled avg-DAU/MAU = ΣDAU/(days·MAU) so the
    whole statistic is one integer expression.

    Exactness: DAU/MAU are exact distinct counts; stickiness is
    floor-quantized to 1e6 on exact BIGINTs (DIV ≡ // on positives).
    No doubles. Months are reported as epoch-day integers of the
    month start (the q_ts_decompose date discipline).

    Plan at 100 TB: the distinct (user, day) agg is the only
    fact-sized work; daily/monthly rollups and the MAU distinct ride
    the same frame. MAU's COUNT(DISTINCT) re-shuffles only the
    distinct pairs, not events.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day"),
        F.datediff(
            F.date_trunc("month", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("month"),
    ).distinct()
    daily = d.groupBy("month", "day").agg(
        F.count("*").cast("bigint").alias("dau")
    )
    per_month = daily.groupBy("month").agg(
        F.count("*").cast("bigint").alias("active_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    mau = d.groupBy("month").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    return (
        per_month.join(mau, "month")
        .select(
            F.col("month").alias("month_epoch"),
            "active_days",
            "dau_sum",
            "mau",
            F.expr("(dau_sum * 1000000) DIV (active_days * mau)")
            .cast("bigint")
            .alias("stickiness_micro"),
        )
        .orderBy("month_epoch")
    )


# ---------------------------------------------------------------------------
# q_audience_overlap — pairwise audience Jaccard across event types
# ---------------------------------------------------------------------------


@register(
    "q_audience_overlap",
    oracle="""
        WITH m AS (
            SELECT DISTINCT user_id, event_type FROM events
        ), sizes AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sz
            FROM m GROUP BY event_type
        ), inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM m a JOIN m b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT i.type_a, i.type_b,
               sa.sz AS n_a, sb.sz AS n_b, i.n_inter,
               ROUND(CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 6)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON i.type_a = sa.event_type
        JOIN sizes sb ON i.type_b = sb.event_type
        ORDER BY i.type_a, i.type_b
    """,
    tags=("analytics", "join", "agg"),
)
def q_audience_overlap(spark, sf_dir):
    """AUDIENCE OVERLAP matrix: Jaccard similarity of the USER SETS
    behind every pair of event types — the adtech/product readout
    ("do clickers and purchasers overlap, or are they disjoint
    populations?") that drives segment consolidation and lookalike
    seeding; the set-level companion to q_basket_pairs' item-level
    co-occurrence.

    Exactness: intersection counts come from a self-equi-join of the
    DISTINCT (user, type) membership frame on user_id (each user
    contributes their C(k,2) type pairs); sizes are exact; Jaccard =
    |∩| / (|A|+|B|−|∩|), ONE double per pair.

    Plan at 100 TB: the membership frame is one distinct agg
    (map-side combined); the self-join is keyed on user_id with
    per-user fan-out ≤ C(|types|,2) — bounded by the type-universe
    size, never a cross product; the |types|-row size table
    broadcasts.
    """
    ev = load(spark, sf_dir, "events")
    m = ev.select("user_id", "event_type").distinct()
    sizes = m.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    a = m.select("user_id", F.col("event_type").alias("type_a"))
    b = m.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("sz").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("sz").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q_elbow_point — kneedle-style elbow of the revenue-concentration curve
# ---------------------------------------------------------------------------


@register(
    "q_elbow_point",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), curve AS (
            SELECT ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey)
                       AS i,
                   CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey)
                        AS BIGINT) AS cum,
                   CAST(COUNT(*) OVER () AS BIGINT) AS n,
                   CAST(SUM(cents) OVER () AS BIGINT) AS total
            FROM per_cust
        ), dev AS (
            SELECT i, cum, n, total,
                   CAST(cum * n - i * total AS BIGINT) AS dev_scaled
            FROM curve
        )
        SELECT i AS elbow_rank, cum AS cum_cents, n AS n_customers,
               total AS total_cents, dev_scaled,
               ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
                   AS cum_share,
               ROUND(CAST(i AS DOUBLE) / CAST(n AS DOUBLE), 6)
                   AS rank_share
        FROM dev
        ORDER BY dev_scaled DESC, i
        LIMIT 1
    """,
    tags=("analytics", "window"),
)
def q_elbow_point(spark, sf_dir):
    """ELBOW (knee) POINT of the customer revenue-concentration curve
    — the kneedle criterion: rank customers by spend, the elbow is the
    rank maximizing the deviation of the cumulative-revenue curve
    above its (0,0)→(n,total) chord. q_pareto_abc bins the curve into
    fixed A/B/C bands; this key finds where the data itself says the
    head ends — the principled cutoff for "top customers" programs,
    cache sizing, or cluster-count elbows.

    Exactness: the chord deviation at rank i is cum_i/total − i/n
    scaled by n·total: dev_scaled = cum_i·n − i·total, a pure BIGINT;
    the argmax is an integer sort with rank tie-break. Reported shares
    are final doubles. Headroom: cum·n < 2^63 to ~6e4 customers at
    ~1e12 total cents (sf ~40); DECIMAL(38,0) past that.

    Plan at 100 TB: the per-customer agg is the fact-sized work
    (q_pareto_abc discipline); the rank/cumulative scan is the
    TWO-PHASE range-bucketed `global_scan_salted` (no
    single-partition window), the grand totals a 1-row broadcast, and
    the argmax a TakeOrdered(1).
    """
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    ).transform(checkpoint, eager=True)  # shared by totals + scan
    from flink_rc_spark.operators.windows import global_scan_salted

    tot = per_cust.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    curve = global_scan_salted(
        per_cust,
        "cents",
        [F.col("cents").desc(), F.col("o_custkey")],
        [
            {"kind": "count", "value": None, "out": "_i",
             "exclusive": False},
            {"kind": "sum", "value": F.col("cents"), "out": "_cum",
             "exclusive": False},
        ],
        descending=True,
        materialize=False,
    ).crossJoin(F.broadcast(tot)).select(
        F.col("_i").cast("bigint").alias("i"),
        F.col("_cum").cast("bigint").alias("cum"),
        "n",
        "total",
    )
    dev = curve.withColumn(
        "dev_scaled",
        (F.col("cum") * F.col("n") - F.col("i") * F.col("total")).cast(
            "bigint"
        ),
    )
    return (
        dev.orderBy(F.desc("dev_scaled"), "i")
        .limit(1)
        .select(
            F.col("i").alias("elbow_rank"),
            F.col("cum").alias("cum_cents"),
            F.col("n").alias("n_customers"),
            F.col("total").alias("total_cents"),
            "dev_scaled",
            F.round(
                F.col("cum").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
            F.round(
                F.col("i").cast("double") / F.col("n").cast("double"), 6
            ).alias("rank_share"),
        )
    )


# ---------------------------------------------------------------------------
# q_peak_detection — local maxima with window dominance in daily series
# ---------------------------------------------------------------------------

_PEAK_HALF_WIN = 3  # a peak must strictly dominate ±3 days


@register(
    "q_peak_detection",
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(CAST(date_trunc('day', ts) AS DATE)
                        - DATE '1970-01-01' AS BIGINT) AS day_epoch,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM events
            GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
        ), nb AS (
            SELECT event_type, day_epoch, x,
                   MAX(x) OVER (PARTITION BY event_type ORDER BY day_epoch
                                ROWS BETWEEN {_PEAK_HALF_WIN} PRECEDING
                                     AND 1 PRECEDING) AS max_before,
                   MAX(x) OVER (PARTITION BY event_type ORDER BY day_epoch
                                ROWS BETWEEN 1 FOLLOWING
                                     AND {_PEAK_HALF_WIN} FOLLOWING)
                       AS max_after,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY day_epoch) AS BIGINT)
                       AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n_days
            FROM daily
        )
        SELECT event_type, day_epoch, x AS peak_count
        FROM nb
        WHERE rn > {_PEAK_HALF_WIN} AND rn + {_PEAK_HALF_WIN} <= n_days
          AND x > max_before AND x > max_after
        ORDER BY event_type, day_epoch
    """,
    tags=("timeseries", "analytics", "window"),
)
def q_peak_detection(spark, sf_dir):
    """LOCAL-PEAK DETECTION in the daily event-volume series: a day is
    a peak when its count STRICTLY exceeds the 3 nearest OBSERVED days
    on each side (and both 3-row frames exist — edge days can't
    qualify, the honest boundary rule). The ROWS frames run over the
    sparse daily rollup, so zero-event calendar days are skipped, not
    treated as zeros — to compare against calendar ±3 days instead,
    densify onto the day spine first (the q_ts_dtw idiom). The ops
    readout behind incident retrospectives and campaign-spike
    attribution, and the discrete sibling of q_changepoint_cusum's
    level-shift detector.

    Exactness: pure integer comparisons against two bounded
    MAX windows (3-row frames before/after). Strict dominance makes
    plateau days non-peaks — deterministic without tie rules.

    Plan at 100 TB: the daily rollup crushes the fact; all windows
    ride ONE (event_type) exchange over |types|×|days| rows.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day_epoch"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day_epoch")
    nb = daily.select(
        "event_type",
        "day_epoch",
        "x",
        F.max("x").over(w.rowsBetween(-_PEAK_HALF_WIN, -1)).alias(
            "max_before"
        ),
        F.max("x").over(w.rowsBetween(1, _PEAK_HALF_WIN)).alias("max_after"),
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*")
        .over(
            Window.partitionBy("event_type").orderBy("day_epoch")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .cast("bigint")
        .alias("n_days"),
    )
    return (
        nb.filter(
            (F.col("rn") > _PEAK_HALF_WIN)
            & (F.col("rn") + _PEAK_HALF_WIN <= F.col("n_days"))
            & (F.col("x") > F.col("max_before"))
            & (F.col("x") > F.col("max_after"))
        )
        .select("event_type", "day_epoch", F.col("x").alias("peak_count"))
        .orderBy("event_type", "day_epoch")
    )
