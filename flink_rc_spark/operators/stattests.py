"""Classical hypothesis tests / inequality statistics, integer-exact.

Two-sample Kolmogorov–Smirnov, Mann–Whitney U (tie-corrected),
chi-square independence, rank-based ROC AUC, the Gini coefficient,
and a Benford first-digit audit — the statistics a data-quality /
experimentation platform runs over event and revenue streams.

Reference parity: none — the reference is a numeric dataflow engine
(SURVEY.md §1.1); this is driver-north-star analytics surface, the
same family as q_ab_ztest / q_skew_stats.

Float policy (SURVEY.md §4.2): every statistic here is computed in
INTEGER or DECIMAL arithmetic end-to-end and only cast to DOUBLE for
the final reported ratio, so the driver hash matches DuckDB exactly:

- KS: D·n1·n2 = max|F1·n2 − F2·n1| is a BIGINT over cumulative counts.
- MWU / AUC: doubled rank sums (2·cum_before + cnt + 1 per tie group)
  are integers; U and AUC numerators stay integral.
- chi²: Σ o²/(rt·ct) is floor-quantized at 1e5 per cell in DECIMAL
  arithmetic (both engines floor the same exact rational — the
  quantized statistic IS the key's contract, the q_dsir_weights
  idiom), then χ² = N·(Σ − 1).
- Gini: G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over DECIMAL(18,2) cents.

100 TB story: every key is one scan + one hash shuffle on a bounded
re-aggregated frame. The cumulative windows (KS/MWU) run over the
per-distinct-VALUE aggregate — cardinality is the number of distinct
measurement values, not rows — and AUC's window is partitioned by
source, so it scales with the per-group distinct-score count. At
true 100 TB-distinct cardinality the global windows upgrade to the
two-pass range-partitioned prefix sum (partition-local cumsum +
broadcast per-partition offsets); the statistic's integer algebra is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_rc_spark.operators.analytics import ab_arm
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load


@register(
    "q_ks_test",
    oracle="""
        WITH p AS (
            SELECT value,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS c2
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY value
        ), c AS (
            SELECT CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS f1,
                   CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS f2,
                   CAST(SUM(c1) OVER () AS BIGINT) AS n1,
                   CAST(SUM(c2) OVER () AS BIGINT) AS n2
            FROM p
        )
        SELECT MAX(n1) AS n1, MAX(n2) AS n2,
               CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
               CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS DOUBLE)
                 / CAST(MAX(n1) * MAX(n2) AS DOUBLE) AS ks_d
        FROM c
    """,
    tags=("stats", "window"),
)
def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov: D = sup|F̂₁(x) − F̂₂(x)| between
    the 'click' and 'view' value distributions.

    Integer-exact: at each distinct pooled value, D's candidate is
    |F1·n2 − F2·n1| over cumulative COUNTS (ties handled by evaluating
    at distinct values only, the standard empirical-CDF jump points).
    ks_d = d_num/(n1·n2) is one IEEE division of exact integers.

    Plan: groupBy(value) map-side-combines the raw events down to the
    distinct-value frame; the empirical-CDF cumulative sums run as the
    TWO-PHASE range-bucketed `global_scan_salted` (no single-partition
    window — exact, since the summands are BIGINT), the grand totals a
    1-row broadcast, and the max-reduce is partial+final.
    """
    from flink_rc_spark.operators.windows import global_scan_salted

    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
        )
    )
    p = p.transform(checkpoint, eager=True)  # shared by totals + scan
    tot = p.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    c = global_scan_salted(
        p,
        "value",
        [F.col("value")],
        [
            {"kind": "sum", "value": F.col("c1"), "out": "f1",
             "exclusive": False},
            {"kind": "sum", "value": F.col("c2"), "out": "f2",
             "exclusive": False},
        ],
        materialize=False,
    ).crossJoin(F.broadcast(tot)).select("f1", "f2", "n1", "n2")
    return c.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))).alias(
            "d_num"
        ),
        (
            F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))).cast(
                "double"
            )
            / (F.max("n1") * F.max("n2")).cast("double")
        ).alias("ks_d"),
    )


@register(
    "q_mw_utest",
    oracle="""
        WITH p AS (
            SELECT value,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY value
        ), r AS (
            SELECT c1, c,
                   CAST(SUM(c) OVER (ORDER BY value) AS BIGINT) - c AS before_cnt,
                   CAST(SUM(c1) OVER () AS BIGINT) AS n1,
                   CAST(SUM(c - c1) OVER () AS BIGINT) AS n2
            FROM p
        )
        SELECT MAX(n1) AS n1, MAX(n2) AS n2,
               CAST(SUM(c1 * (2 * before_cnt + c + 1)) AS BIGINT) AS r1_x2,
               CAST(SUM(c1 * (2 * before_cnt + c + 1)) AS BIGINT)
                 - MAX(n1) * (MAX(n1) + 1) AS u_x2,
               CAST(CAST(SUM(c1 * (2 * before_cnt + c + 1)) AS BIGINT)
                 - MAX(n1) * (MAX(n1) + 1) AS DOUBLE) / 2.0 AS u1
        FROM r
    """,
    tags=("stats", "window"),
)
def q_mw_utest(spark, sf_dir):
    """Mann–Whitney U (tie-corrected, midrank method) between the
    'click' and 'view' value samples.

    Integer-exact via DOUBLED ranks: a tie group of size c preceded by
    b pooled observations has midrank (2b + c + 1)/2, so 2·R₁ =
    Σ c1·(2b + c + 1) is a BIGINT and 2·U₁ = 2·R₁ − n1(n1+1) stays
    integral; u1 halves it with one exact IEEE division by 2.

    Plan: same distinct-value re-aggregation as q_ks_test; the pooled
    cumulative count runs as the TWO-PHASE range-bucketed
    `global_scan_salted` (no single-partition window), the n1/n2
    totals a 1-row broadcast.
    """
    from flink_rc_spark.operators.windows import global_scan_salted

    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
            F.count("*").alias("c"),
        )
    )
    p = p.transform(checkpoint, eager=True)  # shared by totals + scan
    tot = p.agg(
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
    )
    r = global_scan_salted(
        p,
        "value",
        [F.col("value")],
        [{"kind": "sum", "value": F.col("c"), "out": "_cum",
          "exclusive": False}],
        materialize=False,
    ).crossJoin(F.broadcast(tot)).select(
        "c1",
        "c",
        (F.col("_cum") - F.col("c")).alias("before_cnt"),
        "n1",
        "n2",
    )
    r1_x2 = F.sum(
        F.col("c1") * (F.lit(2) * F.col("before_cnt") + F.col("c") + F.lit(1))
    ).cast("long")
    u_x2 = r1_x2 - F.max("n1") * (F.max("n1") + F.lit(1))
    return r.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        r1_x2.alias("r1_x2"),
        u_x2.alias("u_x2"),
        (u_x2.cast("double") / F.lit(2.0)).alias("u1"),
    )


@register(
    "q_chi2_test",
    oracle="""
        WITH cell AS (
            SELECT event_type, user_id % 4 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM events GROUP BY event_type, user_id % 4
        ), tot AS (
            SELECT event_type, bucket, o,
                   CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
                   CAST(SUM(o) OVER (PARTITION BY bucket) AS BIGINT) AS ct,
                   CAST(SUM(o) OVER () AS BIGINT) AS n
            FROM cell
        )
        SELECT MAX(n) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM((o * o * 100000) // (rt * ct)) AS BIGINT) AS sum_term_e5,
               CAST(MAX(n) AS DOUBLE)
                 * (CAST(CAST(SUM((o * o * 100000) // (rt * ct)) AS BIGINT) AS DOUBLE)
                    / 100000.0 - 1.0) AS chi2
        FROM tot
    """,
    tags=("stats", "agg"),
)
def q_chi2_test(spark, sf_dir):
    """Chi-square independence test of event_type × (user_id mod 4)
    via the algebraically-equivalent form χ² = N·(Σ o²/(rt·ct) − 1).

    Exactness: each cell's o²/(rt·ct) is floor-quantized at 1e5 —
    (o·o·1e5) div (rt·ct) over positive integers floors the same
    exact rational in Spark (`div`) and DuckDB (`//`); the quantized
    Σ is the key's defined statistic (q_dsir_weights idiom), so the
    hash matches bit-for-bit while |error| < n_cells·1e-5·N.
    DECIMAL(38,0) headroom: o·o·1e5 ≤ 1e29 at sf100 stays exact.

    Plan: one groupBy to the 5×4 contingency frame; row/col/grand
    totals are three windows over 20 rows (a broadcast-size frame);
    final single-row reduce.
    """
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("bucket")
    ).agg(F.count("*").alias("o"))
    tot = cell.select(
        "event_type",
        "bucket",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("bucket")).alias("ct"),
        F.sum("o")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    term_e5 = F.expr(
        "CAST(CAST(o AS DECIMAL(20,0)) * o * 100000 AS DECIMAL(38,0))"
        " div (rt * ct)"
    )
    sum_term_e5 = F.sum(term_e5).cast("long")
    return tot.agg(
        F.max("n").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
        sum_term_e5.alias("sum_term_e5"),
        (
            F.max("n").cast("double")
            * (sum_term_e5.cast("double") / F.lit(100000.0) - F.lit(1.0))
        ).alias("chi2"),
    )


@register(
    "q_auc_roc",
    oracle="""
        WITH p AS (
            SELECT source, n_chars,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY source, n_chars
        ), r AS (
            SELECT source, cp, c,
                   CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) - c
                     AS before_cnt,
                   CAST(SUM(cp) OVER (PARTITION BY source) AS BIGINT) AS np,
                   CAST(SUM(c - cp) OVER (PARTITION BY source) AS BIGINT) AS nn
            FROM p
        )
        SELECT source, MAX(np) AS n_pos, MAX(nn) AS n_neg,
               CAST(SUM(cp * (2 * before_cnt + c + 1)) AS BIGINT)
                 - MAX(np) * (MAX(np) + 1) AS auc_num_x2,
               CAST(CAST(SUM(cp * (2 * before_cnt + c + 1)) AS BIGINT)
                 - MAX(np) * (MAX(np) + 1) AS DOUBLE)
                 / CAST(2 * MAX(np) * MAX(nn) AS DOUBLE) AS auc
        FROM r
        GROUP BY source
        HAVING MAX(np) > 0 AND MAX(nn) > 0
    """,
    tags=("stats", "window", "llm"),
)
def q_auc_roc(spark, sf_dir):
    """Per-source ROC AUC of n_chars as a classifier score for
    lang = 'en' — the rank-sum (Wilcoxon) identity:
    AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋), midranks on ties.

    Integer-exact with doubled ranks exactly as q_mw_utest; the final
    auc is one IEEE division of exact integers. Sources with a single
    class are excluded (AUC undefined).

    Plan: groupBy (source, score) combines to distinct scores, the
    cumulative window partitions BY SOURCE (parallel across groups —
    no global sort), one grouped reduce. Scales with per-source
    distinct-score cardinality.
    """
    docs = load(spark, sf_dir, "documents")
    p = docs.groupBy("source", "n_chars").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("cp"),
        F.count("*").alias("c"),
    )
    ws = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wsrc = Window.partitionBy("source")
    r = p.select(
        "source",
        "cp",
        "c",
        (F.sum("c").over(ws) - F.col("c")).alias("before_cnt"),
        F.sum("cp").over(wsrc).alias("np"),
        F.sum(F.col("c") - F.col("cp")).over(wsrc).alias("nn"),
    )
    r2 = F.sum(
        F.col("cp") * (F.lit(2) * F.col("before_cnt") + F.col("c") + F.lit(1))
    ).cast("long")
    auc_num = r2 - F.max("np") * (F.max("np") + F.lit(1))
    return (
        r.groupBy("source")
        .agg(
            F.max("np").alias("n_pos"),
            F.max("nn").alias("n_neg"),
            auc_num.alias("auc_num_x2"),
            (
                auc_num.cast("double")
                / (F.lit(2) * F.max("np") * F.max("nn")).cast("double")
            ).alias("auc"),
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    )


@register(
    "q_gini_index",
    oracle="""
        WITH spend AS (
            SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
                   SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS x
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ), rk AS (
            SELECT segment, x,
                   CAST(ROW_NUMBER() OVER (PARTITION BY segment
                                           ORDER BY x, custkey) AS BIGINT) AS i,
                   CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n
            FROM spend
        )
        SELECT segment, MAX(n) AS n_cust,
               CAST(2 * SUM(i * x) - (MAX(n) + 1) * SUM(x) AS DOUBLE) AS g_num,
               CAST(MAX(n) * SUM(x) AS DOUBLE) AS g_den,
               CAST(2 * SUM(i * x) - (MAX(n) + 1) * SUM(x) AS DOUBLE)
                 / CAST(MAX(n) * SUM(x) AS DOUBLE) AS gini
        FROM rk
        GROUP BY segment
    """,
    tags=("stats", "window"),
)
def q_gini_index(spark, sf_dir):
    """Gini coefficient of customer spend within each market segment,
    the exact finite-sample formula over ascending-sorted spend:
    G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx), ties broken by custkey.

    Exact: spend is a DECIMAL(18,2) sum; i·xᵢ and both Σ stay in
    DECIMAL; only the three reported columns cast to DOUBLE (one
    deterministic cast + one IEEE division — hash-stable).

    Plan: fact scans once, dim join broadcasts, per-segment rank is a
    window partitioned by segment (5-way parallel; per-segment
    customer count bounds the sort), grouped reduce. No global sort.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    )
    wseg = Window.partitionBy("segment")
    rk = spend.select(
        "segment",
        "x",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("x", "custkey"))
        .cast("long")
        .alias("i"),
        F.count("*").over(wseg).cast("long").alias("n"),
    )
    g_num = F.lit(2) * F.sum(F.col("i") * F.col("x")) - (
        F.max("n") + F.lit(1)
    ) * F.sum("x")
    g_den = F.max("n") * F.sum("x")
    return rk.groupBy("segment").agg(
        F.max("n").alias("n_cust"),
        g_num.cast("double").alias("g_num"),
        g_den.cast("double").alias("g_den"),
        (g_num.cast("double") / g_den.cast("double")).alias("gini"),
    )


@register(
    "q_benford",
    oracle="""
        WITH d AS (
            SELECT SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                    AS BIGINT) AS VARCHAR), 1, 1) AS digit
            FROM orders
        )
        SELECT digit,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(*) AS DOUBLE)
                 / CAST(CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS DOUBLE) AS share,
               CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176 WHEN '3' THEN 125
                          WHEN '4' THEN 97 WHEN '5' THEN 79 WHEN '6' THEN 67
                          WHEN '7' THEN 58 WHEN '8' THEN 51 ELSE 46
               END AS benford_permille
        FROM d
        GROUP BY digit
    """,
    tags=("stats", "dq"),
)
def q_benford(spark, sf_dir):
    """Benford's-law first-significant-digit audit of o_totalprice —
    the classic fraud/data-quality screen.

    Exactness: the first digit is taken from the VARCHAR rendering of
    the integer CENTS (DECIMAL(18,2)·100 → BIGINT) — integer-to-string
    is identical across engines, no float formatting. Counts are
    exact; share is one IEEE division; the Benford expectation
    log10(1+1/d) ships as literal permille (no transcendental calls).

    Plan: scan → 9-group hash agg (map-side combined); the share's
    grand total is a window over ≤ 9 rows.
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        F.substring(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .cast("string"),
            1,
            1,
        ).alias("digit")
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("cnt"))
        .select(
            "digit",
            "cnt",
            (
                F.col("cnt").cast("double")
                / F.sum("cnt").over(wall).cast("double")
            ).alias("share"),
            F.expr(
                "CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176 WHEN '3' THEN 125"
                " WHEN '4' THEN 97 WHEN '5' THEN 79 WHEN '6' THEN 67"
                " WHEN '7' THEN 58 WHEN '8' THEN 51 ELSE 46 END"
            ).alias("benford_permille"),
        )
    )


@register(
    "q_quantile_2pass",
    oracle="""
        WITH x AS (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                     AS c
            FROM lineitem
        ), n AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x
        ), t AS (
            SELECT CAST(v.p AS BIGINT) AS p,
                   (v.p * n.n + 99) // 100 AS rnk
            FROM (VALUES (25), (50), (75), (99)) v(p), n
        ), r AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM x
        )
        SELECT t.p, CAST(t.rnk AS BIGINT) AS rnk, r.c AS q_value_c
        FROM t JOIN r ON r.rn = t.rnk
    """,
    tags=("stats", "agg", "scale"),
)
def q_quantile_2pass(spark, sf_dir):
    """EXACT distributed quantiles (p25/p50/p75/p99 of extendedprice
    cents) by the two-pass histogram-then-narrow algorithm — the
    scale-correct way to get exact order statistics without a global
    sort:

    pass 1: hash-agg row counts into $10 value buckets (bounded by the
    value RANGE, not the row count), cumulative-sum the bucket frame,
    and locate which bucket holds each target rank (percentile-disc
    semantics: rank = ceil(p·n/100), the smallest value whose cumulative
    count reaches p%).
    pass 2: re-scan ONLY the rows of the ≤ 4 winning buckets (predicate
    pushes to the parquet scan) and select the (rank − cum_before)-th
    smallest within each — ties make the selected VALUE well-defined
    regardless of intra-tie order.

    The oracle spells the same statistic as the naive global
    ROW_NUMBER selection, proving the 2-pass rewrite exact. All
    integer arithmetic.

    Plan: two scans + one bounded-frame window; no global sort of fact
    rows anywhere. The single-partition window runs over the BUCKET
    frame (range/width rows); the 4-row target frame broadcasts onto
    it (range predicate — the intended tiny nested-loop).
    """
    li = load(spark, sf_dir, "lineitem")
    x = li.select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    )
    n = x.agg(F.count("*").alias("n"))
    t = (
        spark.createDataFrame([(25,), (50,), (75,), (99,)], "p long")
        .crossJoin(F.broadcast(n))
        .select("p", F.expr("(p * n + 99) div 100").alias("rnk"))
    )
    bucket = x.groupBy(F.expr("c div 1000").alias("b")).agg(
        F.count("*").alias("cnt")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    bf = bucket.select(
        "b", "cnt", (F.sum("cnt").over(wb) - F.col("cnt")).alias("cum_before")
    )
    sel = t.join(
        F.broadcast(bf),
        (F.col("cum_before") < F.col("rnk"))
        & (F.col("rnk") <= F.col("cum_before") + F.col("cnt")),
    ).select("p", "rnk", "b", "cum_before")
    narrowed = x.join(F.broadcast(sel), F.expr("c div 1000") == F.col("b"))
    wq = Window.partitionBy("p").orderBy("c")
    return (
        narrowed.withColumn("rb", F.row_number().over(wq))
        .filter(F.col("rb") == F.col("rnk") - F.col("cum_before"))
        .select("p", "rnk", F.col("c").alias("q_value_c"))
    )


@register(
    "q_calibration_bins",
    oracle="""
        WITH x AS (
            SELECT event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS score_c,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
            FROM events
        ), binned AS (
            SELECT score_c, pos,
                   CAST(NTILE(10) OVER (ORDER BY score_c, event_id) AS BIGINT)
                     AS bin
            FROM x
        )
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(score_c) AS BIGINT) AS sum_score_c,
               (CAST(SUM(score_c) AS BIGINT) * 10000)
                 // CAST(COUNT(*) AS BIGINT) AS mean_score_micro,
               (CAST(SUM(pos) AS BIGINT) * 1000000)
                 // CAST(COUNT(*) AS BIGINT) AS pos_rate_micro
        FROM binned GROUP BY bin
    """,
    tags=("stats", "window"),
)
def q_calibration_bins(spark, sf_dir):
    """Calibration (reliability) table for 'value predicts purchase':
    rows rank into 10 equal-depth score bins (NTILE over the
    (score, event_id) total order — both engines use the standard SQL
    floor distribution, so bin assignment is identical), each bin
    reporting observed positive rate and mean score as floor-quantized
    micro-units. The companion diagnostic to q_auc_roc: AUC measures
    ranking, this measures probability calibration.

    Plan: one scan; the NTILE is the TWO-PHASE range-bucketed rank
    (`global_scan_salted` count scan over the (score, event_id) total
    order — parallelism = n_buckets, no single-partition sort) plus
    the exact integer NTILE floor formula (`ntile_from_rn`), provably
    equal to the engines' NTILE; the rollup is a 10-group hash agg.
    """
    from flink_rc_spark.operators.windows import (
        global_scan_salted,
        ntile_from_rn,
    )

    ev = load(spark, sf_dir, "events")
    x = ev.select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias(
            "score_c"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    x = x.transform(checkpoint, eager=True)  # shared by count + scan
    n = x.count()
    ranked = global_scan_salted(
        x,
        "score_c",
        ["score_c", "event_id"],
        [{"kind": "count", "value": None, "out": "rn", "exclusive": False}],
        materialize=False,
    )
    binned = ranked.select(
        "score_c",
        "pos",
        ntile_from_rn(F.col("rn"), 10, n).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("score_c").cast("long").alias("sum_score_c"),
        F.expr(
            "(CAST(SUM(score_c) AS BIGINT) * 10000) div COUNT(*)"
        ).alias("mean_score_micro"),
        F.expr("(CAST(SUM(pos) AS BIGINT) * 1000000) div COUNT(*)").alias(
            "pos_rate_micro"
        ),
    )


@register(
    "q_survival_km",
    oracle="""
        WITH subj AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS pts,
                   MIN(ts) AS fts, MAX(ts) AS lts
            FROM events GROUP BY user_id
        ), dur AS (
            SELECT user_id,
                   CASE WHEN pts IS NOT NULL
                        THEN date_diff('day', CAST(fts AS DATE),
                                       CAST(pts AS DATE))
                        ELSE date_diff('day', CAST(fts AS DATE),
                                       CAST(lts AS DATE)) END AS t,
                   CASE WHEN pts IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM subj
        ), grp AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(ev) AS BIGINT) AS d
            FROM dur GROUP BY t
        ), risk AS (
            SELECT t, d, cnt,
                   CAST(SUM(cnt) OVER () AS BIGINT)
                     - (CAST(SUM(cnt) OVER (ORDER BY t) AS BIGINT) - cnt)
                     AS n_risk
            FROM grp
        ), terms AS (
            SELECT t, d, n_risk, cnt - d AS censored,
                   CASE WHEN d < n_risk
                        THEN CAST(ROUND(ln(CAST(n_risk - d AS DOUBLE)
                                           / n_risk) * 1000000) AS BIGINT)
                   END AS logterm_micro
            FROM risk WHERE d > 0
        )
        SELECT t AS day, n_risk, d AS n_events, censored,
               CASE WHEN CAST(COUNT(CASE WHEN logterm_micro IS NULL THEN 1 END)
                             OVER (ORDER BY t) AS BIGINT) > 0
                    THEN NULL
                    ELSE CAST(SUM(logterm_micro) OVER (ORDER BY t) AS BIGINT)
               END AS log_s_micro,
               CASE WHEN CAST(COUNT(CASE WHEN logterm_micro IS NULL THEN 1 END)
                             OVER (ORDER BY t) AS BIGINT) > 0
                    THEN 0.0
                    ELSE ROUND(EXP(CAST(SUM(logterm_micro) OVER (ORDER BY t)
                                        AS DOUBLE) / 1000000), 6)
               END AS s_hat
        FROM terms
    """,
    tags=("stats", "window"),
)
def q_survival_km(spark, sf_dir):
    """KAPLAN–MEIER survival estimator for time-to-first-purchase,
    censoring users without a purchase at their last observed day —
    the survival curve product-limit estimator, the standard
    time-to-event readout (churn, conversion latency, reliability).

    Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) computed as exp of a CUMULATIVE SUM
    of per-timepoint ln(1 − d/n) quantized to 6-dp micro (the
    q_cooccur_pmi idiom): the summed integers are engine-exact, the
    final exp/round is one deterministic float op. When a timepoint
    absorbs its whole risk set (d = n), Ŝ collapses to exactly 0 and
    stays there (the NULL-propagating cumulative guard).

    Plan: one user-keyed agg to (duration, event) subjects, a hash
    agg to distinct durations (bounded by the day range); risk sets
    and the cumulative product both run as TWO-PHASE range-bucketed
    `global_scan_salted` scans (no single-partition window).
    """
    ev = load(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "pts"
        ),
        F.min("ts").alias("fts"),
        F.max("ts").alias("lts"),
    )
    dur = subj.select(
        F.when(
            F.col("pts").isNotNull(),
            F.datediff(F.col("pts").cast("date"), F.col("fts").cast("date")),
        )
        .otherwise(
            F.datediff(F.col("lts").cast("date"), F.col("fts").cast("date"))
        )
        .alias("t"),
        F.when(F.col("pts").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    grp = dur.groupBy("t").agg(
        F.count("*").alias("cnt"), F.sum("ev").alias("d")
    )
    from flink_rc_spark.operators.windows import global_scan_salted

    grp = grp.transform(checkpoint, eager=True)  # shared by totals + scan
    tot = grp.agg(F.sum("cnt").alias("_n_all"))
    risk = global_scan_salted(
        grp,
        "t",
        [F.col("t")],
        [{"kind": "sum", "value": F.col("cnt"), "out": "_cum",
          "exclusive": False}],
        materialize=False,
    ).crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "cnt",
        (
            F.col("_n_all") - (F.col("_cum") - F.col("cnt"))
        ).alias("n_risk"),
    )
    terms = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        (F.col("cnt") - F.col("d")).alias("censored"),
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                )
                * 1000000
            ).cast("long"),
        ).alias("logterm_micro"),
    )
    scanned = global_scan_salted(
        terms.withColumn(
            "_is_dead",
            F.when(F.col("logterm_micro").isNull(), 1)
            .otherwise(0)
            .cast("long"),
        ),
        "t",
        [F.col("t")],
        [
            {"kind": "sum", "value": F.col("logterm_micro"),
             "out": "_cum_log", "exclusive": False},
            {"kind": "sum", "value": F.col("_is_dead"),
             "out": "_cum_dead", "exclusive": False},
        ],
    )
    dead = F.col("_cum_dead")
    return scanned.select(
        F.col("t").alias("day"),
        "n_risk",
        F.col("d").alias("n_events"),
        "censored",
        F.when(dead > 0, F.lit(None).cast("long"))
        .otherwise(F.col("_cum_log").cast("long"))
        .alias("log_s_micro"),
        F.when(dead > 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(F.col("_cum_log").cast("double") / 1000000),
                6,
            )
        )
        .alias("s_hat"),
    )


# ---------------------------------------------------------------------------
# q_eval_ndcg — NDCG@10 retrieval-quality evaluation
# ---------------------------------------------------------------------------

# 1e6/log2(r+1) for ranks 1..10 — precomputed literals so the runtime
# never calls a transcendental (no cross-engine ulp risk)
_NDCG_DISC = [
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
]


def _disc_case(col: str) -> str:
    branches = " ".join(
        f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
    )
    return f"(CASE {col} {branches} END)"


@register(
    "q_eval_ndcg",
    oracle=f"""
        WITH ranked AS (
            SELECT source, doc_id,
                   CASE WHEN lang = 'en' THEN 2 ELSE 0 END AS rel,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id) AS r
            FROM documents
        ), dcg AS (
            SELECT source,
                   CAST(SUM(rel * {_disc_case("r")}) AS BIGINT) AS dcg_micro
            FROM ranked WHERE r <= 10 GROUP BY source
        ), ideal AS (
            SELECT source,
                   CAST(SUM(2 * {_disc_case("ir")}) AS BIGINT) AS idcg_micro
            FROM (
                SELECT source,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY rel DESC, doc_id) AS ir
                FROM ranked WHERE rel > 0
            ) WHERE ir <= 10
            GROUP BY source
        )
        SELECT d.source, d.dcg_micro,
               COALESCE(i.idcg_micro, 0) AS idcg_micro,
               CASE WHEN i.idcg_micro > 0
                    THEN (d.dcg_micro * 1000000) // i.idcg_micro END
                 AS ndcg_micro
        FROM dcg d LEFT JOIN ideal i ON d.source = i.source
    """,
    tags=("stats", "eval", "llm"),
)
def q_eval_ndcg(spark, sf_dir):
    """NDCG@10 — the top-weighted ranking metric that complements
    q_auc_roc's global AUC: per source, documents rank by n_chars
    (the same toy scoring AUC evaluates) against binary-graded
    relevance (lang='en' → 2), discounted by 1/log₂(rank+1) shipped
    as PRECOMPUTED micro literals (ranks are bounded at 10, so no
    transcendental ever runs — zero cross-engine ulp risk, unlike a
    runtime log). IDCG re-ranks the relevant docs ideally;
    ndcg = dcg/idcg floor-quantized micro; sources with no relevant
    docs report NULL.

    Plan: one per-source ranking window (parallel across sources),
    two ≤10-row-per-source aggregates, a source-keyed join of two
    20-row frames.
    """
    docs = load(spark, sf_dir, "documents")
    ranked = docs.select(
        "source",
        "doc_id",
        F.when(F.col("lang") == "en", 2).otherwise(0).alias("rel"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
        )
        .alias("r"),
    )
    dcg = (
        ranked.filter(F.col("r") <= 10)
        .groupBy("source")
        .agg(
            F.sum(F.col("rel") * F.expr(_disc_case("r")))
            .cast("long")
            .alias("dcg_micro")
        )
    )
    ideal = (
        ranked.filter(F.col("rel") > 0)
        .select(
            "source",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.desc("rel"), "doc_id"
                )
            )
            .alias("ir"),
        )
        .filter(F.col("ir") <= 10)
        .groupBy("source")
        .agg(
            F.sum(F.lit(2) * F.expr(_disc_case("ir")))
            .cast("long")
            .alias("idcg_micro")
        )
    )
    return (
        dcg.join(ideal, "source", "left")
        .select(
            "source",
            "dcg_micro",
            F.coalesce(F.col("idcg_micro"), F.lit(0)).alias("idcg_micro"),
            F.when(
                F.col("idcg_micro") > 0,
                F.expr("(dcg_micro * 1000000) div idcg_micro"),
            ).alias("ndcg_micro"),
        )
    )


@register(
    "q_privacy_kanon",
    oracle="""
        WITH qi AS (
            SELECT c.c_custkey,
                   c.c_mktsegment AS seg, c.c_nationkey AS nat,
                   (CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                      + 100000000000) // 100000 - 1000000 AS bal_bucket
            FROM customer c
        ), sens AS (
            SELECT o.o_custkey AS c_custkey, o.o_orderpriority AS sval,
                   ROW_NUMBER() OVER (PARTITION BY o.o_custkey
                                      ORDER BY COUNT(*) DESC,
                                               o.o_orderpriority) AS rn
            FROM orders o GROUP BY o.o_custkey, o.o_orderpriority
        ), joined AS (
            SELECT qi.seg, qi.nat, qi.bal_bucket,
                   COALESCE(s.sval, 'NONE') AS sval
            FROM qi LEFT JOIN sens s
              ON qi.c_custkey = s.c_custkey AND s.rn = 1
        ), cls AS (
            SELECT seg, nat, bal_bucket,
                   CAST(COUNT(*) AS BIGINT) AS sz,
                   CAST(COUNT(DISTINCT sval) AS BIGINT) AS l_div
            FROM joined GROUP BY seg, nat, bal_bucket
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(sz) AS BIGINT) AS min_class_size,
               CAST(SUM(CASE WHEN sz < 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS classes_below_2,
               CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS classes_below_5,
               CAST(SUM(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT)
                 AS rows_at_risk_2,
               CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
                 AS rows_at_risk_5,
               CAST(MIN(l_div) AS BIGINT) AS min_l_diversity
        FROM cls
    """,
    tags=("stats", "dq", "governance"),
)
def q_privacy_kanon(spark, sf_dir):
    """K-ANONYMITY / L-DIVERSITY audit (Sweeney 2002; Machanavajjhala
    2007) — the release-gate check before sharing a customer extract:
    quasi-identifiers (segment, nation, $1000 balance bucket) define
    equivalence classes; the audit reports how many classes (and
    member rows) fall below k ∈ {2, 5}, and the minimum
    L-DIVERSITY of the sensitive attribute (each customer's dominant
    order priority, deterministic-mode tie-broken) across classes.

    Integer-exact: the signed balance bucket uses the exact-floor
    shift idiom (acctbal can be negative — Spark div truncates,
    DuckDB // floors); everything else is counting.

    Plan: one dim scan + one orders agg for the sensitive mode
    (user-keyed), a hash agg to the class frame, single-row reduce.
    At 100 TB the classes frame is bounded by the QI cardinality
    product, not the row count.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    qi = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " + 100000000000L) div 100000 - 1000000"
        ).alias("bal_bucket"),
    )
    sens = (
        orders.groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderpriority").alias("sval"),
        )
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c_custkey").orderBy(
                    F.desc("c"), "sval"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("c_custkey", "sval")
    )
    joined = qi.join(sens, "c_custkey", "left").select(
        "seg",
        "nat",
        "bal_bucket",
        F.coalesce(F.col("sval"), F.lit("NONE")).alias("sval"),
    )
    cls = joined.groupBy("seg", "nat", "bal_bucket").agg(
        F.count("*").alias("sz"),
        F.countDistinct("sval").alias("l_div"),
    )
    return cls.agg(
        F.count("*").alias("n_classes"),
        F.min("sz").alias("min_class_size"),
        F.sum(F.when(F.col("sz") < 2, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_2"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_5"),
        F.sum(F.when(F.col("sz") < 2, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk_2"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk_5"),
        F.min("l_div").alias("min_l_diversity"),
    )


@register(
    "q_psi_drift",
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
        ), x AS (
            SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                   CASE WHEN date_diff('day', DATE '1970-01-01',
                                       CAST(date_trunc('day', ts) AS DATE))
                             <= b.mid_day THEN 0 ELSE 1 END AS period
            FROM events CROSS JOIN bounds b
        ), npre AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x WHERE period = 0
        ), edges AS (
            SELECT c AS edge_c
            FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn
                  FROM x WHERE period = 0),
                 npre, (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) v(e)
            WHERE rn = (e * npre.n + 9) // 10
        ), vals AS (
            SELECT c, period, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM x GROUP BY c, period
        ), vbin AS (
            SELECT v.c, v.period, v.cnt,
                   1 + CAST(SUM(CASE WHEN e.edge_c < v.c THEN 1 ELSE 0 END)
                            AS BIGINT) AS bin
            FROM vals v CROSS JOIN edges e
            GROUP BY v.c, v.period, v.cnt
        ), cells AS (
            SELECT bin,
                   CAST(SUM(CASE WHEN period = 0 THEN cnt ELSE 0 END)
                        AS BIGINT) AS cnt_pre,
                   CAST(SUM(CASE WHEN period = 1 THEN cnt ELSE 0 END)
                        AS BIGINT) AS cnt_post
            FROM vbin GROUP BY bin
        ), tot AS (
            SELECT CAST(SUM(cnt_pre) AS BIGINT) AS n_pre,
                   CAST(SUM(cnt_post) AS BIGINT) AS n_post
            FROM cells
        )
        SELECT bin, cnt_pre, cnt_post,
               CAST(((CAST(cnt_pre AS HUGEINT) * t.n_post
                      - CAST(cnt_post AS HUGEINT) * t.n_pre) * 1000000
                     + 1000000 * (CAST(t.n_pre AS HUGEINT) * t.n_post))
                    // (CAST(t.n_pre AS HUGEINT) * t.n_post)
                    - 1000000 AS BIGINT) AS dist_diff_micro,
               CASE WHEN cnt_pre > 0 AND cnt_post > 0
                    THEN CAST(ROUND(ln((CAST(cnt_pre AS DOUBLE) / t.n_pre)
                                       / (CAST(cnt_post AS DOUBLE)
                                          / t.n_post))
                                    * 1000000) AS BIGINT) END
                 AS ln_ratio_micro
        FROM cells CROSS JOIN tot t
    """,
    tags=("stats", "monitoring"),
)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index components — the model-monitoring
    drift metric (PSI = Σ_bins (p−q)·ln(p/q)): the post-period
    event-value distribution compared against PRE-period decile bins
    whose edges are exact order statistics of the pre sample (the
    percentile-disc ranks) — the champion/challenger scorecard check.

    Exactness: edges and counts are integers; the distribution
    difference is an exact cross-multiplied rational floor-quantized
    micro (signed → the exact-floor shift idiom, as q_woe_iv); the
    log ratio quantizes one ln (the q_cooccur_pmi idiom). The two
    reported factors are same-sign by construction, so the consumer's
    per-bin product (the PSI contribution) is non-negative.

    Plan: one scan (midpoint = ONE broadcast row); pre-period order
    statistics run over the distinct-value frame; a 9-row edge
    broadcast bins the distinct values (not the raw rows); 10-cell
    rollup + single totals row.
    """
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "min(datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01'))"
            " + (max(datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01'))"
            " - min(datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01')))"
            " div 2"
        ).alias("mid_day")
    )
    x = ev.crossJoin(F.broadcast(bounds)).select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        F.when(
            F.expr(
                "datediff(CAST(date_trunc('day', ts) AS DATE),"
                " DATE '1970-01-01') <= mid_day"
            ),
            0,
        )
        .otherwise(1)
        .alias("period"),
    )
    from flink_rc_spark.operators.windows import global_scan_salted

    pre = x.filter(F.col("period") == 0)
    npre = pre.agg(F.count("*").alias("n"))
    # order statistics WITHOUT a row-scale row_number window: the
    # per-distinct-value cumulative count (two-phase range-bucketed
    # scan) gives each distinct c its global rank interval
    # (_cum - cnt, _cum]; edge e is the c whose interval contains the
    # target rank (e*n+9) div 10 — identical to percentile-disc on
    # the raw rows, but the scan runs on the distinct-value frame.
    pg = pre.groupBy("c").agg(F.count("*").alias("cnt"))
    scanned = global_scan_salted(
        pg,
        "c",
        [F.col("c")],
        [{"kind": "sum", "value": F.col("cnt"), "out": "_cum",
          "exclusive": False}],
    )
    es = spark.createDataFrame([(i,) for i in range(1, 10)], "e long")
    edges = (
        scanned.crossJoin(F.broadcast(npre))
        .crossJoin(F.broadcast(es))
        .filter(
            (F.expr("(e * n + 9) div 10") > F.col("_cum") - F.col("cnt"))
            & (F.expr("(e * n + 9) div 10") <= F.col("_cum"))
        )
        .select(F.col("c").alias("edge_c"))
    )
    vals = x.groupBy("c", "period").agg(F.count("*").alias("cnt"))
    vbin = (
        vals.crossJoin(F.broadcast(edges))
        .groupBy("c", "period", "cnt")
        .agg(
            (
                F.lit(1)
                + F.sum(F.when(F.col("edge_c") < F.col("c"), 1).otherwise(0))
            )
            .cast("long")
            .alias("bin")
        )
    )
    cells = vbin.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("cnt_pre"),
        F.sum(F.when(F.col("period") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("cnt_post"),
    )
    tot = cells.agg(
        F.sum("cnt_pre").alias("n_pre"), F.sum("cnt_post").alias("n_post")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "cnt_pre",
            "cnt_post",
            F.expr(
                "CAST((CAST(cnt_pre AS DECIMAL(20,0)) * n_post"
                " - CAST(cnt_post AS DECIMAL(20,0)) * n_pre) * 1000000"
                " + 1000000 * (CAST(n_pre AS DECIMAL(20,0)) * n_post)"
                " AS DECIMAL(38,0))"
                " div (CAST(n_pre AS DECIMAL(20,0)) * n_post) - 1000000"
            ).alias("dist_diff_micro"),
            F.when(
                (F.col("cnt_pre") > 0) & (F.col("cnt_post") > 0),
                F.round(
                    F.log(
                        (F.col("cnt_pre").cast("double") / F.col("n_pre"))
                        / (F.col("cnt_post").cast("double") / F.col("n_post"))
                    )
                    * 1000000
                ).cast("long"),
            ).alias("ln_ratio_micro"),
        )
    )


@register(
    "q_runs_test",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1
        ), mv AS (
            SELECT d, cents,
                   cents - LAG(cents) OVER (ORDER BY d) AS diff
            FROM daily
        ), signs AS (
            SELECT d, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
            FROM mv WHERE diff IS NOT NULL AND diff <> 0
        ), runs AS (
            SELECT s,
                   CASE WHEN LAG(s) OVER (ORDER BY d) IS DISTINCT FROM s
                        THEN 1 ELSE 0 END AS is_new_run
            FROM signs
        )
        SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
               CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
               CAST(SUM(is_new_run) AS BIGINT) AS n_runs,
               ROUND((CAST(SUM(is_new_run) AS DOUBLE)
                      - (1.0 + 2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                               * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                               / COUNT(*)))
                     / SQRT(2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                            * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                            * (2.0 * SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                               * SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                               - COUNT(*))
                            / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)
                               * (COUNT(*) - 1))), 4) AS z
        FROM runs
    """,
    tags=("stats", "window"),
)
def q_runs_test(spark, sf_dir):
    """Wald–Wolfowitz RUNS TEST for randomness of the daily-revenue
    direction sequence (up/down moves; zero-diffs excluded, the
    standard treatment): runs counted exactly over the ordered sign
    sequence, and the normal-approximation z computed as ONE fixed
    IEEE expression over exact integer counts (the q_ab_ztest
    float policy), rounded once.

    Plan: daily rollup crushes to the bounded day frame; two lag
    windows over it; single-row reduce. The trend/seasonality this
    test flags on real revenue is exactly what q_ts_decompose then
    separates.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wd = Window.orderBy("d")
    mv = daily.select(
        "d", (F.col("cents") - F.lag("cents").over(wd)).alias("diff")
    )
    signs = mv.filter(
        F.col("diff").isNotNull() & (F.col("diff") != 0)
    ).select("d", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("s"))
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(wd).eqNullSafe(F.col("s")), 1
        )
        .otherwise(0)
        .alias("is_new_run"),
    )
    n_up = F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
    n_dn = F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
    n = F.count("*")
    r = F.sum("is_new_run")
    mu = F.lit(1.0) + 2.0 * n_up * n_dn / n
    var = (
        2.0
        * n_up
        * n_dn
        * (2.0 * n_up * n_dn - n)
        / (n.cast("double") * n * (n - 1))
    )
    return runs.agg(
        n_up.cast("long").alias("n_up"),
        n_dn.cast("long").alias("n_down"),
        r.cast("long").alias("n_runs"),
        F.round((r.cast("double") - mu) / F.sqrt(var), 4).alias("z"),
    )


@register(
    "q_kruskal_wallis",
    oracle="""
        WITH p AS (
            SELECT value, event_type,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY value, event_type
        ), vtot AS (
            SELECT value, CAST(SUM(c) AS BIGINT) AS cv FROM p GROUP BY value
        ), r AS (
            SELECT p.value, p.event_type, p.c,
                   CAST(SUM(v2.cv) AS BIGINT) - MAX(vt.cv) AS before_cnt,
                   MAX(vt.cv) AS cv
            FROM p
            JOIN vtot vt ON vt.value = p.value
            JOIN vtot v2 ON v2.value <= p.value
            GROUP BY p.value, p.event_type, p.c
        ), grp AS (
            SELECT event_type,
                   CAST(SUM(c) AS BIGINT) AS n_j,
                   CAST(SUM(c * (2 * before_cnt + cv + 1)) AS BIGINT) AS s2_j
            FROM r GROUP BY event_type
        ), tot AS (
            SELECT CAST(SUM(n_j) AS BIGINT) AS n FROM grp
        ), terms AS (
            SELECT event_type, n_j, s2_j,
                   (CAST(s2_j AS HUGEINT) * s2_j) // n_j AS t_j
            FROM grp
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
               MAX(t.n) AS n,
               CAST((3000000 * CAST(SUM(t_j) AS HUGEINT))
                    // (CAST(MAX(t.n) AS HUGEINT) * (MAX(t.n) + 1))
                    - CAST(3 AS HUGEINT) * (MAX(t.n) + 1) * 1000000
                    AS BIGINT) AS h_micro
        FROM terms CROSS JOIN tot t
    """,
    tags=("stats", "window"),
)
def q_kruskal_wallis(spark, sf_dir):
    """Kruskal–Wallis H (the k-sample extension of q_mw_utest): do
    the five event types draw `value` from the same distribution?
    H = 12/(N(N+1)) Σ R_j²/n_j − 3(N+1) with midrank ties — computed
    ENTIRELY on integers via doubled rank sums S_j = 2·R_j:
    H = 3/(N(N+1)) Σ S_j²/n_j − 3(N+1), each S_j² div n_j
    floor-quantized, the ratio scaled 1e6 at the END (uncorrected for
    the tie factor, documented — the correction divides by
    1−Σ(t³−t)/(N³−N), a consumer-side exact rational). The per-term
    floor runs in DECIMAL via the mod-subtract identity (Spark's div
    casts to LONG, which t_j outgrows at sf1); DECIMAL(38,0)/HUGEINT
    headroom sized for sf100 (S_j² ≈ 1.6e31 at N = 10⁸).

    Plan: the pooled midranks come from the distinct-(value) frame
    exactly as q_mw_utest (one re-agg + the TWO-PHASE range-bucketed
    `global_scan_salted` cumulative count — spelled as a bounded
    self-join in the oracle), then a 5-group reduce and one
    single-row combine.
    """
    from flink_rc_spark.operators.windows import global_scan_salted

    ev = load(spark, sf_dir, "events")
    # p is read twice (the rank frame + the r join below)
    p = (
        ev.groupBy("value", "event_type")
        .agg(F.count("*").alias("c"))
        .transform(checkpoint, eager=True)
    )
    vtot = p.groupBy("value").agg(F.sum("c").alias("cv"))
    vrank = global_scan_salted(
        vtot,
        "value",
        [F.col("value")],
        [{"kind": "sum", "value": F.col("cv"), "out": "_cum",
          "exclusive": False}],
    ).select(
        "value", "cv", (F.col("_cum") - F.col("cv")).alias("before_cnt")
    )
    r = p.join(vrank, "value")
    grp = r.groupBy("event_type").agg(
        F.sum("c").alias("n_j"),
        F.sum(
            F.col("c")
            * (F.lit(2) * F.col("before_cnt") + F.col("cv") + F.lit(1))
        )
        .cast("long")
        .alias("s2_j"),
    )
    tot = grp.agg(F.sum("n_j").alias("n"))
    # exact floor of DECIMAL/long WITHOUT div's long cast (t_j passes
    # 9.2e18 at sf1): subtract the exact decimal remainder, then the
    # division is exact (numerator divisible by n_j)
    terms = grp.select(
        "event_type",
        "n_j",
        F.expr(
            "CAST((CAST(CAST(s2_j AS DECIMAL(19,0)) * s2_j AS DECIMAL(38,0))"
            " - CAST(CAST(s2_j AS DECIMAL(19,0)) * s2_j AS DECIMAL(38,0))"
            " % n_j) / n_j AS DECIMAL(38,0))"
        ).alias("t_j"),
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").alias("k_groups"),
            F.max("n").alias("n"),
            F.expr(
                "CAST(CAST(3000000 AS DECIMAL(20,0)) * SUM(t_j)"
                " AS DECIMAL(38,0))"
                " div (CAST(MAX(n) AS DECIMAL(20,0)) * (MAX(n) + 1))"
                " - 3 * (MAX(n) + 1) * 1000000"
            ).cast("long").alias("h_micro"),
        )
    )


@register(
    "q_anova_oneway",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_j,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS s_j,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)
                            * CAST(CAST(value AS DECIMAL(18,2)) * 100
                                   AS BIGINT)) AS BIGINT) AS q_j
            FROM events GROUP BY event_type
        ), t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_j) AS BIGINT) AS n,
                   CAST(SUM(s_j) AS BIGINT) AS s,
                   CAST(SUM(q_j) AS BIGINT) AS q,
                   CAST(SUM((CAST(s_j AS HUGEINT) * s_j) // n_j) AS HUGEINT)
                     AS t_sum
            FROM g
        )
        SELECT k, n,
               CAST(t_sum - (CAST(s AS HUGEINT) * s) // n AS BIGINT)
                 AS ssb_c2,
               CAST(CAST(q AS HUGEINT) - t_sum AS BIGINT) AS ssw_c2,
               ROUND((CAST(t_sum - (CAST(s AS HUGEINT) * s) // n AS DOUBLE)
                      / (k - 1))
                     / (CAST(CAST(q AS HUGEINT) - t_sum AS DOUBLE)
                        / (n - k)), 4) AS f_stat
        FROM t
    """,
    tags=("stats", "agg"),
)
def q_anova_oneway(spark, sf_dir):
    """One-way ANOVA of event value across the five event types — the
    parametric sibling of q_kruskal_wallis: between-group and
    within-group sums of squares computed ENTIRELY on integer cents
    (SSB = Σ s_j²/n_j − S²/N and SSW = Σx² − Σ s_j²/n_j, each
    s²-over-n floor-quantized to whole cents² — the Kruskal–Wallis
    mod-free spelling works here because the s_j² div n_j quotients
    stay under 9.2e18 through sf1; the F statistic is one fixed IEEE
    expression over those integers, rounded once (the q_ab_ztest
    float policy).

    Plan: ONE map-side-combined hash agg to the 5-group moment frame,
    then a single-row reduce — variance decomposition at 100 TB costs
    exactly one scan.
    """
    ev = load(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n_j"),
        F.sum(cents).cast("long").alias("s_j"),
        F.sum(cents * cents).cast("long").alias("q_j"),
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n_j").alias("n"),
        F.sum("s_j").alias("s"),
        F.sum("q_j").alias("q"),
        F.sum(
            F.expr(
                "CAST((CAST(s_j AS DECIMAL(19,0)) * s_j"
                " - CAST(s_j AS DECIMAL(19,0)) * s_j % n_j) / n_j"
                " AS DECIMAL(38,0))"
            )
        ).alias("t_sum"),
    )
    ssb = F.expr(
        "CAST(t_sum - CAST((CAST(s AS DECIMAL(19,0)) * s"
        " - CAST(s AS DECIMAL(19,0)) * s % n) / n AS DECIMAL(38,0))"
        " AS BIGINT)"
    )
    ssw = F.expr("CAST(CAST(q AS DECIMAL(38,0)) - t_sum AS BIGINT)")
    return t.select(
        "k",
        "n",
        ssb.alias("ssb_c2"),
        ssw.alias("ssw_c2"),
        F.round(
            (ssb.cast("double") / (F.col("k") - 1))
            / (ssw.cast("double") / (F.col("n") - F.col("k"))),
            4,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# q_welch_ttest — unequal-variance two-sample t (Welch) on integer cents
# ---------------------------------------------------------------------------

# The shared double pipeline (identical token-for-token in both
# engines): means in cents, unbiased per-group variance from exact
# bigint moments (n·Σx² − (Σx)² computed in DOUBLE — the bigint product
# overflows past ~sf1, and both engines run the same IEEE sequence), the
# Welch statistic, and the Welch–Satterthwaite df.
_WELCH_EXPR = """
    CASE WHEN n_a > 1 AND n_b > 1 THEN
        ROUND((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b)
              / sqrt(((CAST(n_a AS DOUBLE) * sxx_a
                       - CAST(sx_a AS DOUBLE) * sx_a)
                      / (CAST(n_a AS DOUBLE) * (n_a - 1.0))) / n_a
                     + ((CAST(n_b AS DOUBLE) * sxx_b
                         - CAST(sx_b AS DOUBLE) * sx_b)
                        / (CAST(n_b AS DOUBLE) * (n_b - 1.0))) / n_b),
              4)
    END
"""
# squares are spelled as explicit products (the _PQ_DIST precedent):
# pow() is libm-dependent and not guaranteed bit-identical across
# engines, while x*x is one IEEE multiply in both
_SE_A = (
    "(((CAST(n_a AS DOUBLE) * sxx_a - CAST(sx_a AS DOUBLE) * sx_a)"
    " / (CAST(n_a AS DOUBLE) * (n_a - 1.0))) / n_a)"
)
_SE_B = (
    "(((CAST(n_b AS DOUBLE) * sxx_b - CAST(sx_b AS DOUBLE) * sx_b)"
    " / (CAST(n_b AS DOUBLE) * (n_b - 1.0))) / n_b)"
)
_WELCH_DF_EXPR = f"""
    CASE WHEN n_a > 1 AND n_b > 1 THEN
        ROUND(({_SE_A} + {_SE_B}) * ({_SE_A} + {_SE_B})
              / ({_SE_A} * {_SE_A} / (n_a - 1.0)
                 + {_SE_B} * {_SE_B} / (n_b - 1.0)),
              2)
    END
"""


@register(
    "q_welch_ttest",
    oracle=f"""
        WITH x AS (
            SELECT event_type,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events WHERE event_type IN ('purchase', 'click')
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS sx_a,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS sx_b,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN c * c ELSE 0 END) AS BIGINT) AS sxx_a,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END) AS BIGINT) AS sxx_b
            FROM x
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 THEN ROUND(CAST(sx_a AS DOUBLE) / n_a / 100, 4) END AS mean_a,
               CASE WHEN n_b > 0 THEN ROUND(CAST(sx_b AS DOUBLE) / n_b / 100, 4) END AS mean_b,
               {_WELCH_EXPR} AS t_welch,
               {_WELCH_DF_EXPR} AS df_ws
        FROM s
    """,
    tags=("stats", "agg"),
)
def q_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test on event value
    (purchase vs click), with the Welch–Satterthwaite degrees of
    freedom — the default two-sample mean comparison when variances
    differ (pairs with q_ab_ztest's proportion z and q_mw_utest's
    rank alternative; q_anova_oneway covers k > 2).

    Determinism: the six moments are exact integer cents; every mean,
    variance, the t, and the df are ONE shared double expression text
    evaluated on those integers — the same IEEE sequence in Spark and
    DuckDB (the q_ab_ztest precedent), rounded once. The n·Σx² − (Σx)²
    variance runs in DOUBLE by design: the bigint product overflows
    past ~sf1, and exactness here lives in the moments, not the
    statistic.

    100 TB: one scan with a 2-value IN filter, one global
    partial+final aggregate of six counters; all statistics on one row.
    """
    ev = load(spark, sf_dir, "events")
    x = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    a = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    b = F.when(F.col("event_type") == "click", 1).otherwise(0)
    s = x.agg(
        F.sum(a).cast("long").alias("n_a"),
        F.sum(b).cast("long").alias("n_b"),
        F.sum(a * F.col("c")).cast("long").alias("sx_a"),
        F.sum(b * F.col("c")).cast("long").alias("sx_b"),
        F.sum(a * F.col("c") * F.col("c")).cast("long").alias("sxx_a"),
        F.sum(b * F.col("c") * F.col("c")).cast("long").alias("sxx_b"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.expr(
            "CASE WHEN n_a > 0 THEN ROUND(CAST(sx_a AS DOUBLE) / n_a / 100, 4) END"
        ).alias("mean_a"),
        F.expr(
            "CASE WHEN n_b > 0 THEN ROUND(CAST(sx_b AS DOUBLE) / n_b / 100, 4) END"
        ).alias("mean_b"),
        F.expr(_WELCH_EXPR).alias("t_welch"),
        F.expr(_WELCH_DF_EXPR).alias("df_ws"),
    )


# ---------------------------------------------------------------------------
# q_effect_size — Cohen's d / Hedges' g for the hash-armed A/B metric
# ---------------------------------------------------------------------------

# pooled-variance effect size from the same six exact moments; sp² uses
# the (n−1)-weighted pooled estimator, g applies the small-sample
# correction 1 − 3/(4N − 9)
_EFFECT_D_EXPR = """
    CASE WHEN n_a > 1 AND n_b > 1 THEN
        ROUND((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b)
              / sqrt(((CAST(n_a AS DOUBLE) * sxx_a
                       - CAST(sx_a AS DOUBLE) * sx_a)
                      / (CAST(n_a AS DOUBLE) * (n_a - 1.0)) * (n_a - 1.0)
                      + (CAST(n_b AS DOUBLE) * sxx_b
                         - CAST(sx_b AS DOUBLE) * sx_b)
                      / (CAST(n_b AS DOUBLE) * (n_b - 1.0)) * (n_b - 1.0))
                     / (n_a + n_b - 2.0)),
              6)
    END
"""


@register(
    "q_effect_size",
    oracle=f"""
        WITH armed AS (
            SELECT {ab_arm(duck=True)} AS arm,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS sx_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS sx_b,
                   CAST(SUM(CASE WHEN arm = 0 THEN c * c ELSE 0 END) AS BIGINT) AS sxx_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN c * c ELSE 0 END) AS BIGINT) AS sxx_b
            FROM armed
        )
        SELECT n_a, n_b,
               {_EFFECT_D_EXPR} AS cohen_d,
               CASE WHEN n_a > 1 AND n_b > 1 THEN
                   ROUND({_EFFECT_D_EXPR}
                         * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)), 6)
               END AS hedges_g
        FROM s
    """,
    tags=("stats", "agg"),
)
def q_effect_size(spark, sf_dir):
    """Standardized effect size of the hash-armed A/B split on event
    value: Cohen's d from the (n−1)-weighted pooled variance, plus
    Hedges' g (the small-sample bias correction) — the number an
    experimentation platform reports NEXT TO q_ab_ztest's
    significance, because with millions of exposures everything is
    significant and only the effect size says whether it matters.

    Arms are the same md5-parity assignment as q_ab_ztest
    (reproducible, partition-independent); moments are exact integer
    cents; d and g are one shared double expression text on those
    integers (rounded once) — and since the md5 arms are a genuinely
    random split of the same population, the measured d is a
    near-zero A/A reading, which is itself the honest calibration
    check a platform runs before trusting the pipeline.

    100 TB: one scan, one global partial+final aggregate of six
    counters; all statistics on one row.
    """
    ev = load(spark, sf_dir, "events")
    armed = ev.select(
        F.expr(ab_arm()).alias("arm"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    a = F.when(F.col("arm") == 0, 1).otherwise(0)
    b = F.when(F.col("arm") == 1, 1).otherwise(0)
    s = armed.agg(
        F.sum(a).cast("long").alias("n_a"),
        F.sum(b).cast("long").alias("n_b"),
        F.sum(a * F.col("c")).cast("long").alias("sx_a"),
        F.sum(b * F.col("c")).cast("long").alias("sx_b"),
        F.sum(a * F.col("c") * F.col("c")).cast("long").alias("sxx_a"),
        F.sum(b * F.col("c") * F.col("c")).cast("long").alias("sxx_b"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.expr(_EFFECT_D_EXPR).alias("cohen_d"),
        F.expr(
            f"""CASE WHEN n_a > 1 AND n_b > 1 THEN
                ROUND({_EFFECT_D_EXPR}
                      * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)), 6)
            END"""
        ).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# q_corr_spearman — Spearman rank correlation (tied-rank exact)
# ---------------------------------------------------------------------------

# Pearson on DOUBLED midranks (doubling both variables leaves r
# invariant and keeps every rank an exact integer — the q_mw_utest
# tie idiom). The final r is ONE shared double expression over the
# decimal moments, rounded once.
_SPEARMAN_R_EXPR = """
    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
"""


@register(
    "q_corr_spearman",
    oracle=f"""
        WITH pairs AS (
            SELECT o.o_orderkey,
                   CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
                   CAST(COUNT(*) AS BIGINT) AS yc
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_totalprice
        ),
        rx AS (
            SELECT xc,
                   2 * (CAST(SUM(COUNT(*)) OVER (ORDER BY xc) AS BIGINT)
                        - COUNT(*)) + COUNT(*) + 1 AS rx2
            FROM pairs GROUP BY xc
        ),
        ry AS (
            SELECT yc,
                   2 * (CAST(SUM(COUNT(*)) OVER (ORDER BY yc) AS BIGINT)
                        - COUNT(*)) + COUNT(*) + 1 AS ry2
            FROM pairs GROUP BY yc
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(rx2 AS HUGEINT)) AS HUGEINT) AS sx,
                   CAST(SUM(CAST(ry2 AS HUGEINT)) AS HUGEINT) AS sy,
                   CAST(SUM(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy,
                   CAST(SUM(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy
            FROM pairs JOIN rx USING (xc) JOIN ry USING (yc)
        )
        SELECT n, {_SPEARMAN_R_EXPR} AS rho
        FROM m
    """,
    tags=("stats", "window", "join"),
)
def q_corr_spearman(spark, sf_dir):
    """Spearman rank correlation between an order's total price and
    its line count — the monotone-association reading that survives
    outliers where Pearson doesn't. Midrank ties are handled exactly
    by ranking the DISTINCT-value frame (2·before + cnt + 1 doubled
    ranks, the q_mw_utest / q_kruskal_wallis idiom) and Pearson is
    computed on those integer doubled ranks — doubling is an affine
    map, so rho is unchanged while every moment stays exact
    (DECIMAL(38,0); Σrx·ry ≈ 1.4e19 at sf1 exceeds BIGINT). The final
    rho is one shared double expression, rounded once.

    Plan at 100 TB: one fact-side groupBy(orderkey) for the line
    counts, two distinct-VALUE rank frames (cardinality = distinct
    prices / distinct counts, not rows) joined back by value, then
    one six-counter global aggregate. The global rank windows upgrade
    to the two-pass range-partitioned prefix sum at true scale, same
    as q_ks_test.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("*").alias("yc"))
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("xc"),
            F.col("yc").cast("long").alias("yc"),
        )
        # pairs is read three times (both rank frames + the moment
        # join) — materialize the fact-side agg once
        .transform(checkpoint, eager=True)
    )
    from flink_rc_spark.operators.windows import global_scan_salted

    def ranked(df, col, out):
        # doubled midranks via the TWO-PHASE range-bucketed cumulative
        # count (no single-partition window over the distinct-value frame)
        g = df.groupBy(col).agg(F.count("*").alias("cnt"))
        return global_scan_salted(
            g,
            col,
            [F.col(col)],
            [{"kind": "sum", "value": F.col("cnt"), "out": "_cum",
              "exclusive": False}],
        ).select(
            col,
            (
                F.lit(2) * (F.col("_cum") - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(out),
        )
    rx = ranked(pairs, "xc", "rx2")
    ry = ranked(pairs, "yc", "ry2")
    m = (
        pairs.join(rx, "xc")
        .join(ry, "yc")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("rx2").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("ry2").cast("decimal(38,0)")).alias("sy"),
            F.sum(
                F.col("rx2").cast("decimal(19,0)") * F.col("rx2")
            ).alias("sxx"),
            F.sum(
                F.col("ry2").cast("decimal(19,0)") * F.col("ry2")
            ).alias("syy"),
            F.sum(
                F.col("rx2").cast("decimal(19,0)") * F.col("ry2")
            ).alias("sxy"),
        )
    )
    return m.select("n", F.expr(_SPEARMAN_R_EXPR).alias("rho"))


# ---------------------------------------------------------------------------
# q_cramers_v — Cramér's V over event_type × day-of-week
# ---------------------------------------------------------------------------


@register(
    "q_cramers_v",
    oracle="""
        WITH cell AS (
            SELECT event_type,
                   (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS dow,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, dow, o,
                   CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
                   CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
                   CAST(SUM(o) OVER () AS BIGINT) AS n
            FROM cell
        )
        SELECT MAX(n) AS n,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r_levels,
               CAST(COUNT(DISTINCT dow) AS BIGINT) AS c_levels,
               CAST(SUM((o * o * 100000) // (rt * ct)) AS BIGINT) AS sum_term_e5,
               ROUND(sqrt((CAST(CAST(SUM((o * o * 100000) // (rt * ct))
                                     AS BIGINT) AS DOUBLE) / 100000.0 - 1.0)
                          / (LEAST(COUNT(DISTINCT event_type),
                                   COUNT(DISTINCT dow)) - 1.0)), 6) AS cramers_v
        FROM tot
    """,
    tags=("stats", "agg"),
)
def q_cramers_v(spark, sf_dir):
    """Cramér's V — the [0,1]-normalized strength of association for
    the event_type × day-of-week contingency (q_chi2_test reports the
    statistic; V is the effect size a platform actually thresholds
    on). Day-of-week is epoch-day mod 7, an engine-neutral integer
    (named dow functions disagree on Sunday across engines).

    Exactness: the χ² kernel reuses q_chi2_test's floor-quantized
    Σ o²/(rt·ct) at 1e5 — and in V = sqrt(χ²/(N·min(r−1,c−1))) the N
    cancels against χ² = N·(Σ−1), so V is one double expression over
    the quantized integer alone, rounded once.

    Plan: one scan → 5×7 contingency hash agg → three windows over a
    35-row broadcast-size frame → single-row reduce.
    """
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type",
        (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) % 7).alias(
            "dow"
        ),
    ).agg(F.count("*").alias("o"))
    tot = cell.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).alias("ct"),
        F.sum("o")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    term_e5 = F.expr(
        "CAST(CAST(o AS DECIMAL(20,0)) * o * 100000 AS DECIMAL(38,0))"
        " div (rt * ct)"
    )
    return tot.agg(
        F.max("n").alias("n"),
        F.countDistinct("event_type").alias("r_levels"),
        F.countDistinct("dow").alias("c_levels"),
        F.sum(term_e5).cast("long").alias("sum_term_e5"),
        F.round(
            F.sqrt(
                (F.sum(term_e5).cast("long").cast("double") / 100000.0 - 1.0)
                / (
                    F.least(
                        F.countDistinct("event_type"), F.countDistinct("dow")
                    )
                    - 1.0
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q_levene_bf — Brown–Forsythe variance-equality test (median-centered)
# ---------------------------------------------------------------------------


@register(
    "q_levene_bf",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events
        ), med AS (
            SELECT event_type,
                   CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS med2
            FROM c GROUP BY event_type
        ), dev AS (
            SELECT c.event_type, abs(2 * c.c - m.med2) AS z
            FROM c JOIN med m USING (event_type)
        ), g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_j,
                   CAST(SUM(z) AS BIGINT) AS s_j,
                   CAST(SUM(z * z) AS BIGINT) AS q_j
            FROM dev GROUP BY event_type
        ), t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_j) AS BIGINT) AS n,
                   CAST(SUM(q_j) AS BIGINT) AS q,
                   CAST(SUM(s_j) AS BIGINT) AS s,
                   CAST(SUM((CAST(s_j AS HUGEINT) * s_j) // n_j) AS HUGEINT)
                     AS t_sum
            FROM g
        )
        SELECT k, n,
               CAST(t_sum - (CAST(s AS HUGEINT) * s) // n AS BIGINT)
                 AS ssb_z2,
               CAST(CAST(q AS HUGEINT) - t_sum AS BIGINT) AS ssw_z2,
               ROUND((CAST(t_sum - (CAST(s AS HUGEINT) * s) // n AS DOUBLE)
                      / (k - 1))
                     / (CAST(CAST(q AS HUGEINT) - t_sum AS DOUBLE)
                        / (n - k)), 4) AS bf_stat
        FROM t
    """,
    tags=("stats", "agg", "join"),
)
def q_levene_bf(spark, sf_dir):
    """Brown–Forsythe test (Levene with MEDIAN centers — the robust
    default): do the five event types have equal value spread? The
    ANOVA that q_anova_oneway runs on means is rerun on absolute
    deviations from each group's median, which is what makes the test
    robust to heavy tails.

    Exactness: per-group medians interpolate integer cents with the
    shared (n−1)·q convention (Spark `percentile` ≡ DuckDB
    `quantile_cont`), so 2·median is an EXACT integer and every
    deviation z = |2c − med2| is a bigint; the F statistic then
    reuses q_anova_oneway's integer sum-of-squares decomposition
    verbatim (s_j²/n_j floor-quantized, one rounded double at the
    end). z² ≤ 4e10 · 1e7 rows ≈ 4e17 stays in BIGINT through sf10;
    the documented sf100 upgrade is DECIMAL(38,0) sums.

    Plan: one scan for the 5 exact medians (per-group percentile is a
    single hash agg), broadcast the 5-row median table back onto the
    fact scan, then the same one-pass moment aggregate as ANOVA.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    med = c.groupBy("event_type").agg(
        (F.expr("percentile(c, 0.5)") * 2).cast("long").alias("med2")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("c") - F.col("med2")).alias("z")
    )
    g = dev.groupBy("event_type").agg(
        F.count("*").alias("n_j"),
        F.sum("z").cast("long").alias("s_j"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("q_j"),
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n_j").alias("n"),
        F.sum("q_j").alias("q"),
        F.sum("s_j").alias("s"),
        F.sum(
            F.expr(
                "CAST((CAST(s_j AS DECIMAL(19,0)) * s_j"
                " - CAST(s_j AS DECIMAL(19,0)) * s_j % n_j) / n_j"
                " AS DECIMAL(38,0))"
            )
        ).alias("t_sum"),
    )
    ssb = F.expr(
        "CAST(t_sum - CAST((CAST(s AS DECIMAL(19,0)) * s"
        " - CAST(s AS DECIMAL(19,0)) * s % n) / n AS DECIMAL(38,0))"
        " AS BIGINT)"
    )
    ssw = F.expr("CAST(CAST(q AS DECIMAL(38,0)) - t_sum AS BIGINT)")
    return t.select(
        "k",
        "n",
        ssb.alias("ssb_z2"),
        ssw.alias("ssw_z2"),
        F.round(
            (ssb.cast("double") / (F.col("k") - 1))
            / (ssw.cast("double") / (F.col("n") - F.col("k"))),
            4,
        ).alias("bf_stat"),
    )


# ---------------------------------------------------------------------------
# q_odds_ratio — 2×2 odds ratio with Haldane–Anscombe CI
# ---------------------------------------------------------------------------

# ln via the atanh series: ln(x) = 2·t·Σ t^{2k}/(2k+1), t=(x−1)/(x+1),
# truncated at k=7 (Horner over u=t²). Pure +,*,/ arithmetic — the SAME
# IEEE sequence in both engines, unlike libm ln which is 1-ulp
# engine-dependent and flipped a ROUND boundary in testing. For
# OR ∈ [1/4, 4] (|t| ≤ 0.6) the truncation error < 6e-6·t¹⁷ — far
# below the 1e-6 quantum for any OR this contingency can produce; the
# truncated series IS the key's defined statistic (documented).
# every literal is spelled in e0 scientific notation: bare `1.0` is a
# DECIMAL literal in Spark SQL (and DuckDB), which would silently turn
# the whole expression into decimal arithmetic — `1e0` is DOUBLE in both
_OR_T = "((orr - 1e0) / (orr + 1e0))"
_OR_U = f"({_OR_T} * {_OR_T})"
_OR_LOG_EXPR = (
    f"(2e0 * {_OR_T} * ((((((({_OR_U} * (1e0/15e0) + (1e0/13e0))"
    f" * {_OR_U} + (1e0/11e0)) * {_OR_U} + (1e0/9e0)) * {_OR_U}"
    f" + (1e0/7e0)) * {_OR_U} + (1e0/5e0)) * {_OR_U} + (1e0/3e0))"
    f" * {_OR_U} + 1e0))"
)
_OR_SE_EXPR = """
    sqrt(1e0 / (a + 5e-1) + 1e0 / (b + 5e-1)
         + 1e0 / (c + 5e-1) + 1e0 / (d + 5e-1))
"""


@register(
    "q_odds_ratio",
    oracle=f"""
        WITH x AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS e,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ), t AS (
            SELECT CAST(SUM(e * y) AS BIGINT) AS a,
                   CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
                   CAST(SUM((1 - e) * y) AS BIGINT) AS c,
                   CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d
            FROM x
        ), t2 AS (
            SELECT a, b, c, d,
                   ((a + 5e-1) * (d + 5e-1)) / ((b + 5e-1) * (c + 5e-1)) AS orr
            FROM t
        )
        SELECT a, b, c, d,
               CAST((CAST(a AS HUGEINT) * d * 1000000) // (CAST(b AS HUGEINT) * c)
                    AS BIGINT) AS or_micro,
               ROUND({_OR_LOG_EXPR}, 6) AS log_or,
               ROUND({_OR_SE_EXPR}, 6) AS se_log_or,
               ROUND({_OR_LOG_EXPR} - 196e-2 * {_OR_SE_EXPR}, 6) AS ci_lo_log,
               ROUND({_OR_LOG_EXPR} + 196e-2 * {_OR_SE_EXPR}, 6) AS ci_hi_log
        FROM t2
    """,
    tags=("stats", "agg"),
)
def q_odds_ratio(spark, sf_dir):
    """2×2 odds ratio of (urgent priority) × (order fully shipped)
    with the Haldane–Anscombe +0.5 continuity correction and the Wald
    confidence interval reported in LOG space — the epidemiology /
    A-B readout that complements q_ab_ztest's difference-of-
    proportions with a multiplicative effect.

    Exactness: the four cells are exact integers from one aggregate;
    or_micro is the exact floor of the integer cross-ratio (HUGEINT /
    DECIMAL(38,0) cross-multiplication — no division drift); log-OR is
    NOT libm ln (which proved 1-ulp engine-dependent and flipped a
    ROUND boundary) but the defined 8-term atanh-series statistic
    (_OR_LOG_EXPR) — pure +,*,/ on the staged orr double, the same
    IEEE sequence in both engines, truncation ≪ 1e-6 for
    OR ∈ [1/4, 4]; SE and CI bounds are shared double expressions
    (sqrt is IEEE-exact), each rounded once.

    Plan: one scan, one 4-counter partial+final aggregate, all
    statistics on one row.
    """
    o = load(spark, sf_dir, "orders")
    e = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    t = o.agg(
        F.sum(e * y).cast("long").alias("a"),
        F.sum(e * (1 - y)).cast("long").alias("b"),
        F.sum((1 - e) * y).cast("long").alias("c"),
        F.sum((1 - e) * (1 - y)).cast("long").alias("d"),
    ).withColumn(
        "orr",
        F.expr("((a + 5e-1) * (d + 5e-1)) / ((b + 5e-1) * (c + 5e-1))"),
    )
    return t.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "CAST(CAST(CAST(a AS DECIMAL(19,0)) * d * 1000000 AS DECIMAL(38,0))"
            " div (CAST(b AS DECIMAL(19,0)) * c) AS BIGINT)"
        ).alias("or_micro"),
        F.round(F.expr(_OR_LOG_EXPR), 6).alias("log_or"),
        F.round(F.expr(_OR_SE_EXPR), 6).alias("se_log_or"),
        F.round(F.expr(f"{_OR_LOG_EXPR} - 196e-2 * {_OR_SE_EXPR}"), 6).alias(
            "ci_lo_log"
        ),
        F.round(F.expr(f"{_OR_LOG_EXPR} + 196e-2 * {_OR_SE_EXPR}"), 6).alias(
            "ci_hi_log"
        ),
    )


# ---------------------------------------------------------------------------
# q_kendall_tau — Kendall τ-b on the bounded nation-level frame
# ---------------------------------------------------------------------------


@register(
    "q_kendall_tau",
    oracle="""
        WITH cust AS (
            SELECT c_nationkey AS k,
                   CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM customer GROUP BY c_nationkey
        ), supp AS (
            SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS y
            FROM supplier GROUP BY s_nationkey
        ), g AS (
            SELECT cust.k, cust.s, cust.n, supp.y
            FROM cust JOIN supp USING (k)
        ), p AS (
            SELECT CAST(g1.s AS HUGEINT) * g2.n
                     - CAST(g2.s AS HUGEINT) * g1.n AS dx,
                   g1.y - g2.y AS dy
            FROM g g1 JOIN g g2 ON g2.k > g1.k
        ), agg AS (
            SELECT CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS k_items,
                   CAST(COUNT(*) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN (dx > 0 AND dy > 0)
                                   OR (dx < 0 AND dy < 0)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c_pairs,
                   CAST(SUM(CASE WHEN (dx > 0 AND dy < 0)
                                   OR (dx < 0 AND dy > 0)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d_pairs,
                   CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS tx_pairs,
                   CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS ty_pairs
            FROM p
        )
        SELECT k_items, n0, c_pairs, d_pairs, tx_pairs, ty_pairs,
               CASE WHEN n0 > tx_pairs AND n0 > ty_pairs THEN
                   ROUND(CAST(c_pairs - d_pairs AS DOUBLE)
                         / sqrt(CAST(n0 - tx_pairs AS DOUBLE)
                                * CAST(n0 - ty_pairs AS DOUBLE)), 6)
               END AS tau_b
        FROM agg
    """,
    tags=("stats", "agg", "join"),
)
def q_kendall_tau(spark, sf_dir):
    """Kendall τ-b between a nation's mean customer account balance
    and its supplier count — the rank-concordance reading on the
    25-row nation rollup (the bounded-dimension sibling of
    q_corr_spearman, which ranks the full fact table).

    Exactness: the mean comparison never divides — xi vs xj is the
    cross-multiplied sign of s_i·n_j − s_j·n_i, exact in
    BIGINT/HUGEINT through sf100 (s ≤ 2.4e12 cents · n ≤ 2.4e6); the
    concordant / discordant / tied counts are integers, and τ-b is
    one shared double expression over them, rounded once.

    Plan at 100 TB: two fact-side hash aggs reduce everything to the
    K-row dimension rollup; pair enumeration then runs INSIDE one
    collected array row via higher-order functions (K² work on a
    bounded K — no join operator, no shuffle; the oracle spells the
    same pairs as a self-join). A thousand-level dimension costs ~5e5
    array ops on one executor — still sub-second.
    """
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    cg = cust.groupBy(F.col("c_nationkey").alias("k")).agg(
        F.sum(cents).cast("long").alias("s"), F.count("*").alias("n")
    )
    sg = supp.groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count("*").alias("y")
    )
    g = cg.join(sg, "k")
    arr = g.agg(
        F.collect_list(F.struct("k", "s", "n", "y")).alias("a"),
        F.count("*").alias("k_items"),
    )
    _dx = "(CAST(xi.s AS DECIMAL(38,0)) * xj.n - CAST(xj.s AS DECIMAL(38,0)) * xi.n)"
    _dy = "(xi.y - xj.y)"

    def pair_count(cond: str):
        return F.expr(
            "aggregate(transform(a, xi -> CAST(size(filter(a, xj -> "
            f"xj.k > xi.k AND ({cond}))) AS BIGINT)), 0L, (acc, v) -> acc + v)"
        )

    out = arr.select(
        "k_items",
        (F.col("k_items") * (F.col("k_items") - 1) / 2)
        .cast("long")
        .alias("n0"),
        pair_count(
            f"({_dx} > 0 AND {_dy} > 0) OR ({_dx} < 0 AND {_dy} < 0)"
        ).alias("c_pairs"),
        pair_count(
            f"({_dx} > 0 AND {_dy} < 0) OR ({_dx} < 0 AND {_dy} > 0)"
        ).alias("d_pairs"),
        pair_count(f"{_dx} = 0").alias("tx_pairs"),
        pair_count(f"{_dy} = 0").alias("ty_pairs"),
    )
    return out.select(
        "k_items",
        "n0",
        "c_pairs",
        "d_pairs",
        "tx_pairs",
        "ty_pairs",
        F.when(
            (F.col("n0") > F.col("tx_pairs"))
            & (F.col("n0") > F.col("ty_pairs")),
            F.round(
                (F.col("c_pairs") - F.col("d_pairs")).cast("double")
                / F.sqrt(
                    (F.col("n0") - F.col("tx_pairs")).cast("double")
                    * (F.col("n0") - F.col("ty_pairs")).cast("double")
                ),
                6,
            ),
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# q_mann_kendall — monotone-trend test on the bounded daily series
# ---------------------------------------------------------------------------


@register(
    "q_mann_kendall",
    oracle="""
        WITH daily AS (
            SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS d,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS x
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ), p AS (
            SELECT CASE WHEN d2.x > d1.x THEN 1
                        WHEN d2.x < d1.x THEN -1 ELSE 0 END AS sgn
            FROM daily d1 JOIN daily d2 ON d2.d > d1.d
        ), ties AS (
            SELECT CAST(SUM(2 * cnt * cnt + 7 * cnt) AS BIGINT) AS tie_term
            FROM (
                SELECT CAST(COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT)
                         AS cnt
                FROM daily
            )
        ), agg AS (
            SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
                   CAST(SUM(sgn) AS BIGINT) AS s_stat
            FROM p
        )
        SELECT n_days, s_stat,
               CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                    - tie_term AS BIGINT) AS var18,
               ROUND(CASE WHEN s_stat > 0 THEN
                            CAST(s_stat - 1 AS DOUBLE)
                            / sqrt(CAST(n_days * (n_days - 1)
                                        * (2 * n_days + 5) - tie_term
                                        AS DOUBLE) / 18e0)
                          WHEN s_stat < 0 THEN
                            CAST(s_stat + 1 AS DOUBLE)
                            / sqrt(CAST(n_days * (n_days - 1)
                                        * (2 * n_days + 5) - tie_term
                                        AS DOUBLE) / 18e0)
                          ELSE 0e0 END, 4) AS z_mk
        FROM agg CROSS JOIN ties
    """,
    tags=("stats", "timeseries", "agg"),
)
def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotone-trend test on daily purchase revenue —
    the nonparametric "is this metric drifting?" check a platform
    runs on every KPI series. S = Σ_{i<j} sign(x_j − x_i) with the
    tie-corrected variance Var = (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18
    and the continuity-corrected Z.

    Exactness: daily totals are exact integer cents from one hash
    agg; S and the tie term are integers (the per-group t(t−1)(2t+5)
    is re-expressed per ELEMENT as 2·cnt² + 7·cnt with
    cnt = group size − 1, so the array pass needs no group-by);
    Z is one shared double expression, rounded once.

    Plan at 100 TB: the fact scan reduces to the bounded daily frame
    (30 rows here; a decade of days is still ~3.7k), pair work runs
    inside one collected array row (HOFs, no join) — O(days²) on a
    broadcast-size series, exactly like q_kendall_tau.
    """
    ev = load(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias(
                "d"
            )
        )
        .agg(F.sum(cents).cast("long").alias("x"))
    )
    arr = daily.agg(
        F.collect_list(F.struct("d", "x")).alias("a"),
        F.count("*").alias("n_days"),
    )
    s_stat = F.expr(
        "aggregate(transform(a, xi -> "
        "CAST(size(filter(a, xj -> xj.d > xi.d AND xj.x > xi.x)) AS BIGINT)"
        " - CAST(size(filter(a, xj -> xj.d > xi.d AND xj.x < xi.x)) AS BIGINT)"
        "), 0L, (acc, v) -> acc + v)"
    )
    tie_term = F.expr(
        "aggregate(transform(a, xi -> "
        "CAST(size(filter(a, xj -> xj.x = xi.x)) - 1 AS BIGINT)), 0L, "
        "(acc, v) -> acc + 2 * v * v + 7 * v)"
    )
    out = arr.select(
        "n_days",
        s_stat.alias("s_stat"),
        (
            F.col("n_days")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - tie_term
        )
        .cast("long")
        .alias("var18"),
    )
    z = F.expr(
        """CASE WHEN s_stat > 0 THEN
               CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18e0)
             WHEN s_stat < 0 THEN
               CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18e0)
             ELSE 0e0 END"""
    )
    return out.select(
        "n_days", "s_stat", "var18", F.round(z, 4).alias("z_mk")
    )


# ---------------------------------------------------------------------------
# q_theil_sen — robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------


@register(
    "q_theil_sen",
    oracle="""
        WITH daily AS (
            SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS d,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS x
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ), slopes AS (
            SELECT CAST(d2.x - d1.x AS DOUBLE) / (d2.d - d1.d) AS sl
            FROM daily d1 JOIN daily d2 ON d2.d > d1.d
        ), ranked AS (
            SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) AS rn,
                   COUNT(*) OVER () AS n0
            FROM slopes
        )
        SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
               CAST(MAX(n0) AS BIGINT) AS n_pairs,
               ROUND((SUM(CASE WHEN rn = (n0 + 1) // 2 THEN sl ELSE 0e0 END)
                      + SUM(CASE WHEN rn = (n0 + 2) // 2 THEN sl ELSE 0e0 END))
                     / 2e0, 6) AS slope_cpd
        FROM ranked
    """,
    tags=("stats", "timeseries", "agg"),
)
def q_theil_sen(spark, sf_dir):
    """Theil–Sen estimator for the daily purchase-revenue trend: the
    MEDIAN of all pairwise slopes (x_j − x_i)/(d_j − d_i) — the
    robust companion to q_regr_fit's least-squares slope (up to ~29%
    corrupted days cannot move it), reported in cents/day.

    Exactness: every slope is one integer-difference division — the
    identical IEEE divide in both engines; the median picks the two
    middle elements BY POSITION from the sorted slope multiset
    ((lo+hi)/2, exact when n_pairs is odd) — position among equal
    doubles is value-identical, so the result is deterministic.

    Plan at 100 TB: same shape as q_mann_kendall — fact scan → 30-row
    daily frame → array pair enumeration in one row (O(days²) on a
    bounded series), sort of a 435-element array. The oracle spells
    the identical multiset via a self-join + ROW_NUMBER.
    """
    ev = load(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias(
                "d"
            )
        )
        .agg(F.sum(cents).cast("long").alias("x"))
    )
    arr = daily.agg(
        F.collect_list(F.struct("d", "x")).alias("a"),
        F.count("*").alias("n_days"),
    )
    slopes = F.expr(
        "array_sort(flatten(transform(a, xi -> "
        "transform(filter(a, xj -> xj.d > xi.d), xj -> "
        "CAST(xj.x - xi.x AS DOUBLE) / (xj.d - xi.d)))))"
    )
    out = arr.select(
        "n_days", slopes.alias("sl"), F.size(slopes).cast("long").alias("n_pairs")
    )
    return out.select(
        "n_days",
        "n_pairs",
        F.round(
            (
                F.expr("element_at(sl, CAST((n_pairs + 1) div 2 AS INT))")
                + F.expr("element_at(sl, CAST((n_pairs + 2) div 2 AS INT))")
            )
            / F.lit(2.0),
            6,
        ).alias("slope_cpd"),
    )


# ---------------------------------------------------------------------------
# q_wilcoxon_signed — Wilcoxon signed-rank test on paired user metrics
# ---------------------------------------------------------------------------

# normal approximation on DOUBLED ranks: num = 2W+ − n(n+1)/2 (BIGINT;
# n(n+1) is even so /2 is exact), var2 = Var(2W+) =
# n(n+1)(2n+1)/6 − Σ(t³−t)/12: the /6 divides exactly (consecutive
# integers); the tie term FLOORS (t=2 ⇒ 6/12) — a ≤1 quantization on a
# huge integer, floored identically by both engines (the contract)
_WSR_Z = (
    "(CAST(num AS DOUBLE) / sqrt(CAST(var2 AS DOUBLE)))"
)


@register(
    "q_wilcoxon_signed",
    oracle=f"""
        WITH paired AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                       AS x,
                   CAST(SUM(CASE WHEN event_type = 'view'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                       AS y
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY user_id
            HAVING SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
               AND SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
        ), diffs AS (
            SELECT x - y AS d, abs(x - y) AS ad
            FROM paired WHERE x <> y
        ), grp AS (
            SELECT ad,
                   CAST(COUNT(*) AS BIGINT) AS t,
                   CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS pos
            FROM diffs GROUP BY ad
        ), ranked AS (
            SELECT t, pos,
                   CAST(SUM(t) OVER (ORDER BY ad) AS BIGINT) - t
                       AS before_cnt,
                   CAST(SUM(t) OVER () AS BIGINT) AS n
            FROM grp
        ), folded AS (
            SELECT MAX(n) AS n,
                   CAST(SUM(pos * (2 * before_cnt + t + 1)) AS BIGINT)
                       AS wplus_x2,
                   CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
            FROM ranked
        )
        SELECT n, wplus_x2,
               CAST(num AS BIGINT) AS num,
               CAST(var2 AS BIGINT) AS var2,
               ROUND({_WSR_Z}, 6) AS z,
               {_WSR_Z} * {_WSR_Z} > 3.841459e0 AS reject_symmetry
        FROM (
            SELECT n, wplus_x2,
                   wplus_x2 - n * (n + 1) // 2 AS num,
                   n * (n + 1) * (2 * n + 1) // 6 - tie3 // 12 AS var2
            FROM folded
        )
    """,
    tags=("stats", "window"),
)
def q_wilcoxon_signed(spark, sf_dir):
    """WILCOXON SIGNED-RANK test on PAIRED per-user metrics (total
    click spend vs total view spend for users with both) — the
    nonparametric paired-t: q_mw_utest compares two INDEPENDENT
    samples; this is the within-subject design every pre/post or
    same-user comparison needs. Normal approximation with midrank tie
    handling and the Σ(t³−t)/12 tie correction; 5% two-sided reject.

    Integer-exact via DOUBLED ranks (the q_mw_utest trick on |d|
    groups): 2W+ = Σ pos·(2b + t + 1) is a BIGINT; the centering term
    n(n+1)/2 and the n(n+1)(2n+1)/6 variance term divide exactly
    (consecutive-integer products); the Σ(t³−t)/12 tie term FLOORS —
    a ≤1 quantization on a huge integer, floored identically by both
    engines, so num and var2 are exactly-agreed BIGINTs — z is ONE
    division after ONE IEEE-exact sqrt, and
    the reject flag compares the shared-expression double against the
    exact square 1.959964² once per single row.

    Plan at 100 TB: one (user_id) hash agg pairs the metrics; the rank
    machinery runs over DISTINCT |d| values (q_ks_test's bounded
    cumulative window); the test algebra is single-row.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    paired = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0))
            .cast("bigint")
            .alias("y"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .alias("nc"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .alias("nv"),
        )
        .filter((F.col("nc") > 0) & (F.col("nv") > 0))
    )
    diffs = paired.filter(F.col("x") != F.col("y")).select(
        (F.col("x") - F.col("y")).alias("d"),
        F.abs(F.col("x") - F.col("y")).alias("ad"),
    )
    grp = diffs.groupBy("ad").agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    from flink_rc_spark.operators.windows import global_scan_salted

    grp = grp.transform(checkpoint, eager=True)  # shared by totals + scan
    tot = grp.agg(F.sum("t").cast("bigint").alias("n"))
    ranked = global_scan_salted(
        grp,
        "ad",
        [F.col("ad")],
        [{"kind": "sum", "value": F.col("t"), "out": "_cum",
          "exclusive": False}],
        materialize=False,
    ).crossJoin(F.broadcast(tot)).select(
        "t",
        "pos",
        (F.col("_cum") - F.col("t")).cast("bigint").alias("before_cnt"),
        "n",
    )
    folded = ranked.agg(
        F.max("n").alias("n"),
        F.sum(
            F.col("pos") * (2 * F.col("before_cnt") + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("wplus_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    alg = folded.select(
        "n",
        "wplus_x2",
        F.expr("wplus_x2 - n * (n + 1) DIV 2").cast("bigint").alias("num"),
        F.expr("n * (n + 1) * (2 * n + 1) DIV 6 - tie3 DIV 12")
        .cast("bigint")
        .alias("var2"),
    )
    return alg.select(
        "n",
        "wplus_x2",
        "num",
        "var2",
        F.expr(f"ROUND({_WSR_Z}, 6)").alias("z"),
        F.expr(f"{_WSR_Z} * {_WSR_Z} > 3.841459e0").alias(
            "reject_symmetry"
        ),
    )
