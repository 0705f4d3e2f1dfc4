"""Window-function queries (SURVEY.md §2.2 "Window functions").

These generalize the reference's sequential-stream idioms relationally:
R11 output-shift (k-step-ahead target pairing) = lag/lead; R10
running-MSE = cumulative frame aggregation (SURVEY.md §2.1).

Scale story (100 TB): a window = ONE shuffle on partitionBy keys +
per-partition sort. Partition keys here are user_id / priority — high
cardinality relative to data volume, so partitions stay small; a
skewed window key would be handled by pre-aggregating or bucketing
the heavy key. Running/moving double sums go through DECIMAL so the
frame aggregation is order-independent and hash-stable vs the oracle.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import dec
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources import load


def prefix_agg_salted(
    df,
    part_col: str,
    bucket_on: str,
    order_cols: list[str],
    value_col: str,
    n_buckets: int = 16,
    boundaries: list | None = None,
    out_sum: str = "running_sum",
    out_rn: str = "running_n",
    materialize: bool = True,
):
    """Skew-safe cumulative sum / running count for LOW-CARDINALITY
    window partition keys — the window twin of q_agg_salted.

    A plain `PARTITION BY key ORDER BY ...` window funnels each key
    into ONE task; with a 5-value key at 100 TB that is a straggler by
    construction. This helper computes the identical result as a
    range-bucketed two-phase prefix sum:

      1. bucket each row by range of `bucket_on` (boundaries from
         approxQuantile at planning time — monotone in the sort order,
         so every bucket holds a contiguous slice of the partition);
      2. local cumulative agg within (key, bucket) — parallelism is
         now key x n_buckets;
      3. per-(key, bucket) totals get a tiny exclusive prefix sum over
         buckets (rows = key x n_buckets, broadcast back), added to
         the local cumulative values.

    Decimal accumulation keeps the two-phase sum bit-identical to the
    single-window result (order-independent), which is what the
    equivalence test in tests/test_correctness.py asserts. `running_n`
    is the same trick with COUNT — equal to row_number when the order
    is total.
    """
    from flink_rc_spark.functions.exact import dec as _dec

    # single materialization of the input subtree — see
    # global_scan_salted's note (same three-read shape). LAZY: the
    # checkpoint persists during the first job that touches it (the
    # approxQuantile planning pass, or the final job when the caller
    # passes boundaries), so the helper never schedules a separate
    # materialize-only job — measured ~0.3-0.6 s of fixed per-call
    # overhead at sf0.1.
    if materialize:
        df = df.transform(checkpoint, eager=False)
    if boundaries is None:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        boundaries = df.approxQuantile(bucket_on, probs, 0.001)
    # non-null bucket contract enforced at RUNTIME (r8 advice: the old
    # otherwise(0) silently placed NULL keys in bucket 0, corrupting
    # every later bucket's offset): raise_error fires lazily only for
    # an actual null row.
    src = F.coalesce(
        F.col(bucket_on),
        F.raise_error(
            F.lit("prefix_agg_salted: bucket_on must be non-null")
        ),
    )
    bkt = F.lit(0)
    for b in boundaries:
        bkt = bkt + F.when(src >= F.lit(b), 1).otherwise(0)
    bucketed = df.withColumn("_bkt", bkt)

    w_local = (
        W.partitionBy(part_col, "_bkt")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = bucketed.withColumn(
        "_lsum", F.sum(_dec(value_col, 18, 2)).over(w_local)
    ).withColumn("_lrn", F.count("*").over(w_local))

    totals = bucketed.groupBy(part_col, "_bkt").agg(
        F.sum(_dec(value_col, 18, 2)).alias("_tsum"),
        F.count("*").alias("_trn"),
    )
    w_off = (
        W.partitionBy(part_col)
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = totals.select(
        part_col,
        "_bkt",
        F.coalesce(F.sum("_tsum").over(w_off), F.lit(0).cast("decimal(38,2)")).alias(
            "_osum"
        ),
        F.coalesce(F.sum("_trn").over(w_off), F.lit(0)).alias("_orn"),
    )
    return (
        local.join(F.broadcast(offsets), [part_col, "_bkt"])
        .withColumn(out_sum, (F.col("_lsum") + F.col("_osum")).cast("double"))
        .withColumn(out_rn, (F.col("_lrn") + F.col("_orn")).cast("long"))
        .drop("_bkt", "_lsum", "_lrn", "_osum", "_orn")
    )


def global_scan_salted(
    df,
    bucket_on,
    order_cols,
    specs,
    n_buckets: int = 32,
    descending: bool = False,
    materialize: bool = True,
    boundaries: list | None = None,
):
    """Skew-safe GLOBAL window scan — the empty-partition-spec twin of
    `prefix_agg_salted`, for cumulative aggregates / ranks over a
    TOTAL order with no partition key at all.

    A `Window.orderBy(...)` with no partitionBy funnels the whole
    frame through ONE task — the one systematic anti-pattern a 100 TB
    plan cannot carry. This computes the identical result as a
    range-bucketed two-phase scan:

      1. range-bucket rows on `bucket_on` (the PRIMARY sort key —
         boundaries from approxQuantile at planning time, so every
         bucket is a contiguous slice of the global order; equal keys
         always land in one bucket);
      2. local running agg within each bucket (parallelism =
         n_buckets);
      3. per-bucket totals get an exclusive prefix over the <=
         n_buckets-row bucket list (ordered by `_gss_bkt` — the
         structurally-bounded helper window the plan audit exempts),
         broadcast back and combined with the local value.

    `specs` is a list of dicts: {"kind": "sum"|"count"|"min",
    "value": Column (ignored for count), "out": name,
    "exclusive": bool} — exclusive scans use the UNBOUNDED
    PRECEDING..-1 frame (strict prefix). Sum/min require an
    associative exactly-representable type (long / decimal — never
    raw double), which is what makes the two-phase result
    bit-identical to the single-window form. `bucket_on` must be
    non-null and numeric-castable; pass `descending=True` when the
    total order's primary key is descending. A 'count' spec with a
    total order IS row_number.
    """
    # Materialize the scan input ONCE: the helper otherwise reads its
    # input subtree three times (the approxQuantile planning pass, the
    # bucketed local window, and the per-bucket totals agg) — measured
    # at +0.7-7.6 s per converted key at sf0.1. Callers that already
    # checkpointed (e.g. to share the frame with a separate totals
    # agg) pass materialize=False.
    if materialize:
        # LAZY checkpoint: persisted by whichever job touches it first
        # (quantile pass, or the final job when boundaries are given) —
        # the separate eager materialize-only job was pure fixed overhead
        df = df.transform(checkpoint, eager=False)
    src = F.col(bucket_on) if isinstance(bucket_on, str) else bucket_on
    src = src.cast("double")
    if descending:
        src = -src
    # non-null bucket contract enforced at RUNTIME (r8 advice: the old
    # otherwise(0) silently routed NULL keys to bucket 0, polluting
    # every later bucket's offsets and the null rows' own cumulative
    # values): raise_error fires lazily, only if a null row exists.
    src = F.coalesce(
        src,
        F.raise_error(
            F.lit("global_scan_salted: bucket_on must be non-null")
        ).cast("double"),
    )
    work = df.withColumn("_gss_src", src)
    if boundaries is None:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        boundaries = work.approxQuantile("_gss_src", probs, 0.001)
    bkt = F.lit(0)
    for bb in boundaries:
        bkt = bkt + F.when(F.col("_gss_src") >= F.lit(bb), 1).otherwise(0)
    work = work.withColumn("_gss_bkt", bkt).drop("_gss_src")

    w_incl = (
        W.partitionBy("_gss_bkt")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_excl = (
        W.partitionBy("_gss_bkt")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    total_aggs = []
    for i, s in enumerate(specs):
        w = w_excl if s.get("exclusive") else w_incl
        if s["kind"] == "count":
            work = work.withColumn(f"_gss_l{i}", F.count(F.lit(1)).over(w))
            total_aggs.append(F.count(F.lit(1)).alias(f"_gss_t{i}"))
        elif s["kind"] == "sum":
            work = work.withColumn(f"_gss_l{i}", F.sum(s["value"]).over(w))
            total_aggs.append(F.sum(s["value"]).alias(f"_gss_t{i}"))
        elif s["kind"] == "min":
            work = work.withColumn(f"_gss_l{i}", F.min(s["value"]).over(w))
            total_aggs.append(F.min(s["value"]).alias(f"_gss_t{i}"))
        else:  # pragma: no cover - caller bug
            raise ValueError(f"unknown scan kind {s['kind']!r}")

    totals = work.groupBy("_gss_bkt").agg(*total_aggs)
    w_off = (
        W.orderBy("_gss_bkt").rowsBetween(W.unboundedPreceding, -1)
    )
    off_cols = [F.col("_gss_bkt")]
    for i, s in enumerate(specs):
        if s["kind"] == "min":
            off_cols.append(
                F.min(f"_gss_t{i}").over(w_off).alias(f"_gss_o{i}")
            )
        else:
            off_cols.append(
                F.sum(f"_gss_t{i}").over(w_off).alias(f"_gss_o{i}")
            )
    offsets = totals.select(*off_cols)

    out = work.join(F.broadcast(offsets), "_gss_bkt")
    drop = ["_gss_bkt"]
    for i, s in enumerate(specs):
        l, o = F.col(f"_gss_l{i}"), F.col(f"_gss_o{i}")
        if s["kind"] == "min":
            comb = F.least(l, o)
        else:
            comb = F.when(o.isNull(), l).when(l.isNull(), o).otherwise(l + o)
        out = out.withColumn(s["out"], comb)
        drop += [f"_gss_l{i}", f"_gss_o{i}"]
    return out.drop(*drop)


def ntile_from_rn(rn, k: int, n):
    """Exact SQL NTILE(k) bucket from a global row_number `rn` and the
    frame size `n` (both Columns or ints) — the standard-SQL floor
    distribution (first n%k buckets hold one extra row), pure integer
    arithmetic, so it equals the engines' NTILE bit-for-bit. Lets a
    two-phase `global_scan_salted` count scan replace the
    single-partition NTILE window."""
    rn = F.lit(rn) if isinstance(rn, int) else rn
    n = F.lit(n) if isinstance(n, int) else n

    def idiv(x, d):  # exact integer floor-div on non-negative longs
        return ((x - (x % d)) / d).cast("long")

    base = idiv(n, F.lit(k))
    rem = (n % F.lit(k)).cast("long")
    cut = rem * (base + 1)
    return (
        F.when(rn <= cut, idiv(rn - 1, base + 1))
        .otherwise(rem + idiv(rn - cut - 1, base))
        .cast("long")
        + 1
    )


@register(
    "q_win_salted",
    oracle="""
        SELECT event_id,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_sum,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running_n
        FROM events
    """,
)
def q_win_salted(spark, sf_dir):
    """Skew-safe cumulative sum over a LOW-cardinality partition key
    (event_type, 5 values) via `prefix_agg_salted` — the declared
    showcase of the two-phase range-bucketed prefix aggregation.

    The ORACLE is the plain single-window SQL: the driver's value hash
    therefore PROVES the salted plan computes exactly the straggler
    plan's answer. A plain `PARTITION BY event_type` window at 100 TB
    puts ~1/5 of the table in one task; this plan's parallelism is
    key x n_buckets with two tiny extra stages (per-bucket totals +
    broadcast offsets). Bucket boundaries come from approxQuantile at
    planning time; correctness is boundary-independent (any monotone
    bucketing yields the identical result).
    """
    e = (
        load(spark, sf_dir, "events")
        .withColumn("us", F.unix_micros("ts"))
        .select("event_id", "event_type", "us", "value")
    )
    return prefix_agg_salted(
        e,
        part_col="event_type",
        bucket_on="us",
        order_cols=["us", "event_id"],
        value_col="value",
    ).select("event_id", "event_type", "running_sum", "running_n")


@register(
    "q_win_ranking",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn,
               RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_orderstatus) AS rnk,
               DENSE_RANK() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderstatus) AS drnk,
               NTILE(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS quartile
        FROM orders
    """,
)
def q_win_ranking(spark, sf_dir):
    """row_number / rank / dense_rank / ntile.

    row_number+ntile order includes the unique o_orderkey tiebreak
    (deterministic across engines); rank/dense_rank order by a
    low-cardinality column so tie semantics are actually exercised
    (rank depends only on value equality → still deterministic).

    Scale note (measured, BASELINE.md sf1 table: 2.46x @ 10x — the
    round's worst headline ratio): PARTITION BY o_orderpriority has 5
    distinct values, so parallelism caps at 5 regardless of cluster
    width and per-partition sort work grows linearly — the inherent
    cost of global ranking within huge partitions. At 100 TB you
    don't run this plan: use the two-phase range-bucketed prefix
    ranking q_win_salted demonstrates (bucket-local rank + tiny
    offset join), or a top-k cut (q_topk_per_group) when only the
    head matters. Kept as-is here because the key's contract is the
    rank-function family semantics, not the skew workaround.
    """
    o = load(spark, sf_dir, "orders")
    w_unique = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_ties = W.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.ntile(4).over(w_unique).alias("quartile"),
    )


@register(
    "q_win_lag_lead",
    oracle="""
        SELECT event_id,
               user_id,
               LAG(value, 1) OVER w AS prev_value,
               LEAD(value, 2) OVER w AS next2_value,
               LAG(event_type, 1, 'none') OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_win_lag_lead(spark, sf_dir):
    """lag/lead — the reference's k-step-ahead shift (R11) generalized.
    Pass-through values (no arithmetic) → exact cross-engine."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 2).over(w).alias("next2_value"),
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
    )


@register(
    "q_win_running",
    oracle="""
        SELECT event_id,
               user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_sum,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running_avg
        FROM events
    """,
)
def q_win_running(spark, sf_dir):
    """Cumulative sum/avg per user — the reference's running-MSE shape
    (R10) as a frame aggregation; decimal-exact."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running_sum = F.sum(dec("value", 18, 2)).over(w).cast("double")
    return e.select(
        "event_id",
        "user_id",
        running_sum.alias("running_sum"),
        (running_sum / F.count("*").over(w)).alias("running_avg"),
    )


@register(
    "q_win_moving",
    oracle="""
        SELECT event_id,
               user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   AS moving_avg_4
        FROM events
    """,
)
def q_win_moving(spark, sf_dir):
    """Moving average over a 4-row sliding frame (decimal-exact)."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        (F.sum(dec("value", 18, 2)).over(w).cast("double") / F.count("*").over(w)).alias(
            "moving_avg_4"
        ),
    )


@register(
    "q_win_range_frame",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority,
               COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                              RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW)
                   AS n_within_10k,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                          RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS sum_within_10k
        FROM orders
    """,
)
def q_win_range_frame(spark, sf_dir):
    """RANGE frame with value-based bounds — computed as the DIFFERENCE
    OF TWO GROWING FRAMES instead of Spark's naive sliding frame.

    A literal `RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW` runs as
    SlidingWindowFunctionFrame, which re-aggregates the whole frame for
    every row: O(rows x frame-density) — measured 4.0 s at sf0.1
    (~545 rows/frame). Frames with an UNBOUNDED PRECEDING start are
    incremental (rows only ever enter), so
        agg[v-10000 <= x <= v] = agg[x <= v] - agg[x <= v-10000-eps]
    runs in O(rows) — measured 4.0 s -> 1.1 s at sf0.1 (3.6x). The ordering key is integer
    CENTS so the epsilon boundary (PRECEDING bounds are inclusive) is
    exact: subtract the frame ending at v-1000001 cents. The oracle
    stays the plain RANGE spelling, so the driver's value hash PROVES
    the rewrite. Peer semantics line up: RANGE + CURRENT ROW includes
    the full peer group in both forms.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    w_upto = (
        W.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    w_before = (
        W.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, -1_000_001)
    )
    zero = F.lit(0).cast("decimal(22,2)")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.count("*").over(w_upto) - F.count("*").over(w_before)).alias(
            "n_within_10k"
        ),
        (
            F.sum(dec("o_totalprice")).over(w_upto)
            - F.coalesce(F.sum(dec("o_totalprice")).over(w_before), zero)
        )
        .cast("double")
        .alias("sum_within_10k"),
    )


@register(
    "q_win_first_last",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority,
               FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
               LAST_VALUE(o_orderkey) OVER w AS priciest_key,
               NTH_VALUE(o_orderkey, 2) OVER w AS second_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_first_last(spark, sf_dir):
    """first_value / last_value / nth_value with a full-partition frame
    (the frame makes last_value meaningful and cross-engine stable)."""
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w).alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@register(
    "q_win_distribution",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               ROUND(percent_rank() OVER w, 6) AS pr,
               ROUND(cume_dist() OVER w, 6) AS cd
        FROM orders
        WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderpriority, o_orderkey
    """,
)
def q_win_distribution(spark, sf_dir):
    """Distribution window functions: percent_rank and cume_dist per
    priority partition (ranks are ratios of ints — identical doubles
    both engines; rounded for hash stability). Same shuffle shape as
    q_win_ranking: one exchange on the partition key."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    ).orderBy("o_orderpriority", "o_orderkey")


@register(
    "q_win_median",
    oracle="""
        WITH c AS (
            SELECT event_id, event_type, ts,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
            FROM events
        ),
        w AS (
            SELECT event_id, event_type,
                   list_sort(list(cents) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS s
            FROM c
        )
        SELECT event_id, event_type,
               CAST(len(s) AS BIGINT) AS n_win,
               (s[(len(s) + 1) // 2] + s[len(s) // 2 + 1]) / 200.0
                   AS moving_median
        FROM w
        ORDER BY event_id
    """,
    tags=("window",),
)
def q_win_median(spark, sf_dir):
    """EXACT moving median (7-row centered window per event type) —
    the robust smoother dashboards want where q_win_moving's mean is
    outlier-fragile. Spark has no built-in sliding median, so this is
    the composition the engine makes natural: collect the frame,
    sort, index the middle — O(w log w) per row with w = 7, all
    codegen'd array HOFs.

    Exactness protocol: values quantize to integer CENTS before the
    window, the two middle elements are summed as integers (odd
    frames: the middle twice), and ONE double division by 200.0
    yields the median — no float rounding anywhere, so the hash
    matches even where an interpolated double median would sit on a
    rounding boundary. 100 TB: one window exchange per type, frame
    memory O(w); a wide-window variant swaps to the two-heap or
    t-digest streaming median, documented here as the scale path.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    s = F.sort_array(F.collect_list("cents").over(w))
    n = F.size(s)
    a = F.element_at(s, ((n + 1) / 2).cast("int"))
    b = F.element_at(s, (n / 2).cast("int") + 1)
    return c.select(
        "event_id",
        "event_type",
        n.cast("bigint").alias("n_win"),
        ((a + b) / F.lit(200.0)).alias("moving_median"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# q_win_count_distinct — COUNT(DISTINCT) OVER via max(dense_rank)
# ---------------------------------------------------------------------------


@register(
    "q_win_count_distinct",
    oracle="""
        WITH ranked AS (
            SELECT event_id, user_id, event_type, ts,
                   DENSE_RANK() OVER (
                       PARTITION BY user_id ORDER BY event_type
                   ) AS dr
            FROM events
        ), counted AS (
            SELECT event_id, user_id, event_type, ts,
                   MAX(dr) OVER (PARTITION BY user_id) AS n_types_user
            FROM ranked
        )
        SELECT event_id, user_id, event_type,
               CAST(n_types_user AS BIGINT) AS n_types_user
        FROM counted
        WHERE event_id % 97 = 0
        ORDER BY event_id
    """,
    tags=("window",),
)
def q_win_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT event_type) OVER (PARTITION BY user) attached to
    every row WITHOUT collapsing the frame — the windowed distinct
    count SQL engines (Spark included) reject syntactically, rewritten
    as the standard max-of-dense_rank identity:
    dense_rank ranks the distinct values 1..K within the partition, so
    MAX(dense_rank) OVER the partition IS the distinct count. Emitted
    for the deterministic ~1% probe set (the q_scd2_lookup idiom) so
    the output stays bounded while the window runs over the full
    partition.

    Exactness: pure integer ranking — nothing to round.

    Plan at 100 TB: ONE shuffle on user_id serves both windows (same
    partition key; the second window has no ORDER BY so it is a
    partition-frame max over already-sorted data). The rewrite is
    what engines' optimizers do internally for windowed distinct
    counts — spelled explicitly, it works on any engine.
    """
    ev = load(spark, sf_dir, "events")
    w_rank = W.partitionBy("user_id").orderBy("event_type")
    w_all = W.partitionBy("user_id")
    counted = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.dense_rank().over(w_rank).alias("dr"),
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.max("dr").over(w_all).cast("long").alias("n_types_user"),
    )
    return (
        counted.filter(F.col("event_id") % 97 == 0)
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q_win_ntile — NTILE bucket assignment audited per partition
# ---------------------------------------------------------------------------


@register(
    "q_win_ntile",
    oracle="""
        WITH t AS (
            SELECT o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents,
                   NTILE(4) OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(CAST(o_totalprice
                                       AS DECIMAL(18,2)) * 100 AS BIGINT),
                                       o_orderkey) AS quartile
            FROM orders
        )
        SELECT o_orderpriority, quartile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(cents) AS BIGINT) AS lo_cents,
               CAST(MAX(cents) AS BIGINT) AS hi_cents,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM t
        GROUP BY o_orderpriority, quartile
        ORDER BY o_orderpriority, quartile
    """,
)
def q_win_ntile(spark, sf_dir):
    """NTILE(4) quartile assignment per order priority (the SQL-surface
    bucketing sibling of q_lift_curve's explicit (rn−1)·k DIV n math)
    rolled up to per-quartile count / boundary / sum stats — the
    quartile-banding readout BI layers issue constantly.

    Exactness: the window ORDER BY is fully deterministic (cents +
    orderkey tiebreak), and NTILE's distribution rule is the SQL
    standard both engines implement (first n mod 4 buckets take the
    extra row) — the per-bucket boundary stats would expose any
    boundary-row disagreement, and they hash-match. All stats exact
    BIGINTs.

    Plan at 100 TB: one exchange on the partition key; the rollup
    rides it. An UNPARTITIONED NTILE would serialize — the documented
    swap is q_lift_curve's aggregate-then-rank shape.
    """
    o = load(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    w = W.partitionBy("o_orderpriority").orderBy(
        cents.asc(), F.col("o_orderkey").asc()
    )
    t = o.select(
        "o_orderpriority",
        cents.alias("cents"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return (
        t.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("o_orderpriority", "quartile")
    )
