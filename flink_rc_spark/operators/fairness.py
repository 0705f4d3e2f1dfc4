"""Fairness and experiment-trust audits: disparate impact (the 80%
rule), per-group equalized-odds gaps, and sample-ratio mismatch — the
checks a model-governance / experimentation platform runs before
shipping a model or trusting an A/B readout.

Reference parity: none — the reference is a numeric dataflow engine
(SURVEY.md §1.1); this is driver-north-star analytics surface, the
same family as q_confusion_matrix / q_ab_ztest.

Float policy (SURVEY.md §4.2): selection/error rates are exact BIGINT
counts; every ratio/statistic is a final double expression on
exactly-agreed integers (cross-multiplied integer comparisons where a
decision is made, so no float participates in any flag).

100 TB story: every key is one fact scan (plus a broadcast dimension
join for the group attribute) into a hash agg of |groups| rows; the
fairness algebra runs on that bounded frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# the transparent rule model shared with q_confusion_matrix: "flag an
# order as high-value when totalprice > $1500.00" — the POINT is the
# fairness algebra over groups, so the model is a rule both engines
# spell identically
_SEL_DUCK = (
    "CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " > 15000000 THEN 1 ELSE 0 END"
)
_SEL_SPARK = _SEL_DUCK  # identical SQL dialect for this expression


@register(
    "q_disparate_impact",
    oracle=f"""
        WITH scored AS (
            SELECT c.c_mktsegment AS grp, {_SEL_DUCK} AS sel
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), per AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(sel) AS BIGINT) AS selected
            FROM scored GROUP BY grp
        ), ref AS (
            -- reference group = highest selection rate, decided by
            -- exact cross-multiplication (a/b > c/d <=> a*d > c*b),
            -- ties broken by group name
            SELECT grp AS ref_grp, n AS ref_n, selected AS ref_sel
            FROM per
            ORDER BY CAST(selected AS DOUBLE) / CAST(n AS DOUBLE) DESC,
                     grp
            LIMIT 1
        )
        SELECT p.grp, p.n, p.selected,
               ROUND(CAST(p.selected AS DOUBLE) / CAST(p.n AS DOUBLE), 6)
                   AS sel_rate,
               ROUND((CAST(p.selected AS DOUBLE) / CAST(p.n AS DOUBLE))
                     / (CAST(r.ref_sel AS DOUBLE)
                        / CAST(r.ref_n AS DOUBLE)), 6) AS impact_ratio,
               p.selected * r.ref_n * 5 < r.ref_sel * p.n * 4
                   AS fails_80pct_rule
        FROM per p, ref r
        ORDER BY p.grp
    """,
    tags=("fairness", "stats", "agg"),
)
def q_disparate_impact(spark, sf_dir):
    """DISPARATE-IMPACT audit (the EEOC 80% rule): selection rate of a
    high-value-order rule per customer market segment, each compared
    to the most-selected group — a group whose rate falls below 4/5 of
    the reference fails the rule. The first gate every
    model-governance review runs.

    Exactness: rates are exact BIGINT counts; the FAIL decision is a
    pure integer cross-multiplication (sel·ref_n·5 < ref_sel·n·4 —
    no float in the flag); reported ratios are final doubles on the
    same integers. The reference group is an exact argmax (rate
    compared as one double division of agreed integers, name
    tie-break).

    Plan at 100 TB: the customer dimension broadcasts onto the orders
    scan; ONE hash agg to |segments| rows; the single-row reference
    join is the q_bm25 class.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("grp")
    )
    scored = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "grp", F.expr(_SEL_SPARK).alias("sel")
    )
    per = scored.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("sel").cast("bigint").alias("selected"),
    )
    ref = (
        per.orderBy(
            (F.col("selected").cast("double") / F.col("n").cast("double"))
            .desc(),
            "grp",
        )
        .limit(1)
        .select(
            F.col("grp").alias("ref_grp"),
            F.col("n").alias("ref_n"),
            F.col("selected").alias("ref_sel"),
        )
    )
    return (
        per.crossJoin(F.broadcast(ref))
        .select(
            "grp",
            "n",
            "selected",
            F.round(
                F.col("selected").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("sel_rate"),
            F.round(
                (
                    F.col("selected").cast("double")
                    / F.col("n").cast("double")
                )
                / (
                    F.col("ref_sel").cast("double")
                    / F.col("ref_n").cast("double")
                ),
                6,
            ).alias("impact_ratio"),
            (
                F.col("selected") * F.col("ref_n") * 5
                < F.col("ref_sel") * F.col("n") * 4
            ).alias("fails_80pct_rule"),
        )
        .orderBy("grp")
    )


@register(
    "q_fairness_gaps",
    oracle=f"""
        WITH scored AS (
            SELECT c.c_mktsegment AS grp,
                   {_SEL_DUCK} AS pred,
                   CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END AS label
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), per AS (
            SELECT grp,
                   CAST(SUM(CASE WHEN label = 1 AND pred = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN label = 1 AND pred = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN label = 0 AND pred = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN label = 0 AND pred = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM scored GROUP BY grp
        )
        SELECT grp, tp, fn, fp, tn,
               ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
                   AS tpr,
               ROUND(CAST(fp AS DOUBLE) / CAST(fp + tn AS DOUBLE), 6)
                   AS fpr
        FROM per
        ORDER BY grp
    """,
    tags=("fairness", "stats", "agg"),
)
def q_fairness_gaps(spark, sf_dir):
    """EQUALIZED-ODDS readout: TPR and FPR of the high-value rule
    (label = urgent priority) PER market segment — equalized odds
    holds when both rates match across groups; the per-group confusion
    cells are emitted so the consumer can test any gap threshold
    (the q_confusion_matrix evaluation specialized to group fairness).

    Exactness: confusion cells are exact BIGINTs from ONE hash agg;
    TPR/FPR are final shared-expression doubles (groups here always
    have both classes; a production guard NULLs an empty denominator
    the q_confusion_matrix way).

    Plan at 100 TB: broadcast dimension join + one |segments|-row hash
    agg; nothing else.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("grp")
    )
    scored = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "grp",
        F.expr(_SEL_SPARK).alias("pred"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("label"),
    )
    per = scored.groupBy("grp").agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 1), 1)
              .otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 0), 1)
              .otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 1), 1)
              .otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 0), 1)
              .otherwise(0)).cast("bigint").alias("tn"),
    )
    return per.select(
        "grp",
        "tp",
        "fn",
        "fp",
        "tn",
        F.round(
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
            6,
        ).alias("tpr"),
        F.round(
            F.col("fp").cast("double")
            / (F.col("fp") + F.col("tn")).cast("double"),
            6,
        ).alias("fpr"),
    ).orderBy("grp")


_SRM_KEY = "'u' || CAST(user_id AS STRING)"


@register(
    "q_ab_srm",
    oracle=f"""
        WITH assigned AS (
            SELECT CASE WHEN {md5_int(_SRM_KEY, 1, 1, duck=True)} % 2 = 0
                THEN 'A' ELSE 'B' END AS arm
            FROM (SELECT DISTINCT user_id FROM events)
        ), counts AS (
            SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM assigned
        )
        SELECT n_a, n_b,
               ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE), 6) AS srm_chi2,
               (n_a - n_b) * (n_a - n_b) * 1000000
                   > 3841459 * (n_a + n_b) AS srm_detected
        FROM counts
    """,
    tags=("fairness", "stats", "ab"),
)
def q_ab_srm(spark, sf_dir):
    """SAMPLE-RATIO-MISMATCH check: users are hash-assigned 50/50 to
    arms A/B (first md5 nibble parity — the deterministic assignment
    q_ab_ztest's platform would use) and the realized split is tested
    with the 1-df chi-square (n_a−n_b)²/(n_a+n_b) against the 5%
    critical value 3.841459 — the trust gate that invalidates an
    experiment BEFORE anyone reads its metrics (SRM means broken
    assignment/logging, not a treatment effect).

    Exactness: arm counts are exact BIGINTs over the distinct-user
    frame; the DETECTED flag is a pure integer comparison (critical
    value scaled to 1e6: (Δ)²·1e6 > 3841459·N); the χ² itself is one
    double division.

    Plan at 100 TB: distinct users = one hash agg; assignment is a
    zero-shuffle codegen expression on the aggregated frame; the
    counts row is single-row.
    """
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    arm = F.when(
        F.expr(f"{md5_int(_SRM_KEY, 1, 1)} % 2") == 0, "A"
    ).otherwise("B")
    counts = users.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    tot = F.col("n_a") + F.col("n_b")
    return counts.select(
        "n_a",
        "n_b",
        F.round((d * d).cast("double") / tot.cast("double"), 6).alias(
            "srm_chi2"
        ),
        (d * d * 1000000 > 3841459 * tot).alias("srm_detected"),
    )
