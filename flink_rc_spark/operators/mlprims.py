"""ML training/feature-engineering primitives, engine-exact: the CART
split search (decision stump), multinomial naive Bayes with a
confusion readout, leave-one-out smoothed target encoding, and
weight-of-evidence / information value.

Reference parity: the reference's ML surface is the ESN/readout
family (SURVEY.md §2.1 R4–R7); these are the TABULAR-ML primitives a
pipeline runs beside it — declared driver-north-star surface like the
q_ks_test statistics family.

Float policy:
- The stump's Gini cost compares EXACT rationals floor-quantized at
  1e9 in DECIMAL(38,0) (the q_chi2_test idiom; HUGEINT in the oracle,
  whose BIGINT numerator times 1e9 overflows at sf0.1) — no float
  impurity.
- Target encoding multiplies the global prior through, so the LOO
  encoding is a single exact rational, floor-quantized micro.
- Naive Bayes / WoE need ln: each log is rounded to 6 dp and the
  scores are exact integer sums of the quantized logs (the
  q_cooccur_pmi / q_ngram_lm decimal-routing idiom — both engines'
  ln agree far beyond 6 dp).

100 TB story: every key aggregates the fact scan down to a bounded
frame first (distinct thresholds / vocab×class cells / category
cells), then does the model arithmetic on that frame — training cost
is one or two map-combined hash aggs, never an iterative pass.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.plans.inspect import checkpoint
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load


@register(
    "q_decision_stump",
    oracle="""
        WITH x AS (
            SELECT n_chars AS f,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents
        ), th AS (
            SELECT f,
                   CAST(SUM(y) AS BIGINT) AS pos_at,
                   CAST(COUNT(*) AS BIGINT) AS cnt_at
            FROM x GROUP BY f
        ), cum AS (
            SELECT f,
                   CAST(SUM(pos_at) OVER (ORDER BY f) AS BIGINT) AS pos_l,
                   CAST(SUM(cnt_at) OVER (ORDER BY f) AS BIGINT) AS n_l,
                   CAST(SUM(pos_at) OVER () AS BIGINT) AS pos_t,
                   CAST(SUM(cnt_at) OVER () AS BIGINT) AS n_t
            FROM th
        ), split AS (
            SELECT f AS threshold, n_l, n_t - n_l AS n_r,
                   pos_l, pos_t - pos_l AS pos_r,
                   ((CAST(n_l AS HUGEINT) * n_l - CAST(pos_l AS HUGEINT) * pos_l
                     - CAST(n_l - pos_l AS HUGEINT) * (n_l - pos_l))
                      * (n_t - n_l)
                    + (CAST(n_t - n_l AS HUGEINT) * (n_t - n_l)
                       - CAST(pos_t - pos_l AS HUGEINT) * (pos_t - pos_l)
                       - CAST((n_t - n_l) - (pos_t - pos_l) AS HUGEINT)
                         * ((n_t - n_l) - (pos_t - pos_l)))
                      * n_l) * 1000000000
                   // (n_l * (n_t - n_l)) AS cost_e9
            FROM cum WHERE n_l > 0 AND n_t - n_l > 0
        )
        SELECT threshold, n_l, n_r, pos_l, pos_r, CAST(cost_e9 AS BIGINT) AS cost_e9
        FROM split
        ORDER BY cost_e9, threshold
        LIMIT 5
    """,
    tags=("ml", "stats", "window"),
)
def q_decision_stump(spark, sf_dir):
    """CART's inner loop as a query: the best 5 axis-aligned splits of
    n_chars predicting lang='en', scored by weighted Gini impurity —
    cost(t) ∝ A_L·n_R + A_R·n_L over n_L·n_R where A = n² − pos² −
    neg² (the Gini numerator scaled by n), an EXACT rational per
    threshold floor-quantized at 1e9 in DECIMAL(38,0): the argmin is
    decided on integers, no float impurity anywhere.

    Candidate thresholds are the distinct feature values with
    cumulative class counts from one window — the single-pass
    split-search every tree library implements, expressed
    relationally.

    Plan: groupBy(feature) map-combines the scan to the distinct-
    threshold frame; the cumulative class counts run as the TWO-PHASE
    range-bucketed `global_scan_salted` (the q_ks_test shape — no
    single-partition window), totals broadcast; TakeOrdered(5).
    """
    from flink_rc_spark.operators.windows import global_scan_salted

    docs = load(spark, sf_dir, "documents")
    x = docs.select(
        F.col("n_chars").alias("f"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    th = x.groupBy("f").agg(
        F.sum("y").alias("pos_at"), F.count("*").alias("cnt_at")
    ).transform(checkpoint, eager=True)  # shared by totals + scan
    tot = th.agg(
        F.sum("pos_at").alias("pos_t"), F.sum("cnt_at").alias("n_t")
    )
    cum = global_scan_salted(
        th,
        "f",
        [F.col("f")],
        [
            {"kind": "sum", "value": F.col("pos_at"), "out": "pos_l",
             "exclusive": False},
            {"kind": "sum", "value": F.col("cnt_at"), "out": "n_l",
             "exclusive": False},
        ],
        materialize=False,
    ).crossJoin(F.broadcast(tot)).select(
        "f", "pos_l", "n_l", "pos_t", "n_t"
    )
    split = cum.filter(
        (F.col("n_l") > 0) & (F.col("n_t") - F.col("n_l") > 0)
    ).select(
        F.col("f").alias("threshold"),
        "n_l",
        (F.col("n_t") - F.col("n_l")).alias("n_r"),
        "pos_l",
        (F.col("pos_t") - F.col("pos_l")).alias("pos_r"),
        F.expr(
            "CAST((CAST(n_l AS DECIMAL(20,0)) * n_l - CAST(pos_l AS DECIMAL(20,0)) * pos_l"
            " - CAST(n_l - pos_l AS DECIMAL(20,0)) * (n_l - pos_l)) * (n_t - n_l) AS DECIMAL(38,0))"
            " + CAST((CAST(n_t - n_l AS DECIMAL(20,0)) * (n_t - n_l)"
            " - CAST(pos_t - pos_l AS DECIMAL(20,0)) * (pos_t - pos_l)"
            " - CAST((n_t - n_l) - (pos_t - pos_l) AS DECIMAL(20,0))"
            "   * ((n_t - n_l) - (pos_t - pos_l))) * n_l AS DECIMAL(38,0))"
        ).alias("_a"),
    ).select(
        "threshold",
        "n_l",
        "n_r",
        "pos_l",
        "pos_r",
        F.expr(
            "CAST(CAST(_a AS DECIMAL(38,0)) * 1000000000 AS DECIMAL(38,0))"
            " div (n_l * n_r)"
        ).alias("cost_e9"),
    )
    return split.orderBy("cost_e9", "threshold").limit(5)


_NB_VOCAB = 100


@register(
    "q_naive_bayes",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ), vocab AS (
            SELECT w FROM (
                SELECT w, COUNT(*) AS c,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
                FROM tok GROUP BY w
            ) WHERE rn <= {_NB_VOCAB}
        ), cls AS (
            SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
        ), wc AS (
            SELECT t.lang AS c, t.w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok t JOIN vocab v ON t.w = v.w
            GROUP BY t.lang, t.w
        ), totc AS (
            SELECT c, CAST(SUM(cnt) AS BIGINT) AS tot FROM wc GROUP BY c
        ), model AS (
            SELECT l.c, v.w,
                   CAST(ROUND(ln(
                       (COALESCE(wc.cnt, 0) + 1.0)
                       / (totc.tot + {_NB_VOCAB})) * 1000000) AS BIGINT)
                     AS logp_micro
            FROM (SELECT DISTINCT c FROM cls) l
            CROSS JOIN vocab v
            JOIN totc ON totc.c = l.c
            LEFT JOIN wc ON wc.c = l.c AND wc.w = v.w
        ), prior AS (
            SELECT c, CAST(ROUND(ln(CAST(n_docs AS DOUBLE)
                       / (SELECT SUM(n_docs) FROM cls)) * 1000000) AS BIGINT)
                     AS prior_micro
            FROM cls
        ), dw AS (
            SELECT t.doc_id, t.w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok t JOIN vocab v ON t.w = v.w
            GROUP BY t.doc_id, t.w
        ), scores AS (
            SELECT d.doc_id, d.lang AS true_lang, p.c,
                   p.prior_micro
                     + COALESCE(CAST(SUM(dw.cnt * m.logp_micro) AS BIGINT), 0)
                     AS score_micro
            FROM documents d
            CROSS JOIN prior p
            LEFT JOIN dw ON dw.doc_id = d.doc_id
            LEFT JOIN model m ON m.c = p.c AND m.w = dw.w
            GROUP BY d.doc_id, d.lang, p.c, p.prior_micro
        ), pred AS (
            SELECT doc_id, true_lang, c AS pred_lang
            FROM (
                SELECT doc_id, true_lang, c,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY score_micro DESC, c) AS rn
                FROM scores
            ) WHERE rn = 1
        )
        SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY true_lang, pred_lang
    """,
    tags=("ml", "llm", "agg"),
)
def q_naive_bayes(spark, sf_dir):
    """Multinomial naive Bayes language classifier, trained and
    evaluated on the corpus in one query: add-1-smoothed token
    likelihoods over the top-100 vocabulary, log prior + Σ count·logp
    per (doc, class), argmax with a total-order tie-break, reported
    as the confusion matrix (the q_langid_eval readout for a LEARNED
    model instead of heuristic n-grams).

    Exactness: each ln rounds to 6 dp micro-units (the q_cooccur_pmi
    idiom) and every score is an exact integer sum of quantized logs
    — argmax compares integers, so prediction is engine-identical.

    Plan: the model is vocab×classes = 500 broadcast rows from two
    hash aggs; scoring joins each doc's vocab-restricted term counts
    against it and reduces per (doc, class); the confusion rollup is
    a ≤ 25-cell agg. One tokenize fan-out scan, everything after on
    bounded frames.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), "w"))
        )
        .filter(F.col("rn") <= _NB_VOCAB)
        .select("w")
    )
    cls = docs.groupBy(F.col("lang").alias("c")).agg(
        F.count("*").alias("n_docs")
    )
    wc = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy(F.col("lang").alias("c"), "w")
        .agg(F.count("*").alias("cnt"))
    )
    totc = wc.groupBy("c").agg(F.sum("cnt").alias("tot"))
    model = (
        cls.select("c")
        .crossJoin(F.broadcast(vocab))
        .join(totc, "c")
        .join(wc, ["c", "w"], "left")
        .select(
            "c",
            "w",
            F.round(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tot") + F.lit(_NB_VOCAB))
                )
                * 1000000
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    total_docs = cls.agg(F.sum("n_docs").alias("all_docs"))
    prior = cls.crossJoin(F.broadcast(total_docs)).select(
        "c",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("all_docs"))
            * 1000000
        )
        .cast("long")
        .alias("prior_micro"),
    )
    dw = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    base = docs.select("doc_id", F.col("lang").alias("true_lang")).crossJoin(
        F.broadcast(prior)
    )
    contrib = (
        dw.join(F.broadcast(model), "w")
        .groupBy("doc_id", "c")
        .agg(F.sum(F.col("cnt") * F.col("logp_micro")).alias("wsum"))
    )
    scores = base.join(contrib, ["doc_id", "c"], "left").select(
        "doc_id",
        "true_lang",
        "c",
        (
            F.col("prior_micro") + F.coalesce(F.col("wsum"), F.lit(0))
        ).alias("score_micro"),
    )
    pred = (
        scores.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("score_micro"), "c"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("c").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


@register(
    "q_target_encode",
    oracle="""
        WITH x AS (
            SELECT c.c_mktsegment AS segment,
                   CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS y
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ), seg AS (
            SELECT segment,
                   CAST(COUNT(*) AS BIGINT) AS n_seg,
                   CAST(SUM(y) AS BIGINT) AS pos_seg
            FROM x GROUP BY segment
        ), g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(y) AS BIGINT) AS pos_g
            FROM x
        )
        SELECT seg.segment, v.y, seg.n_seg, seg.pos_seg,
               CAST(((seg.pos_seg - v.y) * g.n_g + 20 * g.pos_g) * 1000000
                 // ((seg.n_seg - 1 + 20) * g.n_g) AS BIGINT) AS loo_enc_micro
        FROM seg CROSS JOIN g CROSS JOIN (VALUES (0), (1)) v(y)
    """,
    tags=("ml", "agg"),
)
def q_target_encode(spark, sf_dir):
    """Leave-one-out SMOOTHED target encoding of market segment
    against the 'urgent order' target — the feature-engineering op
    behind every gradient-boosting pipeline, with the leakage guard
    (each row's own label excluded) and additive smoothing toward the
    global prior (m = 20).

    enc(row) = (pos_seg − y + m·prior) / (n_seg − 1 + m); multiplying
    the global prior through makes it ONE exact rational,
    floor-quantized micro — and since the encoding depends on the row
    only through y ∈ {0, 1}, the audit emits the 2 distinct values
    per category (the whole encoder, 10 rows) rather than per-row
    output.

    Plan: one fact scan → per-segment counters + one global counter
    (broadcast single rows onto the 5-segment frame) → a 2-value
    lateral expansion. At 100 TB the encoder READ is this exact
    query; applying it is a broadcast join of these 10 rows.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    x = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    seg = x.groupBy("segment").agg(
        F.count("*").alias("n_seg"), F.sum("y").alias("pos_seg")
    )
    g = x.agg(F.count("*").alias("n_g"), F.sum("y").alias("pos_g"))
    ys = spark.createDataFrame([(0,), (1,)], "y int")
    return (
        seg.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(ys))
        .select(
            "segment",
            "y",
            "n_seg",
            "pos_seg",
            # DECIMAL(38,0) headroom: the dividend nears BIGINT max at
            # sf1. Sign-safe by construction (the q_woe_iv exact-floor
            # shift: +1e6·divisor, div, −1e6): for y = 1 with
            # pos_seg = 0 the raw dividend goes negative, where Spark
            # div truncates toward zero but DuckDB // floors — the
            # shift makes the dividend nonnegative so truncation IS
            # floor, with no reachable-data precondition.
            F.expr(
                "CAST((CAST(pos_seg - y AS DECIMAL(20,0)) * n_g + 20 * pos_g)"
                " * 1000000"
                " + 1000000 * (CAST(n_seg - 1 + 20 AS DECIMAL(20,0)) * n_g)"
                " AS DECIMAL(38,0))"
                " div (CAST(n_seg - 1 + 20 AS DECIMAL(20,0)) * n_g)"
                " - 1000000"
            ).alias("loo_enc_micro"),
        )
    )


@register(
    "q_woe_iv",
    oracle="""
        WITH x AS (
            SELECT o_orderpriority AS bucket,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ), b AS (
            SELECT bucket,
                   CAST(SUM(y) AS BIGINT) AS pos_b,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_b
            FROM x GROUP BY bucket
        ), t AS (
            SELECT CAST(SUM(pos_b) AS BIGINT) AS pos_t,
                   CAST(SUM(neg_b) AS BIGINT) AS neg_t
            FROM b
        )
        SELECT b.bucket, b.pos_b, b.neg_b,
               CAST(ROUND(ln((CAST(b.pos_b AS DOUBLE) / t.pos_t)
                             / (CAST(b.neg_b AS DOUBLE) / t.neg_t))
                          * 1000000) AS BIGINT) AS woe_micro,
               CAST(((b.pos_b * t.neg_t - b.neg_b * t.pos_t) * 1000000
                  + 1000000 * (t.pos_t * t.neg_t))
                 // (t.pos_t * t.neg_t) - 1000000 AS BIGINT) AS dist_diff_micro
        FROM b CROSS JOIN t
        WHERE b.pos_b > 0 AND b.neg_b > 0
    """,
    tags=("ml", "stats", "agg"),
)
def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence per order-priority bucket against the
    'order fully shipped' target — the credit-scoring encoder:
    WoE_b = ln((pos_b/POS)/(neg_b/NEG)), plus the exact distribution
    difference (pos_b/POS − neg_b/NEG) whose product with WoE is the
    bucket's Information-Value contribution.

    WoE quantizes one ln to 6 dp micro (the q_cooccur_pmi idiom); the
    distribution difference is a single exact rational (cross-
    multiplied) floor-quantized micro — so IV's two factors ship as
    engine-exact integers and the (rare, degenerate) one-class
    buckets are excluded like q_auc_roc's.

    Plan: one scan → 5-bucket hash agg → single-row totals broadcast.
    """
    orders = load(spark, sf_dir, "orders")
    x = orders.select(
        F.col("o_orderpriority").alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    b = x.groupBy("bucket").agg(
        F.sum("y").alias("pos_b"),
        (F.count("*") - F.sum("y")).alias("neg_b"),
    )
    t = b.agg(
        F.sum("pos_b").alias("pos_t"), F.sum("neg_b").alias("neg_t")
    )
    return (
        b.crossJoin(F.broadcast(t))
        .filter((F.col("pos_b") > 0) & (F.col("neg_b") > 0))
        .select(
            "bucket",
            "pos_b",
            "neg_b",
            F.round(
                F.log(
                    (F.col("pos_b").cast("double") / F.col("pos_t"))
                    / (F.col("neg_b").cast("double") / F.col("neg_t"))
                )
                * 1000000
            )
            .cast("long")
            .alias("woe_micro"),
            # signed dividend: exact-floor shift idiom (+1e6·D, div, −1e6);
            # DECIMAL(38,0) headroom (products near BIGINT max at sf1)
            F.expr(
                "CAST((CAST(pos_b AS DECIMAL(20,0)) * neg_t"
                " - CAST(neg_b AS DECIMAL(20,0)) * pos_t) * 1000000"
                " + 1000000 * (CAST(pos_t AS DECIMAL(20,0)) * neg_t)"
                " AS DECIMAL(38,0))"
                " div (CAST(pos_t AS DECIMAL(20,0)) * neg_t) - 1000000"
            ).alias("dist_diff_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q_confusion_matrix — multi-class precision/recall/F1 readout
# ---------------------------------------------------------------------------

# deterministic rule classifier: predict order priority from total
# price (cents) by fixed thresholds — the point is the EVALUATION
# algebra, so the model is a transparent rule both engines can spell
_PRED_DUCK = """
    CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              > 20000000 THEN '1-URGENT'
         WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              > 15000000 THEN '2-HIGH'
         WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              > 10000000 THEN '3-MEDIUM'
         WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              > 5000000 THEN '4-NOT SPECIFIED'
         ELSE '5-LOW' END
"""


@register(
    "q_confusion_matrix",
    oracle=f"""
        WITH scored AS (
            SELECT o_orderpriority AS label, {_PRED_DUCK} AS pred
            FROM orders
        ), classes AS (
            SELECT label AS cls FROM scored
            UNION
            SELECT pred AS cls FROM scored
        ), per AS (
            SELECT c.cls,
                   CAST(SUM(CASE WHEN s.label = c.cls AND s.pred = c.cls
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN s.label <> c.cls AND s.pred = c.cls
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN s.label = c.cls AND s.pred <> c.cls
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fn
            FROM classes c CROSS JOIN scored s
            GROUP BY c.cls
        )
        SELECT cls, tp, fp, fn,
               CASE WHEN tp + fp > 0 THEN
                   ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision_,
               CASE WHEN tp + fn > 0 THEN
                   ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall_,
               CASE WHEN 2 * tp + fp + fn > 0 THEN
                   ROUND(2e0 * tp / (2 * tp + fp + fn), 6) END AS f1
        FROM per
        ORDER BY cls
    """,
    tags=("ml", "stats", "agg"),
)
def q_confusion_matrix(spark, sf_dir):
    """Per-class precision / recall / F1 for a deterministic rule
    classifier (price-threshold → priority) against the true order
    priority — the multi-class evaluation readout every model
    pipeline ends with (q_auc_roc covers the ranking view; this is
    the hard-decision view).

    Exactness: tp/fp/fn are exact integers from ONE pass over the
    scored frame re-aggregated per class; each ratio is one shared
    double expression rounded once, NULL-guarded for empty
    denominators.

    Plan at 100 TB: the classifier is a zero-shuffle codegen map; the
    per-(label, pred) contingency is one tiny hash agg (K² cells),
    and the per-class tp/fp/fn derive from that bounded frame — the
    oracle's class×row cross join is spelled as the contingency
    rollup in Spark, so the fact is scanned exactly once.
    """
    o = load(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    scored = o.select(
        F.col("o_orderpriority").alias("label"),
        F.when(cents > 20000000, "1-URGENT")
        .when(cents > 15000000, "2-HIGH")
        .when(cents > 10000000, "3-MEDIUM")
        .when(cents > 5000000, "4-NOT SPECIFIED")
        .otherwise("5-LOW")
        .alias("pred"),
    )
    cell = scored.groupBy("label", "pred").agg(F.count("*").alias("n"))
    tp = cell.filter(F.col("label") == F.col("pred")).select(
        F.col("label").alias("cls"), F.col("n").alias("tp")
    )
    fp = (
        cell.filter(F.col("label") != F.col("pred"))
        .groupBy(F.col("pred").alias("cls"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        cell.filter(F.col("label") != F.col("pred"))
        .groupBy(F.col("label").alias("cls"))
        .agg(F.sum("n").alias("fn"))
    )
    classes = (
        cell.select(F.col("label").alias("cls"))
        .union(cell.select(F.col("pred").alias("cls")))
        .distinct()
    )
    per = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("long").alias("fn"),
        )
    )
    return per.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision_"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall_"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                F.expr("2e0 * tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
                6,
            ),
        ).alias("f1"),
    ).orderBy("cls")


# ---------------------------------------------------------------------------
# q_crossval_folds — k-fold cross-validation of the mean predictor
# ---------------------------------------------------------------------------

_FOLD_KEY = "'o' || CAST(o_orderkey AS STRING)"
# test MSE of the train-mean predictor, expanded so it needs only the
# fold moments: MSE = q/n − 2·m·(s/n) + m², m = (S−s)/(N−n) train mean
_CV_MSE_EXPR = """
    ROUND((CAST(q_f AS DOUBLE) / n_f
           - 2e0 * ((CAST(s_t AS DOUBLE) - s_f) / (n_t - n_f))
                 * (CAST(s_f AS DOUBLE) / n_f)
           + ((CAST(s_t AS DOUBLE) - s_f) / (n_t - n_f))
             * ((CAST(s_t AS DOUBLE) - s_f) / (n_t - n_f))) / 1e8, 4)
"""


@register(
    "q_crossval_folds",
    oracle=f"""
        WITH x AS (
            SELECT {md5_int(_FOLD_KEY, 1, 2, duck=True)} % 5 AS fold,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                     AS c
            FROM orders
        ), g AS (
            SELECT fold,
                   CAST(COUNT(*) AS BIGINT) AS n_f,
                   CAST(SUM(c) AS BIGINT) AS s_f,
                   CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q_f
            FROM x GROUP BY fold
        ), t AS (
            SELECT CAST(SUM(n_f) AS BIGINT) AS n_t,
                   CAST(SUM(s_f) AS BIGINT) AS s_t
            FROM g
        )
        SELECT fold,
               CAST(n_t - n_f AS BIGINT) AS n_train,
               n_f AS n_test,
               ROUND((CAST(s_t AS DOUBLE) - s_f) / (n_t - n_f) / 100, 4)
                 AS train_mean,
               {_CV_MSE_EXPR} AS test_mse
        FROM g CROSS JOIN t
        ORDER BY fold
    """,
    tags=("ml", "stats", "agg"),
)
def q_crossval_folds(spark, sf_dir):
    """5-fold cross-validation machinery: md5-hashed fold assignment
    (reproducible, partition-independent — the q_split_assign
    idiom), per-fold train/test split, and the held-out MSE of the
    train-mean predictor per fold — the smallest honest model that
    exercises the full k-fold plumbing (fold hashing, train-side
    moments excluding the test fold, test-side scoring).

    Exactness: per-fold moments are exact integers (Σc² in
    HUGEINT/DECIMAL — cents² passes 9.2e18 past sf1); the MSE is
    algebraically expanded to need ONLY those moments
    (q/n − 2·m·s/n + m², m = train mean), evaluated as one shared
    double expression (reported in dollars², /1e8) rounded once.

    Plan at 100 TB: one scan → 5-row fold-moment agg; every fold's
    train statistics derive from totals minus the fold row (no
    second scan, no per-fold pass); single-row totals broadcast.
    """
    o = load(spark, sf_dir, "orders")
    x = o.select(
        F.expr(f"{md5_int(_FOLD_KEY, 1, 2)} % 5").cast("int").alias("fold"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
    )
    g = x.groupBy("fold").agg(
        F.count("*").alias("n_f"),
        F.sum("c").cast("long").alias("s_f"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("q_f"),
    )
    t = g.agg(
        F.sum("n_f").alias("n_t"), F.sum("s_f").cast("long").alias("s_t")
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "fold",
            (F.col("n_t") - F.col("n_f")).cast("long").alias("n_train"),
            F.col("n_f").alias("n_test"),
            F.round(
                (F.col("s_t").cast("double") - F.col("s_f"))
                / (F.col("n_t") - F.col("n_f"))
                / 100,
                4,
            ).alias("train_mean"),
            F.expr(_CV_MSE_EXPR).alias("test_mse"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# q_feature_hashing — hashing-trick buckets with collision audit
# ---------------------------------------------------------------------------

_FH_KEY = "'f' || token"


@register(
    "q_feature_hashing",
    oracle=f"""
        WITH toks AS (
            SELECT t.tok AS token
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE t.tok <> ''
        ), bucketed AS (
            SELECT token, {md5_int(_FH_KEY, 1, 2, duck=True)} % 64 AS bucket FROM toks
        )
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens,
               MIN(token) AS first_token
        FROM bucketed
        GROUP BY bucket
        ORDER BY bucket
    """,
    tags=("ml", "llm", "agg"),
)
def q_feature_hashing(spark, sf_dir):
    """The hashing trick: every token maps to one of 64 feature
    buckets by md5 (the fixed-width, vocabulary-free featurization
    linear models use at corpus scale), with the per-bucket collision
    audit (distinct tokens sharing a bucket) that tells you whether
    the width is adequate.

    Exactness: md5 is identical in both engines; all outputs are
    integer counts plus an order-insensitive MIN example.

    Plan at 100 TB: tokenize + hash are zero-shuffle codegen maps;
    the rollup is one 64-group hash agg (partial aggregation makes
    the shuffle carry 64×partitions rows), distinct-token counts via
    the standard two-level distinct. The feature VECTOR per doc is a
    local array op — this key audits the global bucket health.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    bucketed = toks.select(
        "token",
        F.expr(f"{md5_int(_FH_KEY, 1, 2)} % 64").cast("int").alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("token").alias("n_tokens"),
            F.min("token").alias("first_token"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q_ridge_cf — closed-form ridge regression (2 features + intercept)
# ---------------------------------------------------------------------------

_RIDGE_L = "1000e0"  # λ, applied to all three diagonal entries (documented)


def _det3(m) -> str:
    """3×3 determinant as shared SQL text over named double columns."""
    ((a, b, c), (d, e, f), (g, h, i)) = m
    return (
        f"({a} * ({e} * {i} - {f} * {h})"
        f" - {b} * ({d} * {i} - {f} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g}))"
    )


# staged double names: the normal-equation matrix and rhs
_RIDGE_A = [
    [f"(nn + {_RIDGE_L})", "a1", "a2"],
    ["a1", f"(a11 + {_RIDGE_L})", "a12"],
    ["a2", "a12", f"(a22 + {_RIDGE_L})"],
]
_RIDGE_B = ["by", "b1y", "b2y"]


def _ridge_beta(i: int) -> str:
    m = [row[:] for row in _RIDGE_A]
    for r in range(3):
        m[r][i] = _RIDGE_B[r]
    return f"ROUND({_det3(m)} / {_det3(_RIDGE_A)}, 6)"


_RIDGE_STAGE_DUCK = """
    SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
           CAST(SUM(x1) AS DOUBLE) AS a1,
           CAST(SUM(x2) AS DOUBLE) AS a2,
           CAST(SUM(x1 * x1) AS DOUBLE) AS a11,
           CAST(SUM(x1 * x2) AS DOUBLE) AS a12,
           CAST(SUM(x2 * x2) AS DOUBLE) AS a22,
           CAST(SUM(y) AS DOUBLE) AS by,
           CAST(SUM(x1 * y) AS DOUBLE) AS b1y,
           CAST(SUM(x2 * y) AS DOUBLE) AS b2y,
           CAST(COUNT(*) AS BIGINT) AS n
"""


@register(
    "q_ridge_cf",
    oracle=f"""
        WITH x AS (
            SELECT CAST(l_quantity AS BIGINT) AS x1,
                   CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                     AS x2,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS y
            FROM lineitem
        ), m AS (
            {_RIDGE_STAGE_DUCK}
            FROM x
        )
        SELECT n,
               {_ridge_beta(0)} AS beta0,
               {_ridge_beta(1)} AS beta1,
               {_ridge_beta(2)} AS beta2
        FROM m
    """,
    tags=("ml", "agg"),
)
def q_ridge_cf(spark, sf_dir):
    """Closed-form ridge regression of line price (cents) on quantity
    and discount (cents): the 3×3 regularized normal equations
    (λ = 1000 on every diagonal entry, intercept included —
    documented choice) solved by Cramer's rule — the distributed
    GLM-fitting shape: ONE pass accumulates the exact Gram moments,
    the solve is driver-free single-row arithmetic
    (q_regr_fit's big sibling; rc/readout.py runs the same
    Gram-then-solve shape for the ESN readout).

    Exactness: all nine moments are exact BIGINT sums (Σx2·y ≤ 6e16
    at sf1; sf100 upgrades to DECIMAL(38,0), documented); the solve
    is ONE shared double expression text — the same determinant
    arithmetic token-for-token in both engines — rounded once per
    coefficient.

    Plan at 100 TB: one map-combined scan to 9 counters; no shuffle
    beyond the single-row final combine; the solve is O(1).
    """
    li = load(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        (F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x2"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    m = x.agg(
        F.count("*").cast("double").alias("nn"),
        F.sum("x1").cast("double").alias("a1"),
        F.sum("x2").cast("double").alias("a2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("a11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("a12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("a22"),
        F.sum("y").cast("double").alias("by"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("b1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("b2y"),
        F.count("*").alias("n"),
    )
    return m.select(
        "n",
        F.expr(_ridge_beta(0)).alias("beta0"),
        F.expr(_ridge_beta(1)).alias("beta1"),
        F.expr(_ridge_beta(2)).alias("beta2"),
    )
