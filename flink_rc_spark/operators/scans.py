"""Scan / projection queries (SURVEY.md §2.2 "Scans / sources / sinks").

100 TB story: projection and predicates are expressed declaratively so
Catalyst pushes them into the parquet scan — column pruning means a
2-column projection reads 2 column chunks, not the table; predicate
pushdown skips row groups via min/max stats. Plan tests in
tests/test_plans.py assert PushedFilters / ReadSchema on these exact
queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import DOC_KEY, md5_int
from flink_rc_spark.registry import register
from flink_rc_spark.sources import load


@register(
    "q_scan_project",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
)
def q_scan_project(spark, sf_dir):
    """Parquet scan + column projection (reads only 3 of 11 columns)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


@register(
    "q_scan_pruned",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE l_quantity < 5.0
    """,
)
def q_scan_pruned(spark, sf_dir):
    """Projection + predicate, both pushed into the parquet scan."""
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(F.col("l_quantity") < 5.0)
    )


def _zorder_spark_expr() -> str:
    """Interleave the low 16 bits of part and supp keys (part gets the
    even bit positions) — 32 generated shift/mask terms, all
    whole-stage-codegen JVM bit ops."""
    terms = []
    for i in range(16):
        terms.append(f"shiftleft(shiftright(p, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright(s, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


def _zorder_duck_expr() -> str:
    terms = []
    for i in range(16):
        terms.append(f"(((p >> {i}) & 1) << {2 * i})")
        terms.append(f"(((s >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "q_zorder_layout",
    oracle=f"""
        WITH keyed AS (
            SELECT l_partkey % 65536 AS p, l_suppkey % 65536 AS s
            FROM lineitem
        ),
        z AS (SELECT p, s, {_zorder_duck_expr()} AS zval FROM keyed),
        buckets AS (
            SELECT zval >> 12 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN(p) AS BIGINT) AS min_part,
                   CAST(MAX(p) AS BIGINT) AS max_part,
                   CAST(MIN(s) AS BIGINT) AS min_supp,
                   CAST(MAX(s) AS BIGINT) AS max_supp
            FROM z GROUP BY zval >> 12
        )
        SELECT bucket, n_rows,
               max_part - min_part AS part_span,
               max_supp - min_supp AS supp_span
        FROM buckets
        ORDER BY n_rows DESC, bucket
        LIMIT 20
    """,
    tags=("scan", "layout"),
)
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) layout audit: interleave the low 16 bits
    of l_partkey and l_suppkey into a single space-filling-curve key,
    bucket rows by the curve key >> 12 (4096-cell tiles), and report
    each bucket's row count and per-dimension key spans — the locality
    evidence (both spans bounded, not table-wide) that makes Z-order
    THE multi-dimensional data-clustering technique for 100 TB lakes:
    a file written in z-order serves min/max-stat file skipping on
    BOTH part and supp predicates at once, where sorting by one key
    serves only that key.

    The interleave is 32 generated shift/mask terms — integer-exact,
    whole-stage codegen, no UDF — and every output is a BIGINT, so the
    oracle hash pins the curve bit-for-bit. The audit itself is one
    scan + one hash agg on the derived bucket; applying the layout in
    production is the same expression feeding
    ``df.repartitionByRange(F.col("zval")).sortWithinPartitions``.
    """
    li = load(spark, sf_dir, "lineitem")
    z = li.select(
        (F.col("l_partkey") % 65536).alias("p"),
        (F.col("l_suppkey") % 65536).alias("s"),
    ).select("p", "s", F.expr(_zorder_spark_expr()).alias("zval"))
    return (
        z.groupBy(F.shiftright("zval", 12).alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("p").cast("bigint").alias("min_part"),
            F.max("p").cast("bigint").alias("max_part"),
            F.min("s").cast("bigint").alias("min_supp"),
            F.max("s").cast("bigint").alias("max_supp"),
        )
        .select(
            "bucket",
            "n_rows",
            (F.col("max_part") - F.col("min_part")).alias("part_span"),
            (F.col("max_supp") - F.col("min_supp")).alias("supp_span"),
        )
        .orderBy(F.desc("n_rows"), "bucket")
        .limit(20)
    )


_COMPACT_TARGET = 2_000  # target bin size (chars of text per output file; sized to the synthetic corpus so the packing is non-degenerate at every SF)

# a document's file shard: the first 4 md5 hex digits of doc_id, mod 64


@register(
    "q_compaction_plan",
    oracle=f"""
        WITH files AS (
            SELECT source,
                   {md5_int(DOC_KEY, 1, 4, duck=True)} % 64 AS shard,
                   CAST(SUM(n_chars) AS BIGINT) AS bytes
            FROM documents
            GROUP BY source, shard
        ),
        planned AS (
            SELECT source, shard, bytes,
                   SUM(bytes) OVER (PARTITION BY source ORDER BY shard
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                   (SUM(bytes) OVER (PARTITION BY source ORDER BY shard
                                     ROWS UNBOUNDED PRECEDING) - bytes)
                       // {_COMPACT_TARGET} AS bin
            FROM files
        )
        SELECT source, CAST(bin AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
               ROUND(CAST(SUM(bytes) AS DOUBLE) / {_COMPACT_TARGET}, 4)
                   AS fill_ratio
        FROM planned
        GROUP BY source, bin
        ORDER BY source, bin
    """,
    tags=("scan", "layout", "maintenance"),
)
def q_compaction_plan(spark, sf_dir):
    """COMPACTION PLANNING (the Iceberg/Delta OPTIMIZE bin-pack step):
    given a small-file inventory — here 64 hash-shards per source with
    their exact byte sizes — assign contiguous runs of files to target-
    sized output bins and report each bin's file count, byte total,
    and fill ratio. This is the maintenance query a 100 TB lake runs
    nightly: small files are THE silent scan killer (per-file open
    cost + unsplittable row groups), and the planner's output feeds a
    per-bin coalescing rewrite.

    The packing is NEXT-FIT over the shard order: a file goes to the
    bin where its cumulative start offset lands (start div target), so
    bins are contiguous, deterministic, and computed by ONE window
    cumsum per source partition — no sequential driver loop, unlike
    first-fit-decreasing (whose ~11/9 OPT bound buys little for
    near-uniform shard sizes). Bins may overflow by at most one file —
    the standard streaming-compaction tradeoff, visible in fill_ratio.
    All arithmetic is integer-exact; the window partitions by source,
    so parallelism is per-source and no global order exists anywhere.
    """
    docs = load(spark, sf_dir, "documents")
    files = (
        docs.select(
            "source",
            F.expr(f"{md5_int(DOC_KEY, 1, 4)} % 64").alias("shard"),
            "n_chars",
        )
        .groupBy("source", "shard")
        .agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = files.withColumn("cum", F.sum("bytes").over(w)).withColumn(
        "bin", F.expr(f"(cum - bytes) div {_COMPACT_TARGET}")
    )
    return (
        planned.groupBy("source", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
            F.round(
                F.sum("bytes").cast("double") / F.lit(_COMPACT_TARGET), 4
            ).alias("fill_ratio"),
        )
        .orderBy("source", "bin")
    )


# ---------------------------------------------------------------------------
# q_source_xml — Spark 4 native XML source/sink round trip
# ---------------------------------------------------------------------------

def _xml_dir(spark, sf_dir: str) -> str:
    """Write the deterministic orders subset as XML files once per
    (process, sf_dir) — the stand-in for an upstream system that
    delivers XML feeds. Cached with atexit cleanup via
    cached_fixture_dir (no temp-dir leak in a long-lived driver)."""
    from flink_rc_spark.util import cached_fixture_dir

    def build(d: str) -> None:
        (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 20 == 0)
            .select(
                "o_orderkey",
                "o_orderpriority",
                # decimals survive XML's text representation exactly;
                # raw doubles would round-trip through shortest-repr
                # text and risk last-bit drift
                F.col("o_totalprice").cast("decimal(14,2)").alias("price"),
            )
            .coalesce(4)
            .write.format("xml")
            .option("rootTag", "orders")
            .option("rowTag", "order")
            .mode("overwrite")
            .save(f"{d}/orders_xml")
        )

    return cached_fixture_dir("xml", sf_dir.rstrip("/"), build)


@register(
    "q_source_xml",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderkey % 20 = 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("source", "xml"),
)
def q_source_xml(spark, sf_dir):
    """XML SOURCE round trip — Spark 4's built-in XML data source
    (spark-xml merged into core): a deterministic orders subset is
    written as rowTag-per-record XML files, read back with an explicit
    schema, and aggregated; the oracle computes the same aggregate
    from the parquet original, so the hash proves serialize -> parse
    -> type coercion end-to-end (prices ride DECIMAL(14,2) text, which
    XML round-trips exactly — raw doubles would risk last-bit drift
    through shortest-repr text).

    100 TB: XML feeds are the classic enterprise ingestion edge; the
    source splits by file and streams row tags, so the read costs one
    pass — the pattern is parse once, land parquet, never re-touch
    XML. The write here is the test fixture, not the claim.
    """
    from pyspark.sql import types as T

    d = _xml_dir(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("price", T.DecimalType(14, 2)),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(schema)
        .load(f"{d}/orders_xml")
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q_hilbert_layout — Hilbert-curve layout audit (the Z-order sibling)
# ---------------------------------------------------------------------------

_HILBERT_BITS = 16  # 16-bit coords -> a 2^32-cell curve, d fits BIGINT


def _hilbert_rounds_cte(xor) -> str:
    """Unrolled Hilbert xy->d transform as CTE text: per round, the
    quadrant bit pair accumulates into d and the coordinate frame
    flips/swaps (the classic iterative algorithm). ``xor`` renders
    bitwise xor for the target engine (Spark `a ^ b`, DuckDB
    `xor(a, b)` — `^` is POWER there). Integer-only, so both engines
    are bit-identical. Expects h0(p, s, hx, hy, d)."""
    parts = []
    for k, sv in enumerate(
        (2**i for i in range(_HILBERT_BITS - 1, -1, -1)), start=1
    ):
        parts.append(f"""
    r{k} AS (
        SELECT p, s, hx AS ox, hy AS oy, d,
               CASE WHEN (hx & {sv}) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (hy & {sv}) > 0 THEN 1 ELSE 0 END AS ry
        FROM h{k - 1}
    ),
    h{k} AS (
        SELECT p, s,
               CASE WHEN ry = 0 THEN
                   CASE WHEN rx = 1 THEN {sv - 1} - oy ELSE oy END
               ELSE ox END AS hx,
               CASE WHEN ry = 0 THEN
                   CASE WHEN rx = 1 THEN {sv - 1} - ox ELSE ox END
               ELSE oy END AS hy,
               d + CAST({sv * sv} AS BIGINT)
                   * CAST({xor('3 * rx', 'ry')} AS BIGINT) AS d
        FROM r{k}
    )""")
    return ",".join(parts)


# Table-driven Hilbert FSM: the rotate-and-flip loop is equivalent to
# a 4-state automaton over the RAW coordinate bits MSB->LSB — state =
# the composite (swap?, complement-x?, complement-y?) transform the
# rotations have accumulated so far (only 4 of the 8 signed swaps are
# reachable from identity). DIGIT[state*4 + q] is the emitted base-4
# digit and NEXT[state*4 + q] the successor state for raw bit pair
# q = 2*x_bit + y_bit. Derived by composing the classic loop's
# rotations and verified EXHAUSTIVELY against it for all 6-bit coords
# plus 200k random 16-bit pairs (tests/test_plans.py re-pins the curve
# against an independent Python reference on real data).
_HILBERT_DIGIT = (0, 1, 3, 2, 0, 3, 1, 2, 2, 1, 3, 0, 2, 3, 1, 0)
_HILBERT_NEXT = (1, 0, 2, 0, 0, 3, 1, 1, 2, 2, 0, 3, 3, 1, 3, 2)


def hilbert_index(df, x_col: str, y_col: str):
    """DataFrame helper: append column `d` = Hilbert index of the
    {_HILBERT_BITS}-bit coords (x_col, y_col), carrying (p, s)
    through. The Spark twin of _hilbert_rounds_cte.

    r9 rework, take 2: the rotate-loop forms (16 chained projections
    in r8, one `aggregate` HOF fold in early r9) were both slow for
    the same underlying reason — each round's hx/hy reference BOTH
    previous coords, so the collapsed Catalyst expression tree doubles
    per round (2^16 leaf copies), and the HOF fold trades that for
    per-element interpreted lambda evaluation (5.3 s at sf0.1 for ~50
    integer ops/row). The FSM form never mutates the coordinates:
    digit k is a constant-table lookup on (state, raw bit pair k), so
    the state chain grows LINEARLY and the whole transform stays one
    small whole-stage-codegen expression. Identical integers to the
    oracle's unrolled rotate-loop CTE — the driver hash pins that."""
    hx = F.col(x_col).cast("bigint")
    hy = F.col(y_col).cast("bigint")
    # tables bit-packed into one 64-bit literal each (entry j at bits
    # 2j..2j+1): a lookup is then shift+mask — no array materialization
    digit_packed = F.lit(
        sum(v << (2 * j) for j, v in enumerate(_HILBERT_DIGIT))
    ).cast("bigint")
    next_packed = F.lit(
        sum(v << (2 * j) for j, v in enumerate(_HILBERT_NEXT))
    ).cast("bigint")
    d = F.lit(0).cast("bigint")
    state = F.lit(0).cast("bigint")
    for i in range(_HILBERT_BITS - 1, -1, -1):
        q = F.shiftright(hx, i).bitwiseAND(F.lit(1)) * 2 + F.shiftright(
            hy, i
        ).bitwiseAND(F.lit(1))
        shift = ((state * 4 + q) * 2).cast("int")
        # F.shiftright only takes a literal shift; the SQL function
        # accepts a column expression for it
        d = d * 4 + F.call_function(
            "shiftright", digit_packed, shift
        ).bitwiseAND(F.lit(3))
        state = F.call_function(
            "shiftright", next_packed, shift
        ).bitwiseAND(F.lit(3))
    return df.select(
        F.col(x_col).alias("p"), F.col(y_col).alias("s"), d.alias("d")
    )


@register(
    "q_hilbert_layout",
    oracle=f"""
        WITH keyed AS (
            SELECT l_partkey % 65536 AS p, l_suppkey % 65536 AS s
            FROM lineitem
        ),
        h0 AS (SELECT p, s, CAST(p AS BIGINT) AS hx, CAST(s AS BIGINT) AS hy,
                      CAST(0 AS BIGINT) AS d
               FROM keyed),
        {_hilbert_rounds_cte(lambda a, b: f"xor({a}, {b})")},
        buckets AS (
            SELECT d >> 12 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN(p) AS BIGINT) AS min_part,
                   CAST(MAX(p) AS BIGINT) AS max_part,
                   CAST(MIN(s) AS BIGINT) AS min_supp,
                   CAST(MAX(s) AS BIGINT) AS max_supp
            FROM h{_HILBERT_BITS} GROUP BY d >> 12
        )
        SELECT bucket, n_rows,
               max_part - min_part AS part_span,
               max_supp - min_supp AS supp_span
        FROM buckets
        ORDER BY n_rows DESC, bucket
        LIMIT 20
    """,
    tags=("scan", "layout"),
)
def q_hilbert_layout(spark, sf_dir):
    """HILBERT-curve layout audit — the continuity-preserving sibling
    of q_zorder_layout 
    (same coords, same bucket audit, different curve): the Hilbert
    curve never makes the long diagonal jumps Morton interleaving
    does, so consecutive curve positions are ALWAYS adjacent cells —
    the reason modern lakehouse clustering (e.g. Delta's liquid
    clustering, Databricks' Hilbert-ordered OPTIMIZE) prefers it to
    Z-order for multi-dimensional file skipping: per-file min/max
    envelopes are tighter on average for the same file count.

    The xy->d transform is the classic iterative quadrant
    accumulate-and-rotate, unrolled to 16 integer rounds as chained
    whole-stage-codegen projections (no UDF), spelled identically in
    the DuckDB oracle (only xor differs textually: `^` vs `xor()`) —
    all integers, so the hash pins the curve bit-for-bit;
    tests/test_plans.py additionally pins the curve against an
    independent Python reference and checks the locality advantage vs
    Z-order on the actual table. Applying the layout in production is
    `df.repartitionByRange(col("d")).sortWithinPartitions("d")` —
    identical plumbing to the Z-order key.
    """
    li = load(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_partkey") % 65536).alias("px"),
        (F.col("l_suppkey") % 65536).alias("sx"),
    )
    h = hilbert_index(keyed, "px", "sx")
    return (
        h.groupBy(F.shiftright("d", 12).alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("p").cast("bigint").alias("min_part"),
            F.max("p").cast("bigint").alias("max_part"),
            F.min("s").cast("bigint").alias("min_supp"),
            F.max("s").cast("bigint").alias("max_supp"),
        )
        .select(
            "bucket",
            "n_rows",
            (F.col("max_part") - F.col("min_part")).alias("part_span"),
            (F.col("max_supp") - F.col("min_supp")).alias("supp_span"),
        )
        .orderBy(F.desc("n_rows"), "bucket")
        .limit(20)
    )


@register(
    "q_skew_stats",
    oracle="""
        WITH per_key AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM events GROUP BY user_id
        ),
        tot AS (
            SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM per_key
        )
        SELECT user_id, n_rows,
               n_rows * 1000000 // total AS share_ppm,
               (n_rows * n_keys + total - 1) // total AS skew_x,
               CASE WHEN n_rows * 32 > total
                    THEN (n_rows * 32 + total - 1) // total
                    ELSE 1 END AS salt_factor
        FROM per_key, tot
        ORDER BY n_rows DESC, user_id
        LIMIT 10
    """,
    tags=("scan", "ops", "agg"),
)
def q_skew_stats(spark, sf_dir):
    """JOIN-KEY SKEW AUDIT — the pre-flight a 100 TB pipeline runs
    before shuffling on a key: the top-10 heaviest keys with their
    row share (integer ppm), skew factor vs a uniform key (x times
    the average key's volume, ceil), and the SALT FACTOR a salted
    join/agg would need to split that key across a 32-partition
    shuffle (ceil(n_key * parts / total), floored at 1). q_join_salted
    and q_agg_salted apply the remedy; this key computes the
    diagnosis that decides WHEN to apply it (AQE's skewedJoin makes
    the same measurement from shuffle statistics at runtime).

    All-integer: shares in ppm via BIGINT floor-div, both ceils as
    (a + b - 1) DIV b with positive operands — hash-exact with no
    float policy needed.

    100 TB: one hash agg keyed by the audited key (map-side combined),
    then a single-partition top-10 over the key rollup — the rollup is
    |distinct keys|-sized, and the TakeOrdered is limit-first.
    """
    ev = load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    tot = per_key.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    n, t, k = F.col("n_rows"), F.col("total"), F.col("n_keys")
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            F.expr("n_rows * 1000000 DIV total").alias("share_ppm"),
            # integer DIV throughout — float division then cast would
            # round, not floor, for large counts
            F.expr("(n_rows * n_keys + total - 1) DIV total").alias("skew_x"),
            F.when(
                n * 32 > t,
                F.expr("(n_rows * 32 + total - 1) DIV total"),
            )
            .otherwise(F.lit(1).cast("bigint"))
            .alias("salt_factor"),
        )
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(10)
    )


@register(
    "q_zonemap_prune",
    oracle="""
        WITH z AS (
            SELECT l_orderkey // 1000 AS file_id,
                   CAST(date_trunc('day', l_shipdate) AS DATE) AS d
            FROM lineitem
        ), nat AS (
            SELECT file_id, MIN(d) AS min_d, MAX(d) AS max_d,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM z GROUP BY file_id
        ), wk AS (
            SELECT date_diff('day', DATE '1970-01-01', d) // 7 AS file_id,
                   MIN(d) AS min_d, MAX(d) AS max_d,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM z GROUP BY date_diff('day', DATE '1970-01-01', d) // 7
        ), both_layouts AS (
            SELECT 'ingest_order' AS layout, * FROM nat
            UNION ALL
            SELECT 'date_partitioned' AS layout, * FROM wk
        )
        SELECT layout,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN max_d < DATE '1998-01-01'
                               OR min_d > DATE '1998-06-30'
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total,
               CAST(SUM(CASE WHEN max_d < DATE '1998-01-01'
                               OR min_d > DATE '1998-06-30'
                             THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
               (CAST(SUM(CASE WHEN max_d < DATE '1998-01-01'
                                OR min_d > DATE '1998-06-30'
                              THEN n_rows ELSE 0 END) AS BIGINT) * 1000000)
                 // CAST(SUM(n_rows) AS BIGINT) AS skip_ratio_micro
        FROM both_layouts GROUP BY layout
    """,
    tags=("scan", "layout"),
)
def q_zonemap_prune(spark, sf_dir):
    """Zone-map (min/max data-skipping) audit: simulate per-file
    shipdate zone maps under two physical layouts — ingest order
    (files = 1000-order batches) vs date-partitioned (weekly files) —
    and count how many files/rows a 1998-H1 range predicate could
    SKIP without reading. The quantified "why you sort/partition on
    the filter column" story that q_zorder_layout / q_hilbert_layout
    tell for clustering, told for pruning.

    Plan: one scan feeds both layout rollups (each a map-combined
    hash agg to the bounded file frame), unioned and reduced to 2
    audit rows; all comparisons on integer epoch-derived keys and
    DATE bounds, counts exact.
    """
    li = load(spark, sf_dir, "lineitem")
    z = li.select(
        F.expr("l_orderkey div 1000").alias("nat_file"),
        F.date_trunc("day", "l_shipdate").cast("date").alias("d"),
    ).withColumn(
        "wk_file",
        F.expr(
            "datediff(d, DATE '1970-01-01') div 7"
        ),
    )

    def rollup(file_col: str, label: str):
        zones = z.groupBy(F.col(file_col).alias("file_id")).agg(
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.count("*").alias("n_rows"),
        )
        skipped = F.when(
            (F.col("max_d") < F.lit("1998-01-01").cast("date"))
            | (F.col("min_d") > F.lit("1998-06-30").cast("date")),
            1,
        ).otherwise(0)
        return zones.agg(
            F.count("*").alias("n_files"),
            F.sum(skipped).cast("long").alias("files_skipped"),
            F.sum("n_rows").cast("long").alias("rows_total"),
            F.sum(
                F.when(skipped == 1, F.col("n_rows")).otherwise(0)
            )
            .cast("long")
            .alias("rows_skipped"),
            F.expr(
                "(CAST(SUM(CASE WHEN max_d < DATE '1998-01-01'"
                " OR min_d > DATE '1998-06-30' THEN n_rows ELSE 0 END)"
                " AS BIGINT) * 1000000) div CAST(SUM(n_rows) AS BIGINT)"
            ).alias("skip_ratio_micro"),
        ).select(
            F.lit(label).alias("layout"),
            "n_files",
            "files_skipped",
            "rows_total",
            "rows_skipped",
            "skip_ratio_micro",
        )

    return rollup("nat_file", "ingest_order").unionByName(
        rollup("wk_file", "date_partitioned")
    )


@register(
    "q_parse_fixedwidth",
    oracle="""
        WITH rec AS (
            SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                || rpad(o_orderstatus, 2, ' ')
                || lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                  AS BIGINT) AS VARCHAR), 12, '0')
                || rpad(o_orderpriority, 15, ' ')
                || strftime(o_orderdate, '%Y%m%d') AS line
            FROM orders
        )
        SELECT CAST(substr(line, 1, 12) AS BIGINT) AS orderkey,
               trim(substr(line, 13, 2)) AS status,
               CAST(substr(line, 15, 12) AS BIGINT) AS totalprice_c,
               trim(substr(line, 27, 15)) AS priority,
               CAST(substr(line, 42, 4) AS BIGINT) * 10000
                 + CAST(substr(line, 46, 2) AS BIGINT) * 100
                 + CAST(substr(line, 48, 2) AS BIGINT) AS yyyymmdd,
               CAST(length(line) AS BIGINT) AS rec_len
        FROM rec
    """,
    tags=("scan", "source"),
)
def q_parse_fixedwidth(spark, sf_dir):
    """FIXED-WIDTH record parsing — the mainframe/COBOL copybook
    surface: each order serializes to a 49-byte layout (12-digit
    zero-padded key, 2-char status, 12-digit zero-padded cents,
    15-char space-padded priority, YYYYMMDD date) and is parsed back
    with offset/length substrings, trims, and casts; the key proves
    the full serialize→parse round trip plus the record-length
    invariant. Date formatting avoids engine-specific format
    functions on the PARSE side by reassembling yyyymmdd from three
    integer substrings.

    Plan: pure per-row codegen string work, zero shuffle — the map
    stage of a fixed-width ingest; at 100 TB the same expressions
    run over spark.read.text lines.
    """
    orders = load(spark, sf_dir, "orders")
    rec = orders.select(
        F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            F.rpad("o_orderstatus", 2, " "),
            F.lpad(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .cast("string"),
                12,
                "0",
            ),
            F.rpad("o_orderpriority", 15, " "),
            F.date_format("o_orderdate", "yyyyMMdd"),
        ).alias("line")
    )
    return rec.select(
        F.substring("line", 1, 12).cast("long").alias("orderkey"),
        F.trim(F.substring("line", 13, 2)).alias("status"),
        F.substring("line", 15, 12).cast("long").alias("totalprice_c"),
        F.trim(F.substring("line", 27, 15)).alias("priority"),
        (
            F.substring("line", 42, 4).cast("long") * 10000
            + F.substring("line", 46, 2).cast("long") * 100
            + F.substring("line", 48, 2).cast("long")
        ).alias("yyyymmdd"),
        F.length("line").cast("long").alias("rec_len"),
    )


# ---------------------------------------------------------------------------
# q_source_partitioned / q_source_mergeschema — lakehouse layout reads
# ---------------------------------------------------------------------------

_PART_DOCS = 400  # docs materialized into the partitioned fixture


def _partitioned_dir(spark, sf_dir: str) -> str:
    """Hive-layout fixture: documents (doc_id < _PART_DOCS) written as
    lang=<v>/part-0.parquet via pyarrow — the on-disk stand-in for a
    partition-pruned lake table. Cached per (process, sf_dir) with
    atexit cleanup (the q_source_binaryfile pattern)."""
    import os

    from flink_rc_spark.util import cached_fixture_dir

    def build(d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _PART_DOCS)
            .select("doc_id", "lang", "n_chars")
            .collect()
        )
        by_lang: dict = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append((r.doc_id, r.n_chars))
        for lang, recs in by_lang.items():
            recs.sort()
            pdir = os.path.join(d, f"lang={lang}")
            os.makedirs(pdir, exist_ok=True)
            t = pa.table(
                {
                    "doc_id": pa.array([x[0] for x in recs], pa.int64()),
                    "n_chars": pa.array([x[1] for x in recs], pa.int64()),
                }
            )
            pq.write_table(t, os.path.join(pdir, "part-0.parquet"))

    return cached_fixture_dir("hivepart", sf_dir.rstrip("/"), build)


@register(
    "q_source_partitioned",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc
        FROM documents WHERE doc_id < {_PART_DOCS}
        GROUP BY lang
    """,
    tags=("scan", "source", "layout"),
)
def q_source_partitioned(spark, sf_dir):
    """HIVE-PARTITIONED discovery read: the builder materializes a
    lang=<v>/ directory tree (real parquet via pyarrow, the
    object-store layout every lake table uses), reads it back with
    partition discovery — the partition column comes from DIRECTORY
    NAMES, not file contents — and aggregates per partition. The
    oracle recomputes from the source documents table, so the hash
    proves the round trip through the hive layout (including the
    inferred partition column) lossless.

    Plan: partition discovery lists directories once; a lang
    predicate on this read prunes whole directories before any IO
    (the point of the layout — q_zonemap_prune quantifies the same
    effect for file-level stats). The per-partition agg is
    map-side combined.
    """
    d = _partitioned_dir(spark, sf_dir)
    df = spark.read.parquet(d)
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


def _mergeschema_dir(spark, sf_dir: str) -> str:
    """Schema-evolution fixture: an OLD-schema file (doc_id, lang) and
    a NEW-schema file (doc_id, source, n_chars) side by side — the
    state of a lake table mid-migration."""
    import os

    from flink_rc_spark.util import cached_fixture_dir

    def build(d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _PART_DOCS)
            .select("doc_id", "lang", "source", "n_chars")
            .collect()
        )
        rows.sort(key=lambda r: r.doc_id)
        old = [r for r in rows if r.doc_id % 2 == 0]
        new = [r for r in rows if r.doc_id % 2 == 1]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r.doc_id for r in old], pa.int64()),
                    "lang": pa.array([r.lang for r in old], pa.string()),
                }
            ),
            os.path.join(d, "old-schema.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r.doc_id for r in new], pa.int64()),
                    "source": pa.array([r.source for r in new], pa.string()),
                    "n_chars": pa.array(
                        [r.n_chars for r in new], pa.int64()
                    ),
                }
            ),
            os.path.join(d, "new-schema.parquet"),
        )

    return cached_fixture_dir("mergeschema", sf_dir.rstrip("/"), build)


@register(
    "q_source_mergeschema",
    oracle=f"""
        WITH sub AS (SELECT * FROM documents WHERE doc_id < {_PART_DOCS}),
        unioned AS (
            SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
                   CAST(NULL AS BIGINT) AS n_chars
            FROM sub WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, CAST(NULL AS VARCHAR), source, n_chars
            FROM sub WHERE doc_id % 2 = 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(lang) AS BIGINT) AS n_lang,
               CAST(COUNT(source) AS BIGINT) AS n_source,
               CAST(COUNT(n_chars) AS BIGINT) AS n_nchars,
               CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM unioned
    """,
    tags=("scan", "source"),
)
def q_source_mergeschema(spark, sf_dir):
    """SCHEMA-EVOLUTION read (mergeSchema): one parquet file carries
    the OLD schema (doc_id, lang), its sibling the NEW schema
    (doc_id, source, n_chars) — the mid-migration state of a lake
    table. `mergeSchema=true` must union the schemas and NULL-fill
    the columns each file lacks; the audit counts per-column
    presence so the hash pins exactly which rows carry which
    columns. The oracle rebuilds the same union relationally.

    Plan: schema merge happens at footer-read planning time (two
    footers); the scan stays columnar with per-file projections —
    the declared guarantee that adding a column to a 100 TB table
    does NOT require rewriting old files.
    """
    d = _mergeschema_dir(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(d)
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count("lang").alias("n_lang"),
        F.count("source").alias("n_source"),
        F.count("n_chars").alias("n_nchars"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
        .cast("long")
        .alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
