"""Python UDF surface (SURVEY.md §2.4 q_udf_surface).

One declared query wiring all three Python extension shapes into a
single plan, each Arrow-batched (never row-at-a-time Python):

- scalar `pandas_udf`      : per-doc whitespace token count
- UDAF shape `applyInPandas`: per-source aggregation in pandas
- UDTF shape `mapInPandas` : 1 -> 3 row unpivot (explode-producing)

Everything computed in Python is integer arithmetic, so the DuckDB
oracle (plain SQL agg + UNION ALL unpivot) hash-matches exactly —
demonstrating that a Python-extended plan can still be
oracle-verified.

Scale notes: scalar pandas UDFs stream Arrow batches through a fused
Python worker per core — the per-row cost is pandas-vectorized, and
the plan around the UDF (scan pruning, partial aggregation of other
columns) is unaffected. `applyInPandas` shuffles by the grouping key
and materializes ONE group per call — safe here because a group is a
source shard, never the whole table; a skewed key would need salting
first. `mapInPandas` is pipelined per-partition with no shuffle at
all. The UDF is the slow path by policy (SURVEY.md §4): every other
operator in this engine is JVM-only; this query exists to prove the
extension surface, not to route hot paths through Python.

Reference parity: the reference's Python boundary is a plotting
subprocess (SURVEY.md §2.1 R12); Arrow-batched UDFs are its idiomatic
Spark replacement.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from flink_rc_spark.functions.exact import CENTS_SQL
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load
from flink_rc_spark.util import ensure_package_shipped


@pandas_udf(T.LongType())
def py_token_count(text: pd.Series) -> pd.Series:
    """Scalar pandas UDF: whitespace token count (== len(split(' ')))."""
    return text.str.split(" ").str.len().astype("int64")


_AGG_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("total_tok", T.LongType()),
        T.StructField("max_chars", T.LongType()),
    ]
)


def _agg_source(pdf: pd.DataFrame) -> pd.DataFrame:
    """UDAF shape: aggregate one source group in pandas (exact ints)."""
    return pd.DataFrame(
        {
            "source": [pdf["source"].iloc[0]],
            "n_docs": [int(len(pdf))],
            "total_tok": [int(pdf["n_tok"].sum())],
            "max_chars": [int(pdf["n_chars"].max())],
        }
    )


_UNPIVOT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("value", T.LongType()),
    ]
)


def _unpivot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """UDTF shape: each aggregated row explodes into 3 metric rows."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        yield pdf.melt(
            id_vars=["source"],
            value_vars=["n_docs", "total_tok", "max_chars"],
            var_name="metric",
            value_name="value",
        )[["source", "metric", "value"]]


@register(
    "q_udf_surface",
    oracle="""
    WITH s AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tok,
               MAX(n_chars) AS max_chars
        FROM documents GROUP BY source
    )
    SELECT source, metric, value FROM (
        SELECT source, 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM s
        UNION ALL
        SELECT source, 'total_tok', total_tok FROM s
        UNION ALL
        SELECT source, 'max_chars', max_chars FROM s
    )
    ORDER BY source, metric
    """,
    tags=("llm", "udf"),
)
def q_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scalar pandas_udf -> applyInPandas -> mapInPandas in one plan,
    oracle-checked exactly (all Python math is integer arithmetic).
    """
    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    with_tok = docs.select(
        "source", "n_chars", py_token_count(F.col("text")).alias("n_tok")
    )
    agg = with_tok.groupBy("source").applyInPandas(_agg_source, _AGG_SCHEMA)
    return agg.mapInPandas(_unpivot, _UNPIVOT_SCHEMA).orderBy("source", "metric")


_UDTF_WIDTH = 64


@register(
    "q_udtf_surface",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, text,
               unnest(range(0, CAST(ceil(len(text) / {_UDTF_WIDTH}.0) AS BIGINT)))
                   AS chunk_id
        FROM documents
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(substr(text, CAST(chunk_id * {_UDTF_WIDTH} + 1 AS INTEGER),
                           {_UDTF_WIDTH})) AS BIGINT) AS piece_len,
           md5(substr(text, CAST(chunk_id * {_UDTF_WIDTH} + 1 AS INTEGER),
                      {_UDTF_WIDTH})) AS piece_hash
    FROM c
    ORDER BY doc_id, chunk_id
    """,
    tags=("llm", "udf", "udtf"),
)
def q_udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4's user-defined TABLE function —
    the fourth and last Python extension shape, completing
    q_udf_surface's scalar/UDAF/map trio): a ``@udtf`` class chunks
    every document into 64-char pieces via a LATERAL join,
    emitting (chunk_id, piece) rows per input row.

    The UDTF runs on the ARROW path (``ArrowEvalPythonUDTF`` —
    enforced by setting the arrow conf in-builder and by the global
    BatchEvalPython plan ban, which would catch the pickled fallback's
    ``BatchEvalPythonUDTF`` node by substring). Python computes only
    substring slicing, so the DuckDB oracle (the q_chunk_split range/
    substr spelling) hash-matches every piece via md5.

    Scale: a lateral UDTF is pipelined per-partition — no shuffle, no
    state; fan-out is bounded by doc length / width, the same bound
    q_chunk_split documents. The JVM-only q_chunk_split IS the hot-
    path spelling; this key exists to prove the extension surface.
    """
    ensure_package_shipped(spark)
    from pyspark.sql.functions import lit, udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")

    @udtf(returnType="chunk_id: long, piece: string")
    class Chunker:
        def eval(self, text: str, width: int):
            for i in range(0, len(text), width):
                yield i // width, text[i : i + width]

    spark.udtf.register("rc_chunker", Chunker)
    docs = load(spark, sf_dir, "documents")
    view = "docs_udtf_src"
    docs.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_id,
               CAST(length(c.piece) AS BIGINT) AS piece_len,
               md5(c.piece) AS piece_hash
        FROM {view} d, LATERAL rc_chunker(d.text, {_UDTF_WIDTH}) c
        ORDER BY d.doc_id, c.chunk_id
        """
    )


# ---------------------------------------------------------------------------
# q_udaf_surface — GROUPED_AGG pandas_udf, in agg AND as a window fn
# ---------------------------------------------------------------------------


@pandas_udf(T.LongType())
def _cents_sum(v: pd.Series) -> int:
    """Exact total of a ``cents`` column projected with ``CENTS_SQL``,
    the oracle's own DECIMAL(18,2) cast. Rounding in Python instead
    would not match: np.round rounds exact half cents to even, the
    cast rounds them away from zero. The integer sum is hash-exact."""
    return int(v.sum())


# Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates in
# one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the companion
# aggregates are pandas too — one shuffle, one AggregateInPandas node.
@pandas_udf(T.LongType())
def _count_rows(v: pd.Series) -> int:
    return int(len(v))


@pandas_udf(T.LongType())
def _max_long(v: pd.Series) -> int:
    return int(v.max())


@register(
    "q_udaf_surface",
    oracle="""
        WITH uc AS (
            SELECT user_id,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                        AS BIGINT) AS user_cents
            FROM events GROUP BY user_id
        )
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS total_cents,
               MAX(uc.user_cents) AS max_user_cents
        FROM events e JOIN uc USING (user_id)
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("llm", "udf", "udaf"),
)
def q_udaf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas_udf surface — the remaining Python extension
    shape after q_udf_surface (scalar / applyInPandas / mapInPandas)
    and q_udtf_surface: the SAME Python aggregate runs (a) inside
    ``groupBy().agg`` (``ArrowAggregatePython`` plan node) and (b) as an
    unbounded window function (``ArrowWindowPython``) — per event type,
    the exact cents total, plus the largest whole-user cents total
    among users seen in that type (the window attaches each user's
    total to every row, the agg maxes it).

    Both nodes are Arrow-batched (the global BatchEvalPython ban
    sweeps this key too). Exactness: integer cents inside Python ≡
    DECIMAL(18,2)·100 in the oracle. 100 TB: the window and the agg
    shuffle by their keys exactly like their JVM twins — a grouped-agg
    pandas UDF costs one Arrow hop but changes no partitioning; the
    JVM spelling stays the fast path (this key exists to verify the
    extension surface, like the rest of the udf family).
    """
    ensure_package_shipped(spark)
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(CENTS_SQL).alias("cents")
    )
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    with_user = ev.withColumn("user_cents", _cents_sum("cents").over(wu))
    return (
        with_user.groupBy("event_type")
        .agg(
            _count_rows("cents").alias("n"),
            _cents_sum("cents").alias("total_cents"),
            _max_long("user_cents").alias("max_user_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_arrow_surface — mapInArrow: RecordBatch-level Python, zero pandas
# ---------------------------------------------------------------------------


def _arrow_doc_stats(batches):
    """RecordBatch -> RecordBatch transform entirely in pyarrow.compute
    (no pandas materialization): doc_id, utf8 length, ascii-only flag.
    Arrow kernels are vectorized C++ — this is the lowest-overhead
    Python extension point Spark offers, the right shape for
    columnar codecs and tokenizer front-ends."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column(batch.schema.get_field_index("text"))
        out = pa.RecordBatch.from_arrays(
            [
                batch.column(batch.schema.get_field_index("doc_id")),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(
                    pc.equal(pc.utf8_length(text), pc.binary_length(text)),
                    pa.bool_(),
                ),
            ],
            names=["doc_id", "n_codepoints", "is_ascii"],
        )
        yield out


@register(
    "q_arrow_surface",
    oracle="""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_codepoints,
               length(text) = strlen(text) AS is_ascii
        FROM documents
        ORDER BY doc_id
    """,
    tags=("llm", "udf", "arrow"),
)
def q_arrow_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` surface — the RecordBatch-grain Python extension
    shape below the pandas family (no pandas conversion at all): per
    document, the Unicode codepoint count and an ASCII-only flag
    computed by pyarrow.compute kernels. With q_udf_surface /
    q_udaf_surface / q_udtf_surface this completes every Python
    extension point Spark 4 exposes (scalar pandas, grouped-map,
    map-batches, grouped-agg, window-agg, table function, and raw
    Arrow batches).

    Exactness: utf8_length ≡ SQL length() on VARCHAR (codepoints);
    binary_length ≡ DuckDB strlen (bytes). Plan: a single pipelined
    PythonMapInArrow node over a 2-column pruned scan — no shuffle, no
    pandas serialization overhead. 100 TB: this is the template the
    multimodal codecs would use if their per-row work were
    Arrow-kernel-expressible; cost scales with bytes scanned, and the
    Arrow path keeps Python overhead to batch handoff only.
    """
    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = docs.mapInArrow(
        _arrow_doc_stats, "doc_id long, n_codepoints long, is_ascii boolean"
    )
    return out.orderBy("doc_id")
