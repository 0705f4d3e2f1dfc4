"""Table sources.

The engine's batch inputs are the driver-generated parquet tables
(TESTDATA.md / FIXTURES.md): a TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings``
(vector table). ``EXPECTED_SCHEMAS`` declares each table's schema.

Footer-check rule: ``load`` reads a table with its declared schema
(``spark.read.schema(declared).parquet(path)``) only when the parquet
footer of every data file, read on the driver with pyarrow, gives
exactly the schema Spark would infer from it — same column names,
order and types — and that schema equals the declared one. Otherwise
it falls back to ``spark.read.parquet(path)``, so the file stays
authoritative: a renamed or retyped column loads with the file's
schema, never NULL-filled or mis-cast under the declared one. The
check reads footers and two SQL confs only, 1-5 ms per table on the
local data, and launches no Spark job; schema inference launches one
per load (about 0.2 s on a warm 4-core session).

Scale notes (100 TB): parquet scans here are the pushdown surface —
Catalyst prunes columns and pushes predicates into the scan
(verified by q_scan_pruned's plan test). On a real lake these tables
would be directory-partitioned (e.g. orders by month) and read
through a catalog that supplies the schema; a partitioned directory
fails the footer check here and keeps Spark's own partition
discovery.

Reference parity: the reference's only source is a CSV time-series
reader with column selection (SURVEY.md §2.1 R1, expected at
higher_level_examples/HigherLevelExampleAbstract.java [K:high,
unverified — reference mount empty]); ``read_timeseries_csv`` covers
that surface with an explicit schema (never inferSchema in production).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_S = T.StructType
_F = T.StructField

EXPECTED_SCHEMAS: dict[str, T.StructType] = {
    "region": _S([_F("r_regionkey", T.IntegerType()), _F("r_name", T.StringType())]),
    "nation": _S(
        [
            _F("n_nationkey", T.IntegerType()),
            _F("n_name", T.StringType()),
            _F("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": _S(
        [
            _F("s_suppkey", T.LongType()),
            _F("s_name", T.StringType()),
            _F("s_nationkey", T.IntegerType()),
            _F("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": _S(
        [
            _F("c_custkey", T.LongType()),
            _F("c_name", T.StringType()),
            _F("c_nationkey", T.IntegerType()),
            _F("c_acctbal", T.DoubleType()),
            _F("c_mktsegment", T.StringType()),
        ]
    ),
    "part": _S(
        [
            _F("p_partkey", T.LongType()),
            _F("p_name", T.StringType()),
            _F("p_brand", T.StringType()),
            _F("p_type", T.StringType()),
            _F("p_size", T.IntegerType()),
            _F("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": _S(
        [
            _F("o_orderkey", T.LongType()),
            _F("o_custkey", T.LongType()),
            _F("o_orderstatus", T.StringType()),
            _F("o_totalprice", T.DoubleType()),
            _F("o_orderdate", T.TimestampNTZType()),
            _F("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": _S(
        [
            _F("l_orderkey", T.LongType()),
            _F("l_partkey", T.LongType()),
            _F("l_suppkey", T.LongType()),
            _F("l_linenumber", T.IntegerType()),
            _F("l_quantity", T.DoubleType()),
            _F("l_extendedprice", T.DoubleType()),
            _F("l_discount", T.DoubleType()),
            _F("l_tax", T.DoubleType()),
            _F("l_returnflag", T.StringType()),
            _F("l_linestatus", T.StringType()),
            _F("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": _S(
        [
            _F("event_id", T.LongType()),
            # loaded form; the file holds µs NTZ or ns (events_raw_schema)
            _F("ts", T.TimestampType()),
            _F("user_id", T.LongType()),
            _F("event_type", T.StringType()),
            _F("value", T.DoubleType()),
            _F("props", T.StringType()),  # JSON string like {"k": 87}
        ]
    ),
    "documents": _S(
        [
            _F("doc_id", T.LongType()),
            _F("text", T.StringType()),
            _F("lang", T.StringType()),
            _F("source", T.StringType()),
            _F("n_chars", T.LongType()),
        ]
    ),
    "embeddings": _S(
        [
            _F("vec_id", T.LongType()),
            _F("embedding", T.ArrayType(T.FloatType())),  # len 64
            _F("label", T.IntegerType()),
        ]
    ),
}


def expected_schema(name: str) -> T.StructType:
    return EXPECTED_SCHEMAS[name]


def parquet_files(path: str) -> list[str]:
    """The path itself, or the visible entries of a directory (the part
    files of a Spark-written table such as tools/make_sf1.py's), sorted.
    Spark skips names starting with ``_`` or ``.`` the same way."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(("_", "."))]
    return sorted(f"{path.rstrip('/')}/{n}" for n in names)


def events_ts_is_nanos(sf_dir: str) -> bool:
    """Whether ``events.ts`` is parquet INT64 TIMESTAMP(NANOS), read
    from the first data file's footer (driver-side metadata only). The
    test data has shipped as NANOS (Spark needs legacy nanosAsLong and
    a µs truncation) and as TIMESTAMP(MICROS) (read natively as
    TIMESTAMP_NTZ)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(parquet_files(f"{sf_dir.rstrip('/')}/events.parquet")[0])
    arrow = md.schema.to_arrow_schema()
    if "ts" not in arrow.names:
        return False
    t = arrow.field("ts").type
    return _physical_types(md).get("ts") == "INT64" and getattr(t, "unit", "") == "ns"


def events_raw_schema(ts_is_nanos: bool) -> T.StructType:
    """The events schema as stored: ``ts`` is raw long nanos (legacy
    nanosAsLong) or native µs TIMESTAMP_NTZ."""
    ts = T.LongType() if ts_is_nanos else T.TimestampNTZType()
    return _S(
        [_F("ts", ts) if f.name == "ts" else f for f in EXPECTED_SCHEMAS["events"]]
    )


def normalize_events_ts(df: DataFrame, ts_is_nanos: bool) -> DataFrame:
    """Raw events (batch or stream) → the loaded form: ``ts`` as a
    session-TZ (UTC) µs TimestampType. Nanos are truncated to µs, the
    same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, so
    oracle comparisons agree for both generations of the test data."""
    if ts_is_nanos:
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts = F.col("ts").cast("timestamp")
    return df.withColumn("ts", ts).select(*EXPECTED_SCHEMAS["events"].names)


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# A footer pyarrow cannot read or parse (a missing or non-local path, a
# file that is not parquet, an empty directory): Spark's own read then
# decides, and reports any error itself.
_FOOTER_ERRORS = (OSError, ValueError, KeyError, IndexError)


def _physical_types(md) -> dict[str, str]:
    """Leaf column path → parquet physical type (INT96 and INT64
    nanos both look like ``timestamp[ns]`` to pyarrow)."""
    cols = (md.schema.column(i) for i in range(md.num_columns))
    return {c.path: c.physical_type for c in cols}


def _nullable(dt: T.DataType) -> T.DataType:
    """Spark's ``asNullable`` for the types the declared schemas use:
    file sources expose every field and array element as nullable."""
    if isinstance(dt, T.StructType):
        return _S([_F(f.name, _nullable(f.dataType), True, f.metadata) for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    return dt


def _spark_type(t, physical: str | None, ntz: bool, nanos_as_long: bool):
    """The Spark type inferred for one parquet column (as pyarrow maps
    the footer, without the stored Arrow schema), or None for any type
    the declared schemas do not use."""
    import pyarrow as pa

    simple = {
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.string(): T.StringType(),
    }
    if t in simple:
        return simple[t]
    if pa.types.is_timestamp(t) and t.tz is None:
        if t.unit == "us":
            return T.TimestampNTZType() if ntz else None
        if t.unit == "ns" and physical == "INT64":
            return T.LongType() if nanos_as_long else None
    if pa.types.is_list(t):
        elem = _spark_type(t.value_type, None, ntz, nanos_as_long)
        return None if elem is None else T.ArrayType(elem, True)
    return None


def _footer_schema(md, ntz: bool, nanos_as_long: bool) -> T.StructType | None:
    """The schema ``spark.read.parquet`` infers from one footer, or
    None when unsure. A Spark-written file carries its schema as JSON,
    which Spark's inference takes as is."""
    spark_json = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        if not ntz and b"timestamp_ntz" in spark_json:
            return None
        return _nullable(T.StructType.fromJson(json.loads(spark_json)))
    physical = _physical_types(md)
    fields = []
    for f in md.schema.to_arrow_schema():
        dt = _spark_type(f.type, physical.get(f.name), ntz, nanos_as_long)
        if dt is None:
            return None
        fields.append(_F(f.name, dt))
    return _S(fields)


def footer_matches(spark: SparkSession, path: str, declared: T.StructType) -> bool:
    """The footer check: True when every data file's footer infers
    exactly ``declared``. A directory with subdirectories (partition
    columns) or parquet summary files, or any unreadable footer, is
    not a match."""
    import pyarrow.parquet as pq

    try:
        files = parquet_files(path)
        if any(os.path.isdir(f) for f in files) or any(
            os.path.exists(f"{path}/{m}") for m in ("_metadata", "_common_metadata")
        ):
            return False
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        return bool(files) and all(
            _footer_schema(pq.read_metadata(f), ntz, nanos) == declared
            for f in files
        )
    except _FOOTER_ERRORS:
        return False


def read_parquet(spark: SparkSession, path: str, declared: T.StructType) -> DataFrame:
    """``path`` read with ``declared`` when the footer check passes,
    else with Spark's schema inference (one Spark job)."""
    if footer_matches(spark, path, declared):
        return spark.read.schema(declared).parquet(path)
    return spark.read.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with its declared schema (module docstring).

    ``events.ts`` has shipped as parquet TIMESTAMP(MICROS) and as
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    ([PARQUET_TYPE_ILLEGAL]) unless legacy nanosAsLong is set; the
    footer says which, nanosAsLong is set only for NANOS, and
    ``normalize_events_ts`` gives both the same loaded form. The scan
    stays distributed and columnar (no driver-side materialization).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name != "events":
        return read_parquet(spark, path, EXPECTED_SCHEMAS[name])
    try:
        ts_is_nanos = events_ts_is_nanos(sf_dir)
    except _FOOTER_ERRORS:
        ts_is_nanos = False
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = read_parquet(spark, path, events_raw_schema(ts_is_nanos))
    return normalize_events_ts(raw, ts_is_nanos)


def load_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register all tables as temp views (for spark.sql-built queries)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(prefix + t)


def read_timeseries_csv(
    spark: SparkSession,
    path: str,
    value_cols: list[str],
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV time-series source with column selection (reference R1+R2).

    The reference reads a CSV, selects columns by bitmask, and parses
    doubles; here the schema is explicit (all selected columns double)
    and selection is by name — Catalyst prunes unselected columns at
    the scan.
    """
    schema = T.StructType([_F(c, T.DoubleType()) for c in value_cols])
    df = spark.read.csv(path, header=header, sep=sep, schema=schema)
    return df.select(*[F.col(c) for c in value_cols])


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema — never inferSchema:
    inference costs a full extra pass over the data and silently
    widens/retypes columns between runs. JSONL is the interchange
    format of most LLM-data tooling (one doc per line); at 100 TB it
    is the ingest edge only — convert to parquet immediately (json has
    no pruning/pushdown and splits poorly when compressed)."""
    from flink_rc_spark.sources.sinks import TIMESTAMP_JSON_FMT

    return (
        spark.read.schema(schema)
        .option("timestampFormat", TIMESTAMP_JSON_FMT)
        .json(path)
    )
