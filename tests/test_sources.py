"""Declared-schema loads (flink_rc_spark/sources/tables.py).

``load`` reads a table with its declared schema only when the footer
check passes, and otherwise lets Spark infer the schema. These tests
pin both halves: every shipped and generated table takes the declared
path with exactly the schema inference gives, a forced fallback
returns the same rows, a file that disagrees with the declaration
loads with the file's own schema, and no TPC-H builder launches a
Spark job.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_rc_spark.registry import REGISTRY, load_all
from flink_rc_spark.sources import tables
from flink_rc_spark.sources.tables import (
    EXPECTED_SCHEMAS,
    TABLES,
    events_raw_schema,
    footer_matches,
    load,
)

load_all()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
SF1 = os.path.join(ROOT, ".localdata", "sf1")
# the shipped scales sit beside the session's test scale; sf1 is
# generated locally (tools/make_sf1.py) and checked when present
SCALES = ["sf0.001", "sf0.01", "sf0.1"] + (["sf1"] if os.path.isdir(SF1) else [])
TPCH_KEYS = sorted(
    (k for k in REGISTRY if k.startswith("q_tpch_q")), key=lambda k: int(k[8:])
)


def _inferred_schema(spark, sf_dir: str, name: str) -> T.StructType:
    """What the loader returned before declared schemas: Spark's
    inference, and for events the µs-NTZ → TimestampType cast."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).select(
            *EXPECTED_SCHEMAS["events"].names
        )
    return df.schema


def _declared(name: str) -> T.StructType:
    """The schema ``load`` declares for the µs test data."""
    if name == "events":
        return events_raw_schema(ts_is_nanos=False)
    return EXPECTED_SCHEMAS[name]


@pytest.fixture(scope="module")
def datagen_dir(tmp_path_factory) -> str:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import datagen
    finally:
        sys.path.pop(0)
    d = str(tmp_path_factory.mktemp("perfbench_sf0.001"))
    datagen.write_tables(d, 0.001, 1)
    return d


def _check_all_tables(spark, sf_dir: str) -> None:
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        assert footer_matches(spark, path, _declared(name)), (sf_dir, name)
        assert load(spark, sf_dir, name).schema == _inferred_schema(
            spark, sf_dir, name
        ), (sf_dir, name)


@pytest.mark.parametrize("scale", SCALES)
def test_declared_schema_equals_inferred(spark, sf_dir, scale):
    if scale == "sf1":
        _check_all_tables(spark, SF1)
    else:
        _check_all_tables(spark, os.path.join(os.path.dirname(sf_dir), scale))


def test_declared_schema_equals_inferred_perfbench_tables(spark, datagen_dir):
    _check_all_tables(spark, datagen_dir)


def _rows(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("key", ["q_tpch_q1", "q_tpch_q9", "q_win_lag_lead"])
def test_forced_inference_returns_declared_rows(spark, sf_dir, key, monkeypatch):
    """ROADMAP aim 3: the fallback (schema inference) and the declared
    path return exactly the same rows. ``q_win_lag_lead`` loads events."""
    builder = REGISTRY[key].builder
    declared = builder(spark, sf_dir)
    checked = []

    def fail_check(spark, path, declared):
        checked.append(path)
        return False

    monkeypatch.setattr(tables, "footer_matches", fail_check)
    inferred = builder(spark, sf_dir)
    assert checked, "the forced fallback was never consulted"
    assert declared.schema == inferred.schema
    a, b = _rows(declared), _rows(inferred)
    assert len(a) > 0
    assert a.equals(b)


def _copy_tables(src: str, dst: str, **replace: pa.Table) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in TABLES:
        out = f"{dst}/{name}.parquet"
        if name in replace:
            pq.write_table(replace[name], out)
        else:
            os.symlink(f"{src}/{name}.parquet", out)


def test_disagreeing_file_loads_with_its_own_schema(spark, sf_dir, tmp_path):
    """A renamed or retyped column fails the footer check and loads as
    the file says — the declared schema would NULL-fill the renamed
    column and mis-read the retyped one."""
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    orders = orders.rename_columns(
        ["o_orderdate_v2" if c == "o_orderdate" else c for c in orders.column_names]
    )
    lineitem = pq.read_table(f"{sf_dir}/lineitem.parquet")
    i = lineitem.column_names.index("l_linenumber")
    lineitem = lineitem.set_column(
        i, "l_linenumber", lineitem.column(i).cast(pa.int64())
    )
    d = str(tmp_path / "drifted")
    _copy_tables(sf_dir, d, orders=orders, lineitem=lineitem)

    for name, col, dtype in (
        ("orders", "o_orderdate_v2", T.TimestampNTZType()),
        ("lineitem", "l_linenumber", T.LongType()),
    ):
        path = f"{d}/{name}.parquet"
        assert not footer_matches(spark, path, EXPECTED_SCHEMAS[name])
        df = load(spark, d, name)
        assert df.schema == spark.read.parquet(path).schema
        assert df.schema[col].dataType == dtype
        n = df.count()
        assert n > 0 and df.filter(F.col(col).isNull()).count() == 0
    assert load(spark, d, "region").schema == EXPECTED_SCHEMAS["region"]


def test_partitioned_directory_is_not_a_match(spark, sf_dir, tmp_path):
    """Partition columns come from directory names, not footers, so a
    partitioned table keeps Spark's own discovery."""
    region = pq.read_table(f"{sf_dir}/region.parquet")
    d = tmp_path / "region.parquet" / "part=0"
    d.mkdir(parents=True)
    pq.write_table(region, str(d / "a.parquet"))
    path = str(tmp_path / "region.parquet")
    assert not footer_matches(spark, path, EXPECTED_SCHEMAS["region"])
    assert "part" in load(spark, str(tmp_path), "region").columns


def _wait_for_jobs(sc, group: str, timeout_s: float = 10.0) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
        if ids:
            return ids
        time.sleep(0.05)
    return []


def test_tpch_builders_launch_no_spark_job(spark, sf_dir):
    """The builder layer: building all 22 TPC-H keys runs no Spark job
    (schema inference used to run one per ``load``). A later inference
    read in a second group is the control: once its job is visible, the
    status store has seen every job the builders could have run."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    try:
        sc.setJobGroup("test_sources:tpch_builders", "build only")
        for key in TPCH_KEYS:
            REGISTRY[key].builder(spark, sf_dir)
        sc.setJobGroup("test_sources:control", "inference read")
        spark.read.parquet(f"{sf_dir}/region.parquet")
        assert _wait_for_jobs(sc, "test_sources:control"), "control job not seen"
        assert len(TPCH_KEYS) == 22
        built = sc.statusTracker().getJobIdsForGroup("test_sources:tpch_builders")
        assert list(built) == []
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def _conf_unset(spark, key: str):
    prev = spark.conf.get(key, None)
    spark.conf.unset(key)
    return prev


def _conf_restore(spark, key: str, prev) -> None:
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def test_micros_events_leave_nanos_conf_alone(spark, sf_dir):
    from flink_rc_spark.streaming.replay import events_stream

    prev = _conf_unset(spark, NANOS)
    try:
        assert not tables.events_ts_is_nanos(sf_dir)
        load(spark, sf_dir, "events")
        events_stream(spark, sf_dir)
        assert spark.conf.get(NANOS, None) is None
    finally:
        _conf_restore(spark, NANOS, prev)


def test_nanos_events_load_as_truncated_micros(spark, tmp_path):
    """A pyarrow-written ``timestamp[ns]`` events file loads through
    the declared path as µs TimestampType (sub-µs digits truncated),
    and batch and stream agree."""
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory

    base = 1_717_236_000_000_000_000  # 2024-06-01 10:00 UTC in ns
    ns = [base + 123_456_789, base + 3_600_000_000_999, base + 999]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "view"],
            "value": [1.0, 2.5, 3.0],
            "props": ['{"k": 1}', '{"k": 2}', '{"k": 3}'],
        }
    )
    d = str(tmp_path / "sf_nanos")
    os.makedirs(d)
    pq.write_table(tbl, f"{d}/events.parquet")

    prev = _conf_unset(spark, NANOS)
    try:
        assert tables.events_ts_is_nanos(d)
        df = load(spark, d, "events")
        assert spark.conf.get(NANOS) == "true"
        assert footer_matches(spark, f"{d}/events.parquet", events_raw_schema(True))
        assert df.schema == EXPECTED_SCHEMAS["events"]
        got = df.orderBy("event_id").select(F.expr("unix_micros(ts)")).collect()
        assert [r[0] for r in got] == [n // 1000 for n in ns]
        streamed = run_to_memory(events_stream(spark, d))
        assert _rows(streamed).equals(_rows(df))
    finally:
        _conf_restore(spark, NANOS, prev)
