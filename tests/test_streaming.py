"""Streaming-specific semantics checks beyond the oracle parity
(which tests/test_correctness.py already runs for the q_stream_*
keys with oracles)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_rc_spark.registry import REGISTRY, load_all
from flink_rc_spark.sources import load

load_all()


def test_watermark_late_emits_exactly_the_passed_windows(spark, sf_dir):
    """Spark-side twin of q_stream_watermark_late's exact oracle: the
    emitted set must equal EXACTLY the batch result restricted to
    windows the final watermark passed (window_end <= max(ts) - 10 min)
    — value-identical rows, not just a subset. The bounded replay makes
    this deterministic: after the last data batch, the no-data commit
    finalizes every window behind the watermark. (The DuckDB spelling
    of the same rule is the key's oracle; parity runs in
    test_correctness.py.)"""
    streamed = REGISTRY["q_stream_watermark_late"].builder(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    horizon = events.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).first()["wm"]
    expected = batch.filter(F.col("window_end") <= F.lit(horizon)).drop(
        "window_end"
    )
    a = streamed.orderBy("window_start", "event_type").toPandas()
    b = expected.orderBy("window_start", "event_type").toPandas()
    assert len(a) > 0, "watermarked replay emitted nothing"
    assert a.equals(b), (
        f"emitted set != watermark-passed batch subset "
        f"(streamed {len(a)} rows, expected {len(b)})"
    )
    assert len(a) < batch.count(), "watermark withheld nothing"


def test_watermark_boundary_inclusive(spark, tmp_path):
    """Pins the eviction comparison q_stream_watermark_late's oracle
    encodes: a window whose end equals the final watermark EXACTLY is
    emitted (inclusive boundary). Synthetic collision: events in
    [00:00, 01:00) plus a max event at precisely 01:10:00.000000 make
    the watermark land exactly on the window end 01:00:00."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    ts = [
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 1, 1, 0, 30, 0),
        dt.datetime(2024, 1, 1, 1, 10, 0),
    ]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us")), "k": ["a", "a", "b"]}),
        str(tmp_path / "e.parquet"),
    )
    schema = T.StructType(
        [T.StructField("ts", T.TimestampNTZType()), T.StructField("k", T.StringType())]
    )
    s = (
        spark.readStream.schema(schema)
        .parquet(str(tmp_path))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "k", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_boundary_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM wm_boundary_test").collect()
    emitted = sorted((str(r.ws), r.k, r.n) for r in out)
    # [00:00,01:00) emits (end == watermark, inclusive); [01:00,02:00) held
    assert emitted == [("2024-01-01 00:00:00", "a", 2)], emitted


def test_stateful_counter_state_survives_batches(spark, sf_dir):
    """State carry-over proven on a REAL multi-micro-batch replay: the
    events are split into 4 event-time-ordered files consumed one per
    trigger, and the per-user running counter must equal the
    single-batch result exactly — which is only possible if the
    (n, cents) state survives between batches. Fails if state resets:
    running_n would restart at 1 inside later batches."""
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.streaming.stateful import stateful_counter_stream
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    one_batch = REGISTRY["q_stream_stateful_counter"].builder(spark, sf_dir)

    out = stateful_counter_stream(events_stream(spark, sf_dir, n_splits=4))
    stats: dict = {}
    split = run_to_memory(out, output_mode="append", stats=stats)

    assert stats["num_batches"] >= 3, f"replay was not incremental: {stats}"
    assert stats["state_partitions"] == spark.sparkContext.defaultParallelism
    assert stats["duration_ms"]["addBatch"] > 0, stats
    a = one_batch.orderBy("user_id", "event_id").toPandas()
    b = split.orderBy("user_id", "event_id").toPandas()
    assert a.equals(b)


@pytest.mark.parametrize("kernel", ["counter", "esn"])
def test_state_partition_count_does_not_change_output(
    spark, sf_dir, kernel, monkeypatch
):
    """The per-user kernels' output on a 4-micro-batch replay must not
    depend on how the state store is partitioned: one state partition
    (one task slot) gives exactly the rows of the default (one per task
    slot of this session). The ESN rows must also equal the batch
    reservoir scan bit for bit: each series is then scanned in
    micro-batch-sized blocks on the stream side and whole on the batch
    side."""
    from pyspark import SparkContext

    from flink_rc_spark.streaming import stateful as st
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    build = {"counter": st.stateful_counter_stream, "esn": st.esn_stream}[kernel]

    def run():
        out = build(events_stream(spark, sf_dir, n_splits=4))
        stats: dict = {}
        df = run_to_memory(out, stats=stats)
        return stats, df.orderBy("user_id", "event_id").toPandas()

    default_stats, default = run()
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "defaultParallelism", property(lambda sc: 1))
        one_stats, one = run()
    assert default_stats["state_partitions"] == (
        spark.sparkContext.defaultParallelism
    )
    assert one_stats["state_partitions"] == 1
    assert one_stats["num_batches"] >= 3, one_stats
    assert len(default) > 0 and default.equals(one)
    if kernel == "esn":
        expected = _batch_esn_trajectories(spark, sf_dir)
        got = {
            (r.user_id, r.event_id): (r.x0, r.state_norm)
            for r in one.itertuples()
        }
        assert got == expected


def test_run_to_memory_restores_shuffle_partitions(
    spark, sf_dir, tmp_path, monkeypatch
):
    """run_to_memory sets spark.sql.shuffle.partitions for the state
    stage only: afterwards the session's own value is back — or the
    conf is unset again if the session never set it — both after a
    completed replay and when start() fails analysis (append mode on an
    aggregation without a watermark). The same holds for
    spark.sql.streaming.checkpointFileManagerClass, which the query
    gets as the FileSystem manager; a session that sets a checkpoint
    location or a manager of its own keeps it, and the manager conf is
    never set."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.conf import RuntimeConfig

    from flink_rc_spark.streaming import replay
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory

    key = "spark.sql.shuffle.partitions"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    location = "spark.sql.streaming.checkpointLocation"
    assert spark.conf.get(manager, None) is None
    assert spark.conf.get(location, None) is None
    sets: list = []
    real_set = RuntimeConfig.set

    def recording_set(self, k, v):
        sets.append((k, v))
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)

    def after_each_replay(check):
        """A completed replay, then one whose start() fails analysis."""
        s = events_stream(spark, sf_dir)
        assert run_to_memory(s.select("event_id")).count() > 0
        check()
        with pytest.raises(AnalysisException):
            run_to_memory(s.groupBy("user_id").count(), output_mode="append")
        check()

    prev = spark.conf.get(key, None)
    try:
        for setting in ("7", None):
            if setting is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, setting)

            def restored():
                assert spark.conf.get(key, None) == setting
                assert spark.conf.get(manager, None) is None
                assert (manager, replay._FILE_SYSTEM_MANAGER) in sets
                sets.clear()

            after_each_replay(restored)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    own_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    for own_key, own_value in (
        (location, str(tmp_path / "checkpoints")),
        (manager, own_manager),
    ):
        spark.conf.set(own_key, own_value)
        sets.clear()

        def untouched():
            assert spark.conf.get(own_key, None) == own_value
            assert all(k != manager for k, _ in sets), sets
            if own_key == location:
                assert spark.conf.get(manager, None) is None

        try:
            after_each_replay(untouched)
        finally:
            spark.conf.unset(own_key)


def test_watermark_drops_late_row_across_batches(spark, tmp_path):
    """A row arriving after its window was finalized must be dropped.

    Measured Spark 4.1 semantics: the late filter lags one batch — a
    row older than the watermark is still merged if its window's state
    has not been evicted yet. So the drop case needs THREE batches:
    batch 0 (10:00-11:59) builds the 10:00 window; batch 1 (13:00)
    advances the watermark past it, evicting + emitting (10:00, n=2);
    batch 2 delivers a late 10:30 row (must drop, counted by
    numRowsDroppedByWatermark) plus a 15:00 row."""
    import os

    from flink_rc_spark.sources.tables import events_raw_schema
    from flink_rc_spark.streaming.replay import run_to_memory

    # this test writes its own raw-nanos files, so it always exercises
    # the legacy long-nanos schema regardless of the shipped testdata
    EVENTS_RAW_SCHEMA = events_raw_schema(ts_is_nanos=True)

    def ns(hour, minute=0):
        # 2024-06-01 HH:MM UTC in nanos
        import datetime as dt

        t = dt.datetime(2024, 6, 1, hour, minute, tzinfo=dt.timezone.utc)
        return int(t.timestamp()) * 1_000_000_000

    d = str(tmp_path / "late_events")
    os.makedirs(d)
    files = [
        [
            (1, ns(10, 0), 1, "view", 1.0, "{}"),
            (2, ns(10, 45), 1, "view", 1.0, "{}"),
            (3, ns(11, 30), 1, "view", 1.0, "{}"),
            (4, ns(11, 59), 1, "view", 1.0, "{}"),
        ],
        [(5, ns(13, 0), 1, "view", 1.0, "{}")],
        [
            (6, ns(10, 30), 1, "view", 1.0, "{}"),  # LATE: window evicted
            (7, ns(15, 0), 1, "view", 1.0, "{}"),
        ],
    ]
    for i, rows in enumerate(files):
        pdf = spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).toPandas()
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = f"{d}/part-{i:04d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    s = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    stats: dict = {}
    out = run_to_memory(agg, output_mode="append", stats=stats)

    assert stats["num_batches"] >= 3, f"replay was not incremental: {stats}"
    assert stats["rows_dropped_by_watermark"] == 1, stats
    emitted = {(r.window_start.hour, r.n) for r in out.collect()}
    # the 10:00 window finalized with 2 rows; the late 10:30 row must
    # not appear — neither merged (n=3) nor as a resurrected window
    assert (10, 2) in emitted, emitted
    assert sum(1 for h, _ in emitted if h == 10) == 1, emitted


def _chaos_chunks(sf_dir, n_chunks=6):
    """events.parquet sorted by (ts, event_id), sliced into n ts-ordered
    pyarrow tables with ts normalized to µs (no legacy-nanos path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir.rstrip('/')}/events.parquet",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        "ts",
        tbl.column("ts").cast(pa.timestamp("us")),
    )
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    step = (tbl.num_rows + n_chunks - 1) // n_chunks
    return [tbl.slice(i * step, step) for i in range(n_chunks)]


def _chaos_replay(spark, tmp_path, name, chunks):
    """Write `chunks` as one file per micro-batch (mtime = arrival
    order) and run the q_stream_join_outer join over them."""
    import os

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from flink_rc_spark.streaming.replay import run_to_memory
    from flink_rc_spark.streaming.windows import _view_click_join

    d = str(tmp_path / name)
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        path = f"{d}/part-{i:04d}.parquet"
        pq.write_table(chunk, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    joined = _view_click_join(s, "leftOuter")
    stats: dict = {}
    out = run_to_memory(joined, output_mode="append", stats=stats)
    return out, stats


def _chaos_expected(spark, chunks):
    """The q_stream_join_outer oracle rule (matched ∪ decidable
    unmatched under the min-of-filtered-sides watermark) computed in
    batch over exactly the rows the replay actually delivered."""
    import pyarrow as pa

    rows = spark.createDataFrame(
        pa.concat_tables(chunks).to_pandas()
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    views = rows.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    clicks = rows.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    vmax = views.agg(F.max("vts")).first()[0]
    cmax = clicks.agg(F.max("cts")).first()[0]
    wm = min(vmax, cmax)  # global watermark = min of per-side clocks
    cond = F.expr(
        "user_id = c_user_id AND cts >= vts AND cts <= vts + INTERVAL 1 HOUR"
    )
    matched = views.join(clicks, cond).select("user_id", "view_id", "click_id")
    unmatched = (
        views.join(clicks, cond, "left_anti")
        .filter(
            F.col("vts") + F.expr("INTERVAL 1 HOUR")
            < F.lit(wm) - F.expr("INTERVAL 2 HOURS")
        )
        .select("user_id", "view_id", F.lit(None).cast("long").alias("click_id"))
    )
    return matched.unionByName(unmatched)


def _rowset(df):
    return {(r.user_id, r.view_id, r.click_id) for r in df.collect()}


def test_stream_join_outer_chaos_dropped_batch(spark, sf_dir, tmp_path):
    """CHAOS: a micro-batch vanishes mid-replay (file 4 of 6 — the
    batch just before the final watermark advance). Eviction must be
    driven by the data actually seen in the order seen: the stream's
    output must equal the oracle rule recomputed over the surviving
    rows — not the full table's — proving the watermark bookkeeping is
    replay-robust, not an artifact of one canonical slicing."""
    chunks = _chaos_chunks(sf_dir)
    survived = chunks[:4] + chunks[5:]
    out, stats = _chaos_replay(spark, tmp_path, "dropped", survived)
    assert stats["num_batches"] >= len(survived), stats
    got = _rowset(out)
    want = _rowset(_chaos_expected(spark, survived))
    assert len(got) > 0
    assert got == want, (
        f"dropped-batch replay diverged: {len(got)} vs {len(want)} rows, "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )
    # the drop must actually change the answer vs the full replay
    # (otherwise this test proves nothing about robustness)
    full = _rowset(_chaos_expected(spark, chunks))
    assert got != full, "dropped batch did not perturb the result"


def test_stream_join_outer_chaos_duplicated_batch(spark, sf_dir, tmp_path):
    """CHAOS: a micro-batch is delivered twice (at-least-once source).
    Duplicate state rows may re-emit already-known pairs, but the
    DISTINCT result must equal the baseline's, and no view may be both
    matched and null-padded — i.e. eviction decisions are stable under
    redelivery (late copies fall to the watermark filter; surviving
    copies re-match against live state rather than fabricating
    unmatched rows)."""
    chunks = _chaos_chunks(sf_dir)
    doubled = chunks[:5] + [chunks[4]] + chunks[5:]
    out, stats = _chaos_replay(spark, tmp_path, "duplicated", doubled)
    assert stats["num_batches"] >= len(doubled), stats
    got = _rowset(out)
    want = _rowset(_chaos_expected(spark, chunks))
    assert len(got) > 0
    assert got == want, (
        f"duplicated-batch replay diverged: {len(got)} vs {len(want)} rows, "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )
    matched_views = {(u, v) for (u, v, c) in got if c is not None}
    null_views = {(u, v) for (u, v, c) in got if c is None}
    assert not (matched_views & null_views), (
        "redelivery made a view both matched and null-padded: "
        f"{list(matched_views & null_views)[:5]}"
    )


def _chaos_write(tmp_path, name, chunks):
    """One parquet file per micro-batch, mtime = arrival order."""
    import os

    import pyarrow.parquet as pq

    d = str(tmp_path / name)
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        path = f"{d}/part-{i:04d}.parquet"
        pq.write_table(chunk, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return d


_CHAOS_BASE_FIELDS = [
    ("event_id", "long"),
    ("ts", "timestamp_ntz"),
    ("user_id", "long"),
    ("event_type", "string"),
]


def _chaos_stream(spark, d, with_value=False):
    from pyspark.sql import types as T

    names = {"long": T.LongType(), "timestamp_ntz": T.TimestampNTZType(),
             "string": T.StringType()}
    fields = [T.StructField(n, names[t]) for n, t in _CHAOS_BASE_FIELDS]
    if with_value:
        fields.append(T.StructField("value", T.DoubleType()))
    return (
        spark.readStream.schema(T.StructType(fields))
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _chaos_full_outer_replay(spark, tmp_path, name, chunks):
    """The q_stream_full_outer pipeline (both-side null emission) over
    an arbitrary chunk delivery schedule."""
    from flink_rc_spark.streaming.replay import run_to_memory
    from flink_rc_spark.streaming.windows import _view_click_join

    s = _chaos_stream(spark, _chaos_write(tmp_path, name, chunks))
    joined = _view_click_join(s, "fullOuter")
    stats: dict = {}
    out = run_to_memory(joined, output_mode="append", stats=stats)
    return out, stats


def _chaos_full_outer_expected(spark, chunks):
    """q_stream_full_outer's both-side decidability rule (view horizon
    vts + 1h, click horizon its own cts, strict <, min-of-sides
    watermark) over exactly the delivered rows."""
    import pyarrow as pa

    rows = spark.createDataFrame(
        pa.concat_tables(chunks).to_pandas()
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    views = rows.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    clicks = rows.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    wm = min(views.agg(F.max("vts")).first()[0], clicks.agg(F.max("cts")).first()[0])
    cond = F.expr(
        "user_id = c_user_id AND cts >= vts AND cts <= vts + INTERVAL 1 HOUR"
    )
    matched = views.join(clicks, cond).select("user_id", "view_id", "click_id")
    un_views = (
        views.join(clicks, cond, "left_anti")
        .filter(
            F.col("vts") + F.expr("INTERVAL 1 HOUR")
            < F.lit(wm) - F.expr("INTERVAL 2 HOURS")
        )
        .select("user_id", "view_id", F.lit(None).cast("long").alias("click_id"))
    )
    un_clicks = (
        clicks.join(views, cond, "left_anti")
        .filter(F.col("cts") < F.lit(wm) - F.expr("INTERVAL 2 HOURS"))
        .select(
            F.col("c_user_id").alias("user_id"),
            F.lit(None).cast("long").alias("view_id"),
            "click_id",
        )
    )
    return matched.unionByName(un_views).unionByName(un_clicks)


def test_stream_full_outer_chaos_dropped_batch(spark, sf_dir, tmp_path):
    """CHAOS: a micro-batch vanishes mid-replay of the FULL outer
    join. Both null-emission rules (view horizon vts + 1h, click
    horizon cts) must re-derive from the rows actually seen — the
    output must equal the oracle rule over the surviving rows, not
    the full table's."""
    chunks = _chaos_chunks(sf_dir)
    survived = chunks[:4] + chunks[5:]
    out, stats = _chaos_full_outer_replay(spark, tmp_path, "fo_dropped", survived)
    assert stats["num_batches"] >= len(survived), stats
    got = _rowset(out)
    want = _rowset(_chaos_full_outer_expected(spark, survived))
    assert len(got) > 0
    assert got == want, (
        f"dropped-batch full-outer replay diverged: {len(got)} vs {len(want)}, "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )
    full = _rowset(_chaos_full_outer_expected(spark, chunks))
    assert got != full, "dropped batch did not perturb the result"


def test_stream_full_outer_chaos_duplicated_batch(spark, sf_dir, tmp_path):
    """CHAOS: at-least-once redelivery into the FULL outer join. The
    DISTINCT result must equal the clean replay's, and no row may be
    both matched and null-padded on EITHER side (views matched+null or
    clicks matched+null) — eviction decisions stable under redelivery
    on both state stores."""
    chunks = _chaos_chunks(sf_dir)
    doubled = chunks[:5] + [chunks[4]] + chunks[5:]
    out, stats = _chaos_full_outer_replay(spark, tmp_path, "fo_duplicated", doubled)
    assert stats["num_batches"] >= len(doubled), stats
    got = _rowset(out)
    want = _rowset(_chaos_full_outer_expected(spark, chunks))
    assert len(got) > 0
    assert got == want, (
        f"duplicated-batch full-outer replay diverged: {len(got)} vs {len(want)}, "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )
    matched_views = {(u, v) for (u, v, c) in got if v is not None and c is not None}
    null_views = {(u, v) for (u, v, c) in got if v is not None and c is None}
    assert not (matched_views & null_views)
    matched_clicks = {(u, c) for (u, v, c) in got if c is not None and v is not None}
    null_clicks = {(u, c) for (u, v, c) in got if c is not None and v is None}
    assert not (matched_clicks & null_clicks), (
        "redelivery made a click both matched and orphan: "
        f"{list(matched_clicks & null_clicks)[:5]}"
    )


def _chaos_upsert_replay(spark, tmp_path, name, chunks):
    """The q_stream_upsert pipeline (changelog materialization) over
    an arbitrary delivery schedule; returns the final table."""
    from pyspark.sql import Window as W

    from flink_rc_spark.streaming.replay import run_to_memory
    from flink_rc_spark.streaming.stateful import stream_upsert
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    s = _chaos_stream(spark, _chaos_write(tmp_path, name, chunks), with_value=True)
    stats: dict = {}
    out = run_to_memory(stream_upsert(s), output_mode="append", stats=stats)
    w = F.max("seq").over(W.partitionBy("user_id"))
    final = (
        out.withColumn("mx", w)
        .filter((F.col("seq") == F.col("mx")) & (F.col("op") == "U"))
        .select("user_id", "last_event_id", "last_value", "n_ops")
    )
    return final, stats


def _chaos_upsert_expected(spark, chunks):
    """Batch last-writer-wins over the delivered MULTISET: duplicates
    count toward n_ops (the kernel counts every applied op), while the
    newest (ts, event_id) coordinates are multiset-max == set-max —
    which is exactly the redelivery-invariance being tested."""
    import pyarrow as pa

    from pyspark.sql import Window as W

    rows = spark.createDataFrame(
        pa.concat_tables(chunks).to_pandas()
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    w_new = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        rows.withColumn("rn", F.row_number().over(w_new))
        .withColumn("n_ops", F.count("*").over(W.partitionBy("user_id")))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "click"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").cast("decimal(18,2)").cast("double").alias("last_value"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
    )


def _upsert_rowset(df):
    return {(r.user_id, r.last_event_id, r.last_value, r.n_ops) for r in df.collect()}


def test_stream_upsert_chaos_dropped_batch(spark, sf_dir, tmp_path):
    """CHAOS: a micro-batch of the changelog vanishes. The
    materialized table must equal batch last-writer-wins over the
    SURVIVING rows (state decides by event time among what it saw),
    and the drop must genuinely perturb the full-replay answer."""
    chunks = _chaos_chunks(sf_dir)
    survived = chunks[:4] + chunks[5:]
    final, stats = _chaos_upsert_replay(spark, tmp_path, "up_dropped", survived)
    assert stats["num_batches"] >= len(survived), stats
    got = _upsert_rowset(final)
    want = _upsert_rowset(_chaos_upsert_expected(spark, survived))
    assert len(got) > 0
    assert got == want, (
        f"dropped-batch upsert diverged: missing={list(want - got)[:5]}, "
        f"extra={list(got - want)[:5]}"
    )
    full = _upsert_rowset(_chaos_upsert_expected(spark, chunks))
    assert got != full, "dropped batch did not perturb the result"


def test_stream_upsert_chaos_duplicated_batch(spark, sf_dir, tmp_path):
    """CHAOS: at-least-once redelivery of a changelog batch. The
    materialized VALUES (user_id, last_event_id, last_value) must be
    IDENTICAL to the clean replay's — event-time last-writer-wins is
    idempotent under redelivery — while n_ops (an applied-op lineage
    counter, not a value) counts the redelivered rows, matching the
    multiset oracle exactly."""
    chunks = _chaos_chunks(sf_dir)
    doubled = chunks[:5] + [chunks[4]] + chunks[5:]
    final, stats = _chaos_upsert_replay(spark, tmp_path, "up_duplicated", doubled)
    assert stats["num_batches"] >= len(doubled), stats
    got = _upsert_rowset(final)
    want = _upsert_rowset(_chaos_upsert_expected(spark, doubled))
    assert len(got) > 0
    assert got == want, (
        f"duplicated-batch upsert diverged vs multiset oracle: "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )
    values = {(u, e, v) for (u, e, v, n) in got}
    base = {
        (u, e, v)
        for (u, e, v, n) in _upsert_rowset(_chaos_upsert_expected(spark, chunks))
    }
    assert values == base, (
        "redelivery changed materialized values: "
        f"missing={list(base - values)[:5]}, extra={list(values - base)[:5]}"
    )


def test_foreachbatch_parquet_sink_equals_batch(spark, sf_dir, tmp_path):
    """Streaming sink surface: a multi-micro-batch replay appending
    each batch to a parquet target through foreachBatch must produce
    exactly the batch-query result — the incremental-ETL contract
    (idempotent per-batch append; exactly-once within this bounded
    replay)."""
    import uuid

    from pyspark.sql import functions as F

    from flink_rc_spark.sources.tables import load
    from flink_rc_spark.streaming.replay import events_stream

    out = str(tmp_path / "etl_out")
    s = events_stream(spark, sf_dir, n_splits=4)
    proj = s.select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    batches_seen = []

    def write_batch(df, epoch_id):
        batches_seen.append(epoch_id)
        df.write.mode("append").parquet(out)

    q = (
        proj.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{uuid.uuid4().hex[:8]}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(batches_seen) >= 4, batches_seen

    back = spark.read.parquet(out)
    e = load(spark, sf_dir, "events")
    expect = e.select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    assert back.count() == expect.count()
    assert back.exceptAll(expect).count() == 0
    assert expect.exceptAll(back).count() == 0


def _batch_esn_trajectories(spark, sf_dir):
    """{(user_id, event_id): (x0, state_norm)} from the batch reservoir
    scan of each user's whole series, in (ts, event_id) order."""
    import numpy as np

    from flink_rc_spark.rc.reservoir import reservoir_scan
    from flink_rc_spark.streaming.stateful import _esn_weights

    cfg, w_in, w = _esn_weights()
    pdf = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    expected = {}
    for uid, g in pdf.groupby("user_id"):
        u = g[["value"]].to_numpy(dtype=float)
        states = reservoir_scan(u, w_in, w, cfg.include_bias)
        norms = np.sqrt((states * states).sum(axis=1))
        for i, eid in enumerate(g["event_id"].to_numpy()):
            expected[(uid, eid)] = (states[i, 0], norms[i])
    return expected


def test_stream_esn_matches_batch_reservoir_bit_exact(spark, sf_dir):
    """The streaming reservoir must produce the SAME float trajectory
    as the batch scan on every series — bit-identical, no tolerance:
    the stream seeds each micro-batch from stored state and both paths
    run the identical numpy kernel, so any divergence means state
    carry-over broke (e.g. fresh state per batch)."""
    streamed = (
        REGISTRY["q_stream_esn"].builder(spark, sf_dir).collect()
    )
    got = {(r.user_id, r.event_id): (r.x0, r.state_norm) for r in streamed}
    expected = _batch_esn_trajectories(spark, sf_dir)
    assert len(got) > 0 and got == expected


def test_stream_topk_state_survives_batches(spark, sf_dir):
    """The streaming top-K leaderboard must be identical whether the
    events arrive as one batch or four: the final board (max seq per
    type) after a 4-micro-batch replay equals the single-replay
    declared result row-for-row. Only possible if the K-row state
    survives between batches — a reset would leave later boards
    missing early high-value events. Also asserts the replay really
    was incremental and that intermediate boards were emitted (seq
    advances with batches)."""
    from pyspark.sql import functions as F

    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.streaming.stateful import stream_topk
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    one = REGISTRY["q_stream_topk"].builder(spark, sf_dir)

    s = events_stream(spark, sf_dir, n_splits=4)
    stats: dict = {}
    raw = run_to_memory(stream_topk(s), output_mode="append", stats=stats)
    assert stats["num_batches"] >= 3, f"replay was not incremental: {stats}"
    assert raw.agg(F.max("seq")).first()[0] >= 3, "boards did not advance"

    from pyspark.sql import Window

    final = (
        raw.withColumn("mx", F.max("seq").over(Window.partitionBy("event_type")))
        .filter(F.col("seq") == F.col("mx"))
        .select("event_type", "rank", "event_id", "value")
    )
    a = one.orderBy("event_type", "rank").toPandas()
    b = final.orderBy("event_type", "rank").toPandas()
    assert a.equals(b)


def test_stateful_state_survives_query_RESTART(spark, sf_dir, tmp_path):
    """Exactly-once recovery across a QUERY RESTART — the production
    streaming property the in-process tests can't see: run 1 consumes
    the first two replay files into a checkpointed parquet sink and
    terminates (availableNow); files 3-4 arrive; run 2 restarts from
    the SAME checkpoint. The file source must skip the already-
    committed files (no duplicates), and the per-user (n, cents)
    counter state must be RESTORED from the state-store checkpoint —
    if state reset, rows in the later files would restart their
    running counts and the batch-window oracle comparison would fail.
    """
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from flink_rc_spark.sources.tables import (
        events_raw_schema,
        events_ts_is_nanos,
        normalize_events_ts,
    )
    from flink_rc_spark.streaming.replay import _stream_dir
    from flink_rc_spark.streaming.stateful import stateful_counter_stream
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    parts = sorted(glob.glob(_stream_dir(sf_dir, 4) + "/part-*.parquet"))
    assert len(parts) == 4
    src = tmp_path / "in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def arrive(path, seq):
        dst = src / os.path.basename(path)
        shutil.copyfile(path, dst)
        os.utime(dst, (1_700_000_000 + seq, 1_700_000_000 + seq))

    def run_once():
        ts_is_nanos = events_ts_is_nanos(sf_dir)
        if ts_is_nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = (
            spark.readStream.schema(events_raw_schema(ts_is_nanos))
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        s = normalize_events_ts(reader, ts_is_nanos)
        prev = spark.conf.get("spark.sql.shuffle.partitions", None)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                stateful_counter_stream(s)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)

    arrive(parts[0], 0)
    arrive(parts[1], 1)
    run_once()
    n_after_first = spark.read.parquet(out).count()
    arrive(parts[2], 2)
    arrive(parts[3], 3)
    run_once()

    got = (
        spark.read.parquet(out)
        .orderBy("user_id", "event_id")
        .toPandas()
    )
    # run 2 added only the new files' rows — no reprocessing
    from flink_rc_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    assert n_after_first < len(got) == ev.count()
    assert got["event_id"].is_unique

    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = (
        ev.select(
            "user_id",
            "event_id",
            F.count("*").over(w).alias("running_n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("running_sum"),
        )
        .orderBy("user_id", "event_id")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_stateful_counter_on_rocksdb_state_store(spark, sf_dir):
    """The same stateful counter on the PRODUCTION state backend:
    RocksDBStateStoreProvider (what a real deployment runs so state
    size is bounded by disk, not executor heap). Identical results to
    the default HDFS-backed store prove the operator is
    backend-agnostic — the 100 TB state story is a config line, not a
    code change."""
    from flink_rc_spark.registry import REGISTRY

    base = (
        REGISTRY["q_stream_stateful_counter"]
        .builder(spark, sf_dir)
        .orderBy("user_id", "event_id")
        .toPandas()
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = (
            REGISTRY["q_stream_stateful_counter"]
            .builder(spark, sf_dir)
            .orderBy("user_id", "event_id")
            .toPandas()
        )
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert base.equals(rocks)


def test_stream_upsert_slicing_invariant_and_tombstones(spark, sf_dir):
    """q_stream_upsert's materialized table must be identical whether
    the changelog arrives as ONE batch or as 6 event-time-ordered
    micro-batches (state carries the last-writer across batches), and
    keys whose newest event is a 'click' tombstone must be absent."""
    from flink_rc_spark.registry import REGISTRY
    from flink_rc_spark.sources.tables import load
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.streaming.stateful import stream_upsert

    single = REGISTRY["q_stream_upsert"].builder(spark, sf_dir)
    a = single.toPandas()

    from pyspark.sql import Window as W

    s6 = events_stream(spark, sf_dir, n_splits=6)
    out = run_to_memory(stream_upsert(s6), output_mode="append")
    w = F.max("seq").over(W.partitionBy("user_id"))
    b = (
        out.withColumn("mx", w)
        .filter((F.col("seq") == F.col("mx")) & (F.col("op") == "U"))
        .select("user_id", "last_event_id", "last_value", "n_ops")
        .orderBy("user_id")
        .toPandas()
    )
    assert len(a) > 0 and a.equals(b), (len(a), len(b))

    # tombstone check against the raw table: newest-op-is-click keys
    # are exactly the missing ones
    ev = load(spark, sf_dir, "events")
    newest = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type")
        .collect()
    )
    dead = {r.user_id for r in newest if r.event_type == "click"}
    alive = {r.user_id for r in newest if r.event_type != "click"}
    got = set(a["user_id"])
    assert got == alive and not (got & dead)
    assert dead, "fixture produced no tombstoned keys — test vacuous"


def test_stream_cep_slicing_invariant_and_carry(spark, sf_dir):
    """q_stream_cep's matches must be identical whether the events
    arrive as ONE batch or as 6 event-time-ordered micro-batches —
    i.e. a V+ run OPEN at a batch boundary is carried in state and
    closed by a click in a later batch, never re-derived or dropped.
    (CEP is inherently multiplicity-sensitive — a duplicated event
    changes the pattern string itself — so the contract here is
    slicing-invariance under exactly-once delivery, which is what
    Spark's file source + checkpointing provide; the
    redelivery-tolerant keys are the aggregation-shaped ones.)"""
    from flink_rc_spark.registry import REGISTRY
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.streaming.stateful import stream_cep

    a = (
        REGISTRY["q_stream_cep"].builder(spark, sf_dir)
        .orderBy("user_id", "first_view_id")
        .toPandas()
    )
    stats: dict = {}
    s6 = events_stream(spark, sf_dir, n_splits=6)
    out = run_to_memory(stream_cep(s6), output_mode="append", stats=stats)
    b = out.orderBy("user_id", "first_view_id").toPandas()
    assert stats["num_batches"] >= 6, stats
    assert len(a) > 0 and a.equals(b), (len(a), len(b))


def test_stream_cep_equals_batch_twin(spark, sf_dir):
    """Stream CEP == batch CEP bit-for-bit (the q_stream_esn
    contract): same matches, same measures, same spans."""
    from flink_rc_spark.registry import REGISTRY

    a = (
        REGISTRY["q_cep_pattern"].builder(spark, sf_dir)
        .orderBy("user_id", "first_view_id")
        .toPandas()
    )
    b = (
        REGISTRY["q_stream_cep"].builder(spark, sf_dir)
        .orderBy("user_id", "first_view_id")
        .toPandas()
    )
    assert len(a) > 0 and a.equals(b), (len(a), len(b))


def test_stream_timeout_slicing_invariant_and_timer_fires(spark, sf_dir):
    """q_stream_timeout's alerts must be identical whether events
    arrive as ONE batch or 6 event-time-ordered micro-batches. The
    multi-batch replay is the one that actually exercises EVENT-TIME
    TIMERS mid-stream: the watermark advances between batches, so
    pending views whose deadline falls behind it fire in the timer
    path (state.hasTimedOut) rather than the proof-event path — the
    outputs must agree row-for-row regardless of which path emitted."""
    from flink_rc_spark.registry import REGISTRY
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.streaming.stateful import stream_timeout

    a = (
        REGISTRY["q_stream_timeout"].builder(spark, sf_dir)
        .orderBy("user_id", "view_id")
        .toPandas()
    )
    stats: dict = {}
    s6 = events_stream(spark, sf_dir, n_splits=6)
    out = run_to_memory(stream_timeout(s6), output_mode="append", stats=stats)
    b = out.orderBy("user_id", "view_id").toPandas()
    assert stats["num_batches"] >= 6, stats
    assert len(a) > 0 and a.equals(b), (len(a), len(b))


def _chaos_timeout_replay(spark, tmp_path, name, chunks):
    """Replay `chunks` (one file per micro-batch) through the
    q_stream_timeout pipeline."""
    import os

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from flink_rc_spark.streaming.replay import run_to_memory
    from flink_rc_spark.streaming.stateful import stream_timeout
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    d = str(tmp_path / name)
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        path = f"{d}/part-{i:04d}.parquet"
        pq.write_table(chunk, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    stats: dict = {}
    out = run_to_memory(stream_timeout(s), output_mode="append", stats=stats)
    return out, stats


def _chaos_timeout_expected(spark, chunks):
    """The q_stream_timeout oracle rule (lead over the delivered
    view/click subsequence; pinned final watermark) recomputed over
    exactly the rows the replay delivered."""
    import pyarrow as pa

    from flink_rc_spark.streaming.stateful import TIMEOUT_US

    rows = (
        spark.createDataFrame(pa.concat_tables(chunks).to_pandas())
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wm_ms = rows.agg(
        (F.floor(F.max("ts_us") / 1000) - 600_000).alias("w")
    ).first()[0]
    seq = rows.withColumn("next_us", F.lead("ts_us").over(w))
    deadline = F.col("ts_us") + F.lit(TIMEOUT_US)
    return (
        seq.filter(F.col("event_type") == "view")
        .filter(
            (F.col("next_us").isNotNull() & (F.col("next_us") > deadline))
            | (
                F.col("next_us").isNull()
                & (F.floor(deadline / 1000) < F.lit(wm_ms))
            )
        )
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts_us").alias("view_ts_us"),
            deadline.alias("deadline_us"),
        )
    )


def _timeout_rowset(df):
    return {(r.user_id, r.view_id, r.view_ts_us, r.deadline_us) for r in df.collect()}


def test_stream_timeout_chaos_dropped_batch(spark, sf_dir, tmp_path):
    """CHAOS: a micro-batch vanishes mid-replay. Absence detection must
    be driven by what was actually delivered: a dropped click makes its
    view's timeout REAL, and the output must equal the oracle rule
    recomputed over the surviving rows — timers and proof events alike."""
    chunks = _chaos_chunks(sf_dir)
    survived = chunks[:4] + chunks[5:]
    out, stats = _chaos_timeout_replay(spark, tmp_path, "to_dropped", survived)
    assert stats["num_batches"] >= len(survived), stats
    got = _timeout_rowset(out)
    want = _timeout_rowset(_chaos_timeout_expected(spark, survived))
    assert len(got) > 0
    assert got == want, (
        f"dropped-batch timeout replay diverged: {len(got)} vs {len(want)}, "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )


def test_stream_timeout_chaos_duplicated_batch(spark, sf_dir, tmp_path):
    """CHAOS: at-least-once redelivery of a micro-batch. The timeout
    state machine's transitions are idempotent (a re-armed view is the
    same pending row; a re-seen click still disarms), so the SET of
    alerts must equal the clean replay's — redelivered in-batch pairs
    may re-emit an alert row (append sink, at-least-once), which a
    downstream idempotent sink keyed on view_id absorbs; no alert may
    appear that the clean replay would not produce, and none may go
    missing."""
    chunks = _chaos_chunks(sf_dir)
    doubled = chunks[:5] + [chunks[4]] + chunks[5:]
    out, stats = _chaos_timeout_replay(spark, tmp_path, "to_duplicated", doubled)
    assert stats["num_batches"] >= len(doubled), stats
    got = _timeout_rowset(out)
    want = _timeout_rowset(_chaos_timeout_expected(spark, chunks))
    assert len(got) > 0
    assert got == want, (
        f"duplicated-batch timeout replay diverged from clean alert set: "
        f"missing={list(want - got)[:5]}, extra={list(got - want)[:5]}"
    )


def test_stream_timeout_checkpoint_resume(spark, sf_dir, tmp_path):
    """DURABILITY: the query is STOPPED after the first 3 micro-batches
    and a NEW query resumes from the same checkpoint over the remaining
    3 — the state store (pending views + armed timers) must restore
    exactly, so the resumed run's combined sink equals the clean
    single-run alert set. Sink is the fault-tolerant PARQUET file sink
    (exactly-once via its _spark_metadata commit log — the memory sink
    does not support recovery, by design). This is the Flink-savepoint
    parity claim: stateful operators survive restarts without
    reprocessing or loss."""
    import os

    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from flink_rc_spark.streaming.stateful import stream_timeout
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    chunks = _chaos_chunks(sf_dir)
    d = str(tmp_path / "resume_src")
    cp = str(tmp_path / "resume_cp")
    outdir = str(tmp_path / "resume_out")
    os.makedirs(d)

    def write(i, chunk):
        path = f"{d}/part-{i:04d}.parquet"
        pq.write_table(chunk, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def run_leg():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            stream_timeout(s)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return _timeout_rowset(spark.read.parquet(outdir))

    for i, c in enumerate(chunks[:3]):
        write(i, c)
    after_leg1 = run_leg()
    for i, c in enumerate(chunks[3:], start=3):
        write(i, c)
    got = run_leg()

    want = _timeout_rowset(_chaos_timeout_expected(spark, chunks))
    assert len(after_leg1) > 0, "first leg emitted nothing"
    assert len(got) > len(after_leg1), "resumed leg emitted nothing new"
    assert got == want, (
        f"checkpoint resume diverged: missing={list(want - got)[:5]}, "
        f"extra={list(got - want)[:5]}"
    )


def _resume_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )


def _finalize_upsert(df):
    from pyspark.sql import Window

    w = F.max("seq").over(Window.partitionBy("user_id"))
    return {
        (r.user_id, r.last_event_id, r.op, r.last_value, r.n_ops)
        for r in df.withColumn("mx", w)
        .filter(F.col("seq") == F.col("mx"))
        .collect()
    }


def _finalize_topk(df):
    from pyspark.sql import Window

    w = F.max("seq").over(Window.partitionBy("event_type"))
    return {
        (r.event_type, r.rank, r.event_id, r.value)
        for r in df.withColumn("mx", w)
        .filter(F.col("seq") == F.col("mx"))
        .collect()
    }


def _finalize_cep(df):
    return {
        (r.user_id, r.first_view_id, r.n_views, r.click_id, r.span_us)
        for r in df.collect()
    }


@pytest.mark.parametrize(
    "name,finalize",
    [("upsert", _finalize_upsert), ("topk", _finalize_topk), ("cep", _finalize_cep)],
)
def test_stateful_checkpoint_resume_sweep(spark, sf_dir, tmp_path, name, finalize):
    """DURABILITY SWEEP (VERDICT r6 item 7): every remaining stateful
    kernel survives a stop + checkpoint resume — the query is stopped
    after 3 of 6 micro-batches and a NEW query resumes from the same
    checkpoint over the rest; the resumed run's FINALIZED state must
    equal a clean single-run replay's (q_stream_timeout has its own
    test; the counter has the restart test). Sink is the
    fault-tolerant parquet file sink, exactly-once via its
    _spark_metadata commit log."""
    import os

    import pyarrow.parquet as pq

    from flink_rc_spark.streaming import stateful as st
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    builder = {"upsert": st.stream_upsert, "topk": st.stream_topk,
               "cep": st.stream_cep}[name]
    chunks = _chaos_chunks(sf_dir)
    schema = _resume_schema()

    def write(d, i, chunk):
        path = f"{d}/part-{i:04d}.parquet"
        pq.write_table(chunk, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    def run_leg(d, cp, outdir):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            builder(s)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(outdir)

    # clean single run: all 6 chunks visible from the start
    d0 = str(tmp_path / f"{name}_clean_src"); os.makedirs(d0)
    for i, c in enumerate(chunks):
        write(d0, i, c)
    clean = finalize(
        run_leg(d0, str(tmp_path / f"{name}_clean_cp"),
                str(tmp_path / f"{name}_clean_out"))
    )

    # stopped + resumed run: 3 chunks, stop, 3 more, resume same ckpt
    d1 = str(tmp_path / f"{name}_src"); os.makedirs(d1)
    cp1 = str(tmp_path / f"{name}_cp"); out1 = str(tmp_path / f"{name}_out")
    for i, c in enumerate(chunks[:3]):
        write(d1, i, c)
    leg1 = finalize(run_leg(d1, cp1, out1))
    for i, c in enumerate(chunks[3:], start=3):
        write(d1, i, c)
    resumed = finalize(run_leg(d1, cp1, out1))

    assert len(leg1) > 0, "first leg emitted nothing"
    assert resumed == clean, (
        f"{name}: resume diverged: missing={list(clean - resumed)[:5]}, "
        f"extra={list(resumed - clean)[:5]}"
    )


def test_stream_hll_slicing_invariant_and_equals_batch(spark, sf_dir):
    """q_stream_hll's register fold is MAX — commutative + idempotent —
    so a 4-batch incremental replay must produce the exact same final
    registers (and estimate row) as the single-batch replay, and both
    must equal the batch q_sketch_hll-style build the oracle spells."""
    from pyspark.sql import functions as F

    from flink_rc_spark.registry import REGISTRY
    from flink_rc_spark.streaming.replay import events_stream, run_to_memory
    from flink_rc_spark.functions.sketches import _HLL_M
    from flink_rc_spark.streaming.stateful import stream_hll
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    one = REGISTRY["q_stream_hll"].builder(spark, sf_dir).collect()[0]

    s = events_stream(spark, sf_dir, n_splits=4)
    stats: dict = {}
    out = run_to_memory(stream_hll(s), output_mode="append", stats=stats)
    assert stats["num_batches"] >= 3, f"replay was not incremental: {stats}"
    regs = (
        out.groupBy("bucket")
        .agg(F.max("register").cast("bigint").alias("register"))
        .collect()
    )
    reg_map = {r.bucket: r.register for r in regs}
    register_sum = sum(reg_map.values())
    empty = _HLL_M - len([v for v in reg_map.values() if v > 0])
    assert register_sum == one.register_sum
    assert empty == one.empty_buckets
    scaled = sum(
        2 ** (41 - reg_map.get(b, 0)) for b in range(_HLL_M)
    )
    assert scaled == one.scaled_power_sum


# Keys whose oracle parity must survive a row-shuffled events table
# delivered to each group in Arrow chunks of 8 rows, with every value
# on an exact half cent.
_SHUFFLED_HALF_CENT_KEYS = [
    "q_stream_stateful_counter",
    "q_stream_ewma",
    "q_stream_funnel",
    "q_stream_anomaly",
    "q_stream_first_touch",
    "q_stream_cep",
    "q_stream_timeout",
    "q_stream_upsert",
    "q_stream_topk",
    "q_udaf_surface",
]


@pytest.fixture(scope="module")
def shuffled_half_cent_dir(sf_dir, tmp_path_factory):
    """An sf dir of symlinks to ``sf_dir``'s tables, except events: a
    seeded row permutation of them with every value set to
    floor(value) + 0.125, which sits exactly on a half cent (x.125 is a
    binary fraction, so ``value * 100`` ends in .5 with no float error).
    The order exposes kernels that sort each Arrow chunk on its own;
    the half cents expose cents rounded half to even where the oracles'
    ``CAST(value AS DECIMAL(18,2))`` rounds half away from zero."""
    import os

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from flink_rc_spark.sources.tables import TABLES

    d = tmp_path_factory.mktemp("shuffled_half_cent")
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.take(np.random.default_rng(9).permutation(tbl.num_rows))
    i = tbl.schema.get_field_index("value")
    tbl = tbl.set_column(
        i, tbl.schema.field(i), pc.add(pc.floor(tbl["value"]), 0.125)
    )
    pq.write_table(tbl, str(d / "events.parquet"))
    return str(d)


@pytest.fixture
def arrow_chunks_of_8(spark):
    """Python workers receive each group in Arrow chunks of 8 rows for
    the test's duration; the session's setting is restored after."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "8")
    yield
    if prev is not None:
        spark.conf.set(key, prev)
    else:
        spark.conf.unset(key)


@pytest.mark.parametrize("key", _SHUFFLED_HALF_CENT_KEYS)
def test_oracle_parity_on_shuffled_half_cent_events(
    spark, shuffled_half_cent_dir, arrow_chunks_of_8, key
):
    """Stream == batch must not depend on the order rows reach a group
    or on how Spark chunks them: each kernel folds a group's whole
    micro-batch in (ts, event_id) order, and takes its cents from the
    oracle's own cast."""
    from tests.parity import duck_connect, run_parity

    spec = REGISTRY[key]
    con = duck_connect(shuffled_half_cent_dir)
    try:
        run_parity(
            spark, con, shuffled_half_cent_dir, key, spec.builder, spec.oracle
        )
    finally:
        con.close()


def test_stream_esn_on_shuffled_events_matches_batch(
    spark, shuffled_half_cent_dir, arrow_chunks_of_8
):
    """The streamed reservoir trajectories equal the batch scan on the
    row-shuffled, 8-row-chunked replay too."""
    d = shuffled_half_cent_dir
    streamed = REGISTRY["q_stream_esn"].builder(spark, d).collect()
    got = {(r.user_id, r.event_id): (r.x0, r.state_norm) for r in streamed}
    assert len(got) > 0 and got == _batch_esn_trajectories(spark, d)


# The registered keys of the eight kernels that keep per-user state in
# user buckets (``stateful._by_user_bucket``).
_BUCKETED_KEYS = [
    "q_stream_stateful_counter",
    "q_stream_ewma",
    "q_stream_funnel",
    "q_stream_esn",
    "q_stream_upsert",
    "q_stream_cep",
    "q_stream_anomaly",
    "q_stream_first_touch",
]


@pytest.mark.parametrize("key", _BUCKETED_KEYS)
def test_bucketed_state_holds_one_row_per_bucket(spark, sf_dir, key, monkeypatch):
    """The per-user kernels key their state by user bucket: after a
    replay of sf0.01 (150 users) the state store holds at most
    ``_USER_BUCKETS`` rows, where a per-user key holds one row per user
    (per user with an open run for cep). The outputs are checked
    against their batch references by the parity and shuffled half-cent
    tests."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from flink_rc_spark.streaming import stateful as st
    from flink_rc_spark.streaming.replay import run_to_memory

    # the shipped scales sit beside the session's test scale
    d = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    users = pq.read_table(os.path.join(d, "events.parquet"), columns=["user_id"])
    assert len(pc.unique(users["user_id"])) > 4 * st._USER_BUCKETS

    runs: list = []

    def recording(df, output_mode="append"):
        runs.append({})
        return run_to_memory(df, output_mode=output_mode, stats=runs[-1])

    monkeypatch.setattr(st, "run_to_memory", recording)
    REGISTRY[key].builder(spark, d)
    assert len(runs) == 1 and 0 < runs[0]["state_rows"] <= st._USER_BUCKETS, runs


def test_user_buckets_spread_evenly_over_state_partitions(spark):
    """Spark hashes each bucket's state key into its own partition of
    32, so every power-of-two count of state partitions up to 32 holds
    an equal share of the buckets."""
    from pyspark.sql import functions as F

    from flink_rc_spark.streaming import stateful as st

    n = st._USER_BUCKETS
    keys = spark.range(n).withColumnRenamed("id", "user_id").select(
        st._user_bucket().alias("k")
    )
    assert keys.distinct().count() == n == 32
    for parts in (4, 32):
        shares = (
            keys.repartition(parts, "k")
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        assert sorted(r["count"] for r in shares) == [n // parts] * parts
