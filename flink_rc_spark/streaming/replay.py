"""Streaming source + sink plumbing.

``events_stream`` replays the events parquet file through Structured
Streaming's file source — the same schema the batch loader exposes
(ns→µs truncated TimestampType), so every streaming query's oracle is
simply the equivalent batch SQL over the bounded table (stream/batch
unification is Spark's model).

``run_to_memory`` drives a bounded replay to completion synchronously
(memory sink + processAllAvailable) and returns the results as a
batch DataFrame — this is how declared streaming queries satisfy the
driver contract's ``(spark, sf_dir) -> DataFrame`` shape.

100 TB story: the file source is swapped for Kafka/queue by changing
``readStream.format`` only; windows/watermarks/state operators are
source-agnostic. Memory sink is test-only — production sinks are
``writeStream.format("parquet")`` / foreachBatch.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from flink_rc_spark.sources.tables import (
    events_raw_schema,
    events_ts_is_nanos,
    normalize_events_ts,
    parquet_files,
)

_CHECKPOINT_LOCATION = "spark.sql.streaming.checkpointLocation"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_SYSTEM_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _stream_dir(sf_dir: str, n_splits: int = 1) -> str:
    """The file stream source requires a *directory*.

    n_splits=1: expose the single events.parquet through a cached temp
    dir of symlinks (zero copy).

    n_splits>1: split the events into `n_splits` event-time-ordered
    parquet files (pyarrow, schema-preserving — ts stays INT64 nanos)
    with strictly increasing mtimes, so that under
    ``maxFilesPerTrigger=1`` the replay becomes a REAL incremental
    stream: event time advances across micro-batches, watermarks move,
    and stateful operators must carry state batch-to-batch. This is the
    local stand-in for a Kafka topic's arrival order.
    """
    import os

    from flink_rc_spark.util import cached_fixture_dir

    sf_dir = sf_dir.rstrip("/")

    def build(d: str) -> None:
        files = parquet_files(f"{sf_dir}/events.parquet")
        if n_splits <= 1:
            # single-file AND directory-shaped events tables both
            # become one symlink per concrete part file (zero copy)
            for i, f in enumerate(files):
                os.symlink(f, f"{d}/events-{i:04d}.parquet")
        else:
            import pyarrow.parquet as pq

            tbl = pq.read_table(files if len(files) > 1 else files[0])
            tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
            n = tbl.num_rows
            step = (n + n_splits - 1) // n_splits
            base = 1_700_000_000  # fixed epoch base; only ordering matters
            for i in range(n_splits):
                chunk = tbl.slice(i * step, step)
                if chunk.num_rows == 0:
                    break
                path = f"{d}/part-{i:04d}.parquet"
                pq.write_table(chunk, path)
                os.utime(path, (base + i, base + i))

    return cached_fixture_dir("events_stream", f"{sf_dir}::{n_splits}", build)


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 1,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay events as a stream. With n_splits>1 the replay defaults
    to one file per trigger (``maxFilesPerTrigger`` is a file-source
    OPTION, not a SQL conf), i.e. n_splits real micro-batches."""
    ts_is_nanos = events_ts_is_nanos(sf_dir)
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(events_raw_schema(ts_is_nanos))
    if max_files_per_trigger is None and n_splits > 1:
        max_files_per_trigger = 1
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(_stream_dir(sf_dir, n_splits))
    return normalize_events_ts(raw, ts_is_nanos)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    stats: dict | None = None,
) -> DataFrame:
    """Execute a bounded streaming query to completion; return results.

    If ``stats`` is passed, it records:

    - ``num_batches``: micro-batches that consumed input rows, so tests
      can assert the replay really was incremental (state carry-over is
      only proven when num_batches > 1);
    - ``state_partitions``: the state stage's partition count;
    - ``duration_ms``: ``StreamingQueryProgress.durationMs`` summed over
      the batches for ``addBatch``, ``queryPlanning``, ``walCommit``
      and ``triggerExecution``;
    - ``rows_dropped_by_watermark`` and ``progress_window_saturated``;
    - ``state_rows``: ``numRowsTotal`` summed over the state operators
      of the last progress, the keys the state store holds at the end.

    State partitions: streaming state operators shuffle on
    ``spark.sql.shuffle.partitions`` with NO AQE coalescing, and the
    count is fixed for the query's life (it is stored in the
    checkpoint), so a session tuned for batch (32-200 partitions) pays
    32-200 state-store tasks per micro-batch regardless of volume. The
    count is one state partition per task slot,
    ``sparkContext.defaultParallelism`` read when the query starts:
    every state-store task runs in the first wave, and each slot holds
    one partition's keys. On ``local[N]`` that is N. On a cluster it is
    the executor cores registered at that moment (at least 2), which
    can be fewer than the cluster will have under dynamic allocation;
    only ``local[N]`` has been measured. On a 4-core box this rule alone
    took the perfbench ``stream_replay`` pass from 6.02 s to ~4.7 s
    against 8 partitions (one per 512 KB of input, clamped to [8, 32]),
    and ``q_stream_tumbling`` at sf1 from 2.69 s to 1.24 s against 32
    (BASELINE.md, "State partitions: one per task slot").

    Checkpoint files: with no checkpoint location the memory sink
    checkpoints to a fresh directory under Spark's temporary local
    directory. Spark writes it through the Hadoop FileContext API by
    default, and without the native Hadoop library (the
    ``NativeCodeLoader`` warning) ``RawLocalFileSystem`` forks a
    ``readlink`` or ``chmod`` child process for every link-status
    lookup and every file create: every offset, commit and source-log
    entry, state-schema, state-delta and checksum file. In prototype
    readings, JFR ``jdk.ProcessStart`` counted about 150 forks per
    counter replay, about 40 with
    ``FileSystemBasedCheckpointFileManager``, which this query
    therefore uses; they were not recounted on the final code. It renames a finished temporary file into
    place, which is atomic only on a file system with POSIX rename
    and one writer: so the manager is set only when the session sets
    neither ``spark.sql.streaming.checkpointLocation`` nor a manager of
    its own, the case of Spark's fresh, local, single-writer temporary
    directory. Hadoop's ``.crc`` files and Spark's checkpoint checksums
    are kept. (BASELINE.md, "Checkpoint forks and user-bucket state".)

    Both confs are query-scoped: set for the query's planning and
    restored afterwards, or unset again if the session never set them
    (harness queries run sequentially).
    """
    spark = stream_df.sparkSession
    state_partitions = spark.sparkContext.defaultParallelism
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    query_confs = {"spark.sql.shuffle.partitions": str(state_partitions)}
    if spark.conf.get(_CHECKPOINT_LOCATION, None) is None and (
        spark.conf.get(_CHECKPOINT_MANAGER, None) is None
    ):
        query_confs[_CHECKPOINT_MANAGER] = _FILE_SYSTEM_MANAGER
    # restored only after the bounded replay completes: batch planning
    # reads the confs lazily, so restoring right after the async start()
    # would race batch 0
    saved = {k: spark.conf.get(k, None) for k in query_confs}
    for k, v in query_confs.items():
        spark.conf.set(k, v)
    q = None
    try:
        # start() lives INSIDE the try: if analysis fails, the finally
        # still restores the confs for subsequent batch queries.
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        if stats is not None:
            import json

            # recentProgress retains only the last
            # spark.sql.streaming.numRecentProgressUpdates entries
            # (default 100) — longer replays would undercount, so flag
            # saturation instead of reporting a silently-low number.
            progress = [
                json.loads(p.json) if hasattr(p, "json") else p
                for p in q.recentProgress
            ]
            stats["num_batches"] = sum(
                1 for p in progress if p["numInputRows"] > 0
            )
            stats["progress_window_saturated"] = len(progress) >= 100
            stats["state_partitions"] = state_partitions
            stats["duration_ms"] = {
                phase: sum(p["durationMs"].get(phase, 0) for p in progress)
                for phase in (
                    "addBatch", "queryPlanning", "walCommit",
                    "triggerExecution",
                )
            }
            stats["rows_dropped_by_watermark"] = sum(
                so.get("numRowsDroppedByWatermark", 0)
                for p in progress
                for so in p.get("stateOperators", [])
            )
            stats["state_rows"] = sum(
                so.get("numRowsTotal", 0)
                for so in (progress[-1].get("stateOperators", [])
                           if progress else [])
            )
    finally:
        if q is not None:
            q.stop()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # The memory sink's rows are driver-held and the registered table
    # SURVIVES q.stop(), later queries, and catalog.clearCache()
    # (probed r13, OPTIMIZATION_r13.md "Streaming replay — the
    # fixed-cost split") — the former defensive `cache() + count()`
    # tail only copied the rows into block-manager storage and paid
    # one extra job per key, ~0.2-0.3 s x 21 streaming keys of pure
    # overhead.
    return spark.table(name)
