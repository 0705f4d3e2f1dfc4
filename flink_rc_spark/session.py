"""SparkSession factory tuned for this engine.

Local-mode defaults size themselves from the machine (one task slot per
core, a driver heap capped from physical RAM, single JVM); every
setting is chosen so the *same* logical plans scale to a real cluster:
AQE handles runtime re-planning (partition coalescing, skew joins),
shuffle partitions default to core count locally but would be
raised/auto-coalesced on a cluster, Arrow is on so any pandas-UDF
exchange is columnar.

Note: when the driver calls ``queries()[k](spark, sf_dir)`` it supplies
its *own* session; every query builder must be correct under any
reasonable session config. This factory is for our tests and bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM in whole GiB, between 1g and 16g: the JVM
    heap shares the box with the Python workers and the OS, so a fixed
    16g would exceed a 15 GB machine's RAM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2**31))}g"


def get_spark(app: str = "flink_rc_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # The in-memory status store retains ~1000 executions/jobs/
        # stages even with the UI off; across a ~190-query bench sweep
        # that retention taxes the driver (listener bus + heap) and
        # measurably degrades later keys. Keep only a working set.
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.appStateStore.asyncTracking.enable", "true")
    )
    # LOCAL-ONLY scan-split tuning — DELETE ON A CLUSTER. The
    # multi-file local tables (sf1 lineitem = 16 x 6.5 MB) otherwise
    # pack into ONE split (16 files x (6.5 MB + 4 MB openCost) fits
    # one 128 MB bin), serializing every scan stage — filters,
    # projections, partial aggs — onto a single core; measured
    # q_tpch_q6 at sf1 2.7 s -> 0.4 s with 16-way scans, and the 2 MB
    # bin gives the 8 x 0.7 MB sf1 documents table file-per-split
    # regex parallelism too. Single-file tables are one row group, so
    # this cannot over-split them. On a real lake the 128 MB default
    # is right (files are many and the bin amortizes task overhead) —
    # these two settings are the local stand-in for that file
    # multiplicity, so they apply ONLY under a local[...] master.
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", "2m"
        ).config("spark.sql.files.openCostInBytes", "512k")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
