"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
verbose JSON line (every key's wall plus the ``calib`` block), then a
compact final line carrying only the headline::

    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "calib_ok": B, "compact": true}

The verbose record is also written to ``$SPARK_GRAFT_BENCH_OUT``
(default ``bench_out.latest.json`` next to this file).

Timing method: each query's full physical plan is executed through the
``noop`` sink (``df.write.format("noop")``) so the measured time is the
distributed execution — scan, shuffle, agg, join — without driver-side
collect or sink I/O skew. Each timing includes the builder call: for
batch queries that is ms of plan construction; for streaming keys the
builder drives the whole bounded replay, which IS the work. Session
warm-up (``warm_session``) runs first so one-time JVM, codegen and
Python-worker costs are not charged to whichever key happens to run
first.

The headline set covers every operator family (scan, filter, join, agg,
window, sort, set, scalar, subquery, LLM-data); ``value`` is the
headline total. The bench also times every other registered key (the
``queries`` map holds all of them, ``all_total`` their sum). Set
``SPARK_GRAFT_BENCH_HEADLINE_ONLY=1`` to skip that tail.

Trust: two fixed probes — a pure-codegen query and a scan of the bench
SF's own ``lineitem.parquet`` — are sampled around the headline pass
and every 25 tail keys. ``calib.ok`` (``calib_verdict``) is true when
neither probe drifted within the run: codegen ``max/min <= 1.3``, scan
``max/min <= 1.5``. A drifting probe means the box, not the plans,
moved during the run.

Tail keys slower than twice their wall in the committed
``bench_ref_<sf>.json`` (a prior full sweep's verbose record) are
re-executed once and the min kept; ``calib.retried_keys`` lists every
re-executed key.

``tools/key_probe.py`` times keys with this module's ``execute``,
``codegen_probe`` and ``warm_session``, and passes ``execute`` a
``perfbench/tracer.py::Tracer`` to split each wall into layers.
"""

from __future__ import annotations

import json
import os
import time

from flink_rc_spark.registry import REGISTRY, load_all
from flink_rc_spark.session import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))

CODEGEN_DRIFT_MAX = 1.3
SCAN_DRIFT_MAX = 1.5


def calib_verdict(
    codegen_samples: list[float], scan_samples: list[float]
) -> dict:
    """Drift verdict from one run's own probe samples.

    ``ratio`` and ``scan_drift`` are each probe's ``max/min`` (1.0 when
    a probe has no samples); ``ok`` holds when both are within their
    limits. The verdict is decided on the rounded ratios it reports.
    """

    def drift(samples: list[float]) -> float:
        return round(max(samples) / min(samples), 3) if samples else 1.0

    ratio = drift(codegen_samples)
    scan_drift = drift(scan_samples)
    return {
        "ok": ratio <= CODEGEN_DRIFT_MAX and scan_drift <= SCAN_DRIFT_MAX,
        "ratio": ratio,
        "scan_drift": scan_drift,
    }


def _noop_wall(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)


def execute(spark, key: str, sf_dir: str, tracer=None):
    """Wall of one registry key: builder call plus noop-sink execution.

    With a ``tracer`` (``perfbench/tracer.py::Tracer``) the builder's
    and the sink's jobs are tagged as the key's builder and exec phases,
    and the tracer's reading of the key is returned instead of the
    wall: a dict of layer readings whose ``builder_s`` and ``exec_s``
    sum to it."""
    if tracer is not None:
        tracer.set_phase(key, "builder")
    t0 = time.perf_counter()
    df = REGISTRY[key].builder(spark, sf_dir)
    t1 = time.perf_counter()
    if tracer is not None:
        tracer.set_phase(key, "exec")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    # drop persisted RDDs a builder left behind (e.g. the RC pipeline's
    # reservoir-state persist): across ~120 keys the accumulated blocks
    # skew later keys' times with GC/memory pressure
    spark.catalog.clearCache()
    if tracer is not None:
        return tracer.finish_key(key, t1 - t0, t2 - t1)
    return t2 - t0


def codegen_probe(spark) -> float:
    """Fixed pure-codegen query (~0.15 s on a healthy 4-core box): its
    drift within a run tracks CPU-side box noise."""
    return _noop_wall(
        spark.range(4_000_000).selectExpr("sum(id * 2) AS s", "count(*) AS n")
    )


def scan_probe(spark, fixture: str) -> float:
    """Parquet scan + hash agg of a fixed file: tracks the I/O and
    memory-bandwidth side that the codegen probe cannot see."""
    return _noop_wall(
        spark.read.parquet(fixture).groupBy("l_returnflag").agg(
            {"l_extendedprice": "sum", "*": "count"}
        )
    )


def warm_session(spark, sf_dir: str, first_key: str) -> list[str]:
    """Pay the session's one-time costs outside any timed run; returns
    what was warmed (recorded as ``calib.prewarmed_keys``)."""
    warmed = [first_key]
    execute(spark, first_key, sf_dir)  # JVM + codegen + parquet footers
    # The session's FIRST use of the pyspark.sql.datasource API pays
    # ~3 s of one-time cost (dataSource.register into the JVM manager +
    # spawning the Python planning runner); q_pyds_source itself
    # generates a fixed 6x512-row frame.
    if "q_pyds_source" in REGISTRY:
        warmed.append("q_pyds_source")
        execute(spark, "q_pyds_source", sf_dir)
    # The first mapInPandas/applyInPandas stage spawns one Python
    # worker per core plus their numpy/pandas imports (r12 probe:
    # q_audio_decode 8.76 s cold vs 0.86 s warm, same plan). Ship the
    # package FIRST — addPyFile changes the worker environment key, so
    # workers spawned without it would be thrown away on the first real
    # kernel — and import it inside the warm-up kernel, one task per
    # core. Workers are then reused across jobs.
    warmed.append("<arrow-python-workers>")
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)

    def _py_warm(it):
        import flink_rc_spark  # noqa: F401 — warm the package import

        return it

    n = spark.sparkContext.defaultParallelism
    _noop_wall(spark.range(n).repartition(n).mapInPandas(_py_warm, "id long"))
    codegen_probe(spark)
    return warmed


def jvm_gc(spark) -> None:
    """Full GC between measurements: garbage from PRIOR keys degrades
    later keys 3-4x (codegen probe: 0.13 s fresh -> 0.45 s after 60
    keys -> 0.13 s after System.gc()), so it is collected outside the
    timed window."""
    spark._jvm.System.gc()


HEADLINE = [
    # relational core
    "q_agg_group",          # flagship TPC-H Q1 shape
    "q_scan_pruned",        # pushdown surface
    "q_join_inner",         # big shuffle join lineitem join orders
    "q_join_broadcast",     # broadcast dim join
    "q_join_multiway",      # 4-way join
    "q_agg_distinct",
    "q_agg_rollup",
    "q_win_ranking",
    "q_win_moving",
    "q_topk_per_group",
    "q_set_except",
    "q_subq_exists_corr",
    "q_json_funcs",
    "q_agg_pivot",
    "q_agg_salted",
    "q_agg_percentile",
    "q_ts_resample",
    # LLM-data pipeline
    "q_text_stats",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_sim_cosine_topk",
    "q_knn_label",
    "q_sample_hash",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all()
    spark = get_spark(app="flink_rc_spark_bench")

    # sf tag from the dir name, e.g. .../sf0.1 -> 0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = base

    missing = set(HEADLINE) - REGISTRY.keys()
    assert not missing, f"headline keys missing from registry: {sorted(missing)}"

    prewarmed = warm_session(spark, sf_dir, HEADLINE[0])
    scan_fixture = os.path.join(sf_dir, "lineitem.parquet")
    scan_probe(spark, scan_fixture)

    codegen_samples: list[float] = []
    scan_samples: list[float] = []

    def sample() -> None:
        codegen_samples.append(min(codegen_probe(spark), codegen_probe(spark)))
        scan_samples.append(
            min(scan_probe(spark, scan_fixture), scan_probe(spark, scan_fixture))
        )

    jvm_gc(spark)
    sample()

    # Headline keys are timed as min-of-2 executions: the first pass
    # pays per-query Catalyst/codegen compilation (~0.1-0.3 s) and any
    # transient box noise; the min is the steady-state distributed
    # execution — the quantity that scales with data volume.
    timings: dict[str, float] = {}
    for k in HEADLINE:
        jvm_gc(spark)
        timings[k] = round(
            min(execute(spark, k, sf_dir), execute(spark, k, sf_dir)), 4
        )
    sample()
    headline_total = round(sum(timings.values()), 4)

    ref_name = f"bench_ref_{base}.json"
    ref_walls: dict[str, float] = {}
    ref_source = None
    if os.path.exists(os.path.join(HERE, ref_name)):
        with open(os.path.join(HERE, ref_name)) as f:
            ref_walls = json.load(f)["queries"]
        ref_source = ref_name
    retried_keys: list[str] = []

    if not os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_ONLY"):
        for i, k in enumerate(sorted(REGISTRY.keys() - set(HEADLINE))):
            if i % 10 == 0:
                jvm_gc(spark)
            if i % 25 == 0 and i > 0:
                sample()
            t = execute(spark, k, sf_dir)
            # Streaming-replay keys get the headline treatment — min-of-2
            # always, plus a third run if still >1.5x the reference wall:
            # replay pays multi-second fixed session costs with high
            # box-noise sensitivity, so one run is never evidence.
            if k.startswith("q_stream_"):
                retried_keys.append(k)
                t = min(t, execute(spark, k, sf_dir))
                if k in ref_walls and t > 1.5 * ref_walls[k]:
                    t = min(t, execute(spark, k, sf_dir))
            # retry-if-slow: single runs show 2-5x noise spikes (a 2.5 s
            # key has benched at 13 s); one retry on outliers separates
            # noise from plan cost while keeping the sweep bounded. If
            # the codegen probe reads > 2x its first sample, the box is
            # degraded and both prior runs were likely polluted.
            elif t > 4.0:
                retried_keys.append(k)
                t = min(t, execute(spark, k, sf_dir))
                if t > 4.0 and codegen_probe(spark) > 2 * codegen_samples[0]:
                    t = min(t, execute(spark, k, sf_dir))
            # Only slower-than-reference keys retry, and a retry only
            # re-executes the identical plan, so every recorded number
            # is a true wall.
            elif k in ref_walls and t > max(2 * ref_walls[k], 0.5):
                retried_keys.append(k)
                t = min(t, execute(spark, k, sf_dir))
            timings[k] = round(t, 4)
        sample()

    verdict = calib_verdict(codegen_samples, scan_samples)
    line = json.dumps(
        {
            "metric": "headline_queries_wall_clock",
            "value": headline_total,
            "unit": "sec",
            "queries": timings,
            "all_total": round(sum(timings.values()), 4),
            "calib": {
                **verdict,
                "samples": codegen_samples,
                "scan_samples": scan_samples,
                "scan_fixture": scan_fixture,
                # keys executed before their measured runs (session
                # warm-up, NOT in their recorded walls)
                "prewarmed_keys": prewarmed,
                "retried_keys": retried_keys,
                "ref_source": ref_source,
                "gate_policy": "r14-drift-only",
            },
            "sf": sf,
        }
    )
    print(line)
    # The driver keeps only the LAST ~2000 chars of stdout; the full
    # line above exceeds that once per-key timings are included, so
    # the headline-first layout got sliced off (BENCH_r2/r3 parsed as
    # null). Emit a compact final line carrying just the headline so
    # the tail capture always contains one parseable JSON object.
    compact_line = json.dumps(
        {
            "metric": "headline_queries_wall_clock",
            "value": headline_total,
            "unit": "sec",
            "sf": sf,
            "calib_ok": verdict["ok"],
            # distinguishes this tail line from the verbose one above,
            # so a consumer parsing the FIRST matching metric doesn't
            # silently get the verbose record (and vice versa)
            "compact": True,
        }
    )
    print(compact_line)
    # Also persist next to the script: a truncated/corrupted stdout
    # capture (r2's BENCH artifact parsed as null) then still leaves a
    # recoverable record of the run. ONE JSON object only — the
    # verbose record is a superset of the compact tail line, and a
    # consumer doing json.load() on the file must not break.
    try:
        out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
            HERE, "bench_out.latest.json"
        )
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
