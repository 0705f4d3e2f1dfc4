"""Per-key wall + plan probe for the optimization rounds.

Times any set of registry keys exactly the way bench.py does (builder
call + noop sink = full distributed execution, no collect/sink skew),
min-of-N with a calibration probe bracketing each key so a degraded-box
episode is visible per key instead of polluting a whole sweep. Also
dumps ``explain('formatted')`` per key — the before/after evidence the
round's plan claims are checked against (plans/r12/).

Usage:
    python tools/key_probe.py KEY [KEY...] [--reps N] [--sf DIR]
                              [--plan-dir DIR] [--plan-suffix before|after]

Prints one line per key: min/median/all walls + bracket calib samples,
then a final JSON map {key: min_wall}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default=None)
    args = ap.parse_args()

    from flink_rc_spark.registry import REGISTRY, load_all
    from flink_rc_spark.session import get_spark

    load_all()
    spark = get_spark(app="key_probe")

    def calibrate() -> float:
        t0 = time.perf_counter()
        spark.range(4_000_000).selectExpr(
            "sum(id * 2) AS s", "count(*) AS n"
        ).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    def run(key: str) -> float:
        t0 = time.perf_counter()
        df = REGISTRY[key].builder(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        spark.catalog.clearCache()
        return round(el, 4)

    # warm-up (JVM + codegen + parquet footers), not charged
    spark.sparkContext.setJobDescription("key_probe warmup")
    run(args.keys[0])
    # Arrow Python worker warm-up (bench.py policy): ship the package
    # and spawn one worker per core so the first Python-kernel key's
    # probe is not charged the one-time spawn + imports.
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)

    def _py_warm(it):
        import flink_rc_spark  # noqa: F401

        return it

    _np = spark.sparkContext.defaultParallelism
    spark.range(_np).repartition(_np).mapInPandas(
        _py_warm, "id long"
    ).write.format("noop").mode("overwrite").save()

    out = {}
    for k in args.keys:
        c0 = calibrate()
        walls = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"key_probe {k} rep{i}")
            walls.append(run(k))
        c1 = calibrate()
        out[k] = min(walls)
        print(
            f"{k}: min={min(walls):.3f} walls={walls} calib=({c0},{c1})",
            flush=True,
        )
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            suffix = args.plan_suffix or "plan"
            df = REGISTRY[k].builder(spark, args.sf)
            try:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
            with open(
                os.path.join(args.plan_dir, f"{k}_{suffix}.txt"), "w"
            ) as f:
                f.write(plan)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
