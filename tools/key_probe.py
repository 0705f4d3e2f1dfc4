"""Per-key wall + plan probe for the optimization rounds.

Times any set of registry keys with bench.py's own ``warm_session``,
``execute`` (builder call + noop sink = full distributed execution, no
collect/sink skew) and ``codegen_probe``: min-of-N with the codegen
probe bracketing each key so a degraded-box episode is visible per key
instead of polluting a whole sweep. Also dumps ``explain('formatted')``
per key — the before/after evidence the round's plan claims are checked
against (plans/r12/).

Usage:
    python tools/key_probe.py KEY [KEY...] [--reps N] [--sf DIR]
                              [--plan-dir DIR] [--plan-suffix before|after]

Prints one line per key: min and all walls + the bracketing probe walls,
then a final JSON map {key: min_wall}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default=None)
    args = ap.parse_args()

    import bench
    from flink_rc_spark.registry import REGISTRY, load_all
    from flink_rc_spark.session import get_spark

    load_all()
    spark = get_spark(app="key_probe")

    spark.sparkContext.setJobDescription("key_probe warmup")
    bench.warm_session(spark, args.sf, args.keys[0])

    out = {}
    for k in args.keys:
        c0 = bench.codegen_probe(spark)
        walls = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"key_probe {k} rep{i}")
            walls.append(round(bench.execute(spark, k, args.sf), 4))
        c1 = bench.codegen_probe(spark)
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
