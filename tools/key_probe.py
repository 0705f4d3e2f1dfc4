"""Per-key wall, layer profile and plan probe for the optimization rounds.

Times any set of registry keys with bench.py's own ``warm_session``,
``execute`` (builder call + noop sink = full distributed execution, no
collect/sink skew) and ``codegen_probe``: min-of-N with the codegen
probe bracketing each key so a degraded-box episode is visible per key
instead of polluting a whole sweep.

Every rep runs under the benchmark's ``perfbench/tracer.py::Tracer``,
which splits the wall into the builder call and the noop-sink
execution and reads Spark's status stores and streaming progress for
the key's jobs. For the min rep the probe prints ``builder_s`` /
``exec_s``, every non-zero layer reading (``builder.jobs``,
``exec.*``, ``scan.*``, ``py.*``, ``stream.*``) and the
``trace.*_lost`` counters, which say whether the status stores evicted
anything before it was read.

Also dumps ``explain('formatted')`` per key — the before/after
evidence the round's plan claims are checked against (plans/r12/).

Usage:
    python tools/key_probe.py KEY [KEY...] [--reps N] [--sf DIR]
                              [--plan-dir DIR] [--plan-suffix before|after]

Prints, per key, one line with min and all walls plus the bracketing
probe walls and one indented line of layer readings, then a final
JSON map {key: min_wall}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_key(spark, tracer, key: str, sf_dir: str, reps: int):
    """Run ``key`` ``reps`` times under ``tracer``: every rep's wall and
    the layer readings of the fastest rep."""
    import bench

    readings = [bench.execute(spark, key, sf_dir, tracer) for _ in range(reps)]
    walls = [round(r["builder_s"] + r["exec_s"], 4) for r in readings]
    return walls, readings[walls.index(min(walls))]


def format_reading(reading: dict) -> str:
    """``name=value`` for the scalar readings that are non-zero, plus
    the ``trace.*_lost`` counters always; the phase walls first."""
    first = ("builder_s", "exec_s")
    parts = []
    for name, v in sorted(reading.items(), key=lambda nv: nv[0] not in first):
        if isinstance(v, list) or (v == 0 and not name.startswith("trace.")):
            continue
        parts.append(f"{name}={int(v) if v == int(v) else round(v, 3)}")
    return " ".join(parts)


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
    from perfbench.tracer import Tracer

    load_all()
    spark = get_spark(app="key_probe")

    spark.sparkContext.setJobDescription("key_probe warmup")
    bench.warm_session(spark, args.sf, args.keys[0])
    tracer = Tracer(spark, "key_probe")

    out = {}
    for k in args.keys:
        c0 = bench.codegen_probe(spark)
        walls, reading = probe_key(spark, tracer, k, args.sf, args.reps)
        c1 = bench.codegen_probe(spark)
        out[k] = min(walls)
        print(
            f"{k}: min={min(walls):.3f} walls={walls} calib=({c0},{c1})\n"
            f"  {format_reading(reading)}",
            flush=True,
        )
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            suffix = args.plan_suffix or "plan"
            # traced as its own phase so the dump's jobs and streaming
            # progress are not charged to the next key's reps
            tracer.set_phase(k, "plan")
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
            tracer.finish_key(k, 0.0, 0.0)
            with open(
                os.path.join(args.plan_dir, f"{k}_{suffix}.txt"), "w"
            ) as f:
                f.write(plan)
    tracer.close()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
