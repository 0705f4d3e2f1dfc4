"""Closed-loop benchmark of the engine's public entry points.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 18 --trace 0

One driver thread on ``local[4]`` runs every key of one workload in a
seed-permuted order and waits for each result before starting the next.
The run:

1. generates the input tables from ``--seed`` (``datagen.py``);
2. sets up ``SETUPS`` times: ``registry.load_all`` (first time only),
   ``session.get_spark``, ``util.ensure_package_shipped`` and one Python
   worker per core, stopping the previous session in between;
3. warms the JVM, codegen and the Python workers with one untimed pass
   over the keys;
4. runs one timed pass per ``PASS_S`` seconds of ``--seconds``. Each pass
   reads a fresh copy of the tables under a new path, so path-keyed fit
   memos never carry over from an earlier pass while memo sharing inside
   a pass still counts. A key's wall is its builder call plus the
   collection of the returned frame to the driver (``toPandas``);
5. checks every collected result right after its key, outside the timed
   window: against the key's DuckDB oracle by the rules of
   ``tests/parity.py``, or for the keys without one by row count, schema
   and finite values.

A key's reported wall is the median over the run's timed passes.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the run makes one
untraced pass and then one traced pass (``tracer.py``) and prints the
per-layer metrics; ``trace.overhead_frac`` compares the two passes.

``BASELINE.md`` beside this file maps each per-layer metric to the
end-to-end metric it should move and records the measured baseline.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
HEAP = "2g"
SETUPS = 3
# ``--seconds`` buys one timed pass per PASS_S seconds (a pass takes 4 to
# 7 s on 4 cores). The count is fixed rather than timed because every
# pass runs faster than the one before it (the JIT keeps compiling), so
# a parent and a child must measure the same passes.
PASS_S = 6
# Scale factor of the generated tables (TPC-H convention: lineitem has
# 6M x sf rows).
SF = 0.03

# The driver of the benchmark makes 22 runs per workload within a fixed
# time, so each run must stay under a minute, and set-up alone takes
# about 18 s of it. Each workload therefore runs the subset of its key
# family that covers the family's layers, and there are two workloads;
# BASELINE.md lists what was left out and why.
WORKLOADS: dict[str, list[str]] = {
    # Relational scan/join/aggregate/subquery plans, all in the JVM: the
    # bypass workload for Python-boundary, builder and streaming changes.
    "tpch": [
        "q_tpch_q1", "q_tpch_q3", "q_tpch_q6", "q_tpch_q9", "q_tpch_q13",
        "q_tpch_q17", "q_tpch_q22",
    ],
    # Structured Streaming replays of the events table with JVM state
    # (window) and Python state (applyInPandasWithState, including the
    # ESN reservoir): per-trigger, start/stop and Python-boundary cost.
    "stream_replay": [
        "q_stream_tumbling", "q_stream_stateful_counter", "q_stream_esn",
    ],
}

# Keys without a DuckDB oracle: expected columns, and the expected row
# count (one per event) as a function of the events row count.
NO_ORACLE = {
    "q_stream_esn": (
        [("user_id", "bigint"), ("event_id", "bigint"), ("x0", "double"),
         ("state_norm", "double")],
        lambda n_events: n_events,
    ),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def tree_hwm_mb(root_pid: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``root_pid`` and every
    live descendant: the Python driver, the JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total_kb = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Checker:
    """Checks key outputs against the tables every timed pass copies.

    Each oracle runs once; later passes compare with its cached result."""

    def __init__(self, sf_dir: str) -> None:
        from tests.parity import compare_frames, duck_connect

        self._compare = compare_frames
        self._con = duck_connect(sf_dir)
        self._n_events = self._con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
        self._expected: dict[str, object] = {}

    def close(self) -> None:
        self._con.close()

    def check(self, key: str, spec, schema, got) -> None:
        """Raise ``AssertionError`` when ``got`` is not the key's result."""
        if spec.oracle is not None:
            if key not in self._expected:
                self._expected[key] = self._con.execute(spec.oracle).df()
            self._compare(got, self._expected[key], key)
            return
        columns, rows = NO_ORACLE[key]
        names = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        if names != columns:
            raise AssertionError(f"{key}: schema {names} != {columns}")
        if len(got) != rows(self._n_events):
            raise AssertionError(f"{key}: {len(got)} rows != {rows(self._n_events)}")
        if not np.isfinite(got.select_dtypes("number").to_numpy(dtype=float)).all():
            raise AssertionError(f"{key}: non-finite value")


class Bench:
    def __init__(self, workload: str, seed: int, work: str) -> None:
        self.workload = workload
        self.keys = random.Random(seed).sample(WORKLOADS[workload], len(WORKLOADS[workload]))
        self.work = work
        self.layers: dict[str, float] = {}
        self.spark = None
        self.registry = None
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------

    def setup(self) -> float:
        """One set-up; the first also loads the registry. Returns its wall."""
        t0 = time.perf_counter()
        if self.registry is None:
            from flink_rc_spark import registry

            registry.load_all()
            self.registry = registry.REGISTRY
            self.layers["registry.load_s"] = time.perf_counter() - t0
        from flink_rc_spark.session import get_spark
        from flink_rc_spark.util import ensure_package_shipped

        t1 = time.perf_counter()
        self.spark = get_spark(app=f"perfbench_{self.workload}", cpus=CORES)
        t2 = time.perf_counter()
        ensure_package_shipped(self.spark)
        t3 = time.perf_counter()
        self.spark.range(CORES).repartition(CORES).mapInPandas(
            _py_warm, "id long"
        ).write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
        if "session.start_s" not in self.layers:
            self.layers["session.start_s"] = t2 - t1
            self.layers["session.ship_s"] = t3 - t2
            self.layers["session.py_warm_s"] = t4 - t3
        return t4 - t0

    def setups(self) -> float:
        walls = []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            walls.append(self.setup())
        log(f"setups: {[round(w, 3) for w in walls]}")
        return statistics.median(walls)

    # -- passes ---------------------------------------------------------

    def copy_tables(self, src: str, name: str) -> str:
        dst = os.path.join(self.work, name)
        shutil.copytree(src, dst)
        return dst

    def run_key(self, key: str, sf_dir: str, tracer=None):
        """Builder call plus collection: (builder_s, exec_s, schema, rows)."""
        spec = self.registry[key]
        if tracer is not None:
            tracer.set_phase(key, "builder")
        t0 = time.perf_counter()
        df = spec.builder(self.spark, sf_dir)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.set_phase(key, "exec")
        got = df.toPandas()
        return t1 - t0, time.perf_counter() - t1, df.schema, got

    def timed_pass(self, sf_dir: str, checker: Checker, tracer=None) -> dict[str, dict]:
        """Run and check every key once; per-key readings of the passing keys.

        A key that raises or returns a wrong result counts in ``failed``;
        the pass goes on with the next key."""
        out: dict[str, dict] = {}
        for key in self.keys:
            self.attempted += 1
            try:
                builder_s, exec_s, schema, got = self.run_key(key, sf_dir, tracer)
            except Exception:
                self.failed += 1
                log(f"{key}: FAILED\n{traceback.format_exc()}")
                continue
            reading = {"builder_s": builder_s, "exec_s": exec_s}
            if tracer is not None:
                reading = tracer.finish_key(key, builder_s, exec_s)
            t0 = time.perf_counter()
            try:
                checker.check(key, self.registry[key], schema, got)
            except AssertionError as e:
                self.failed += 1
                log(f"{key}: WRONG OUTPUT: {e}")
                continue
            out[key] = reading
            log(f"{key}: builder {builder_s:.3f} s, exec {exec_s:.3f} s, "
                f"check {time.perf_counter() - t0:.3f} s")
        return out


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it to exit (its
    Python workers went with the stopped session)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def _py_warm(batches):
    import flink_rc_spark  # noqa: F401 - what every kernel imports first

    return batches


def generate(seed: int, out_dir: str, sf: float) -> None:
    """Write the tables in a child process, so the generator's memory
    does not count in the driver's peak resident set."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), out_dir, str(sf), str(seed)],
        check=True,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF,
                   help="scale of the generated tables (the smoke test uses 0.001)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_rc_spark", "registry.py")):
        log(f"no engine source under {root}: run from the root of a checkout")
        return 2
    sys.path.insert(0, root)

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temp files of Spark, the JVM, the Python workers and the engine's
    # own fixtures all stay inside the checkout and go with ``work``
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A heap fixed at its maximum: a growing heap made pass_s and
    # peak_rss_mb spread about twice as wide from run to run.
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}'"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None

    bench = Bench(args.workload, args.seed, work)
    checker = None
    try:
        tables = os.path.join(work, "tables")
        generate(args.seed, tables, args.sf)
        log("tables generated")

        setup_s = bench.setups()
        checker = Checker(tables)

        warm = bench.copy_tables(tables, "warm")
        for key in bench.keys:
            bench.run_key(key, warm)
        log("warm pass done")

        if args.trace:
            from tracer import Tracer, summarize_pass

            untraced = bench.timed_pass(bench.copy_tables(tables, "pass-0"), checker)
            tracer = Tracer(bench.spark, args.workload)
            t0 = time.perf_counter()
            per_key = bench.timed_pass(bench.copy_tables(tables, "pass-1"), checker, tracer)
            traced_s = time.perf_counter() - t0
            tracer.close()
            metrics = trace_metrics(bench, untraced, per_key, traced_s, summarize_pass)
        else:
            passes = [
                bench.timed_pass(bench.copy_tables(tables, f"pass-{i}"), checker)
                for i in range(max(1, round(args.seconds / PASS_S)))
            ]
            rss_mb = tree_hwm_mb(os.getpid())
            metrics = e2e_metrics(passes, setup_s, rss_mb)
    finally:
        if checker is not None:
            checker.close()
        if bench.spark is not None:
            bench.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def _walls(one_pass: dict[str, dict]) -> list[float]:
    return [r["builder_s"] + r["exec_s"] for r in one_pass.values()]


def e2e_metrics(passes, setup_s: float, rss_mb: float) -> dict:
    """End-to-end metrics from each key's median wall over the passes;
    failed executions are left out (and already make the run incorrect)."""
    by_key: dict[str, list[float]] = {}
    for p in passes:
        for key, r in p.items():
            by_key.setdefault(key, []).append(r["builder_s"] + r["exec_s"])
    walls = [statistics.median(w) for w in by_key.values()]
    log(f"passes: {[round(sum(_walls(p)), 3) for p in passes]}")
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": sum(walls), "unit": "s"},
        "query_geomean_s": {"value": geomean(walls) if walls else 0.0, "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MiB"},
    }


def trace_metrics(bench: Bench, untraced, per_key, traced_s, summarize_pass) -> dict:
    layers = summarize_pass(per_key, CORES)
    layers.update(bench.layers)
    untraced_s = sum(_walls(untraced))
    layers["trace.overhead_frac"] = layers["pass_s"] / untraced_s - 1
    lost = {k: v for k, v in layers.items() if k.endswith("_lost") and v}
    if lost:
        log(f"WARNING: the status store dropped items before they were read: {lost}")
    log(f"traced pass {traced_s:.3f} s with tracer bookkeeping, {layers['pass_s']:.3f} s in keys")
    out = {name: {"value": v, "unit": unit_of(name)} for name, v in sorted(layers.items())
           if name != "pass_s"}
    for key in (k for keys in WORKLOADS.values() for k in keys):
        r = per_key.get(key)
        out[f"key.{key}.s"] = {
            "value": r["builder_s"] + r["exec_s"] if r else 0.0, "unit": "s"
        }
    return out


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or name.endswith(".p50"):
        return "ms"
    if name.endswith("mb"):
        return "MiB"
    if name.endswith("_frac") or name.endswith(".share") or name.endswith("_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
