"""Driver-artifact insurance (VERDICT r6 item 10): the grading driver
keeps only the LAST ~2000 chars of bench stdout, so the FINAL printed
line must always be one parseable compact JSON object — this pins the
print ordering against future edits. The Spark-free verdict test pins
bench's trust rule: drift of each probe within the run, nothing else."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile


def test_bench_stdout_final_line_is_compact_json():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_BENCH_HEADLINE_ONLY"] = "1"
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    out_json = os.path.join(tempfile.mkdtemp(prefix="bench_contract_"),
                            "bench_out.json")
    env["SPARK_GRAFT_BENCH_OUT"] = out_json  # keep the committed artifact
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        cwd=repo,
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    assert lines, "bench printed nothing"
    final = json.loads(lines[-1])  # must parse — the driver's tail slice
    assert final.get("compact") is True, final
    assert final["metric"] == "headline_queries_wall_clock"
    assert final["unit"] == "sec"
    assert isinstance(final["value"], (int, float)) and final["value"] > 0
    # the verbose record (line before) must also be standalone JSON and
    # a superset of the compact one
    verbose = json.loads(lines[-2])
    assert verbose["value"] == final["value"]
    assert verbose["queries"], "verbose record lost per-key timings"
    # the trust verdict is the drift check alone, with the ratios that
    # decided it
    calib = verbose["calib"]
    assert {"ok", "ratio", "scan_drift"} <= calib.keys(), calib
    assert calib["ok"] == final["calib_ok"]
    assert "preflight_waits" not in calib
    # bench_out.json stays ONE parseable object (ADVICE r5)
    with open(out_json) as f:
        json.load(f)


def test_calib_verdict_is_drift_only():
    from bench import calib_verdict

    flat = calib_verdict([0.15, 0.15, 0.15], [0.36, 0.36])
    assert flat == {"ok": True, "ratio": 1.0, "scan_drift": 1.0}
    codegen_drift = calib_verdict([1.0, 1.31], [1.0, 1.0])
    assert codegen_drift["ratio"] == 1.31 and not codegen_drift["ok"]
    scan_drift = calib_verdict([1.0, 1.0], [1.0, 1.51])
    assert scan_drift["scan_drift"] == 1.51 and not scan_drift["ok"]
    # no scan samples: codegen alone decides
    assert calib_verdict([1.0, 1.3], [])["ok"]
    assert not calib_verdict([1.0, 1.31], [])["ok"]
