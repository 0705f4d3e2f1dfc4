"""Plan-shape audit over registry keys: duplicate-scan finder.

Builds each key's DataFrame (no noop execution — builders that
eagerly checkpoint do run their checkpoint jobs) and reports, per
key, how many parquet scans of each table the FINAL physical plan
contains, plus Exchange / Python-eval node counts. A table scanned
N>1 times in one plan is the round's primary smell: no ReusedExchange
fires across union/join sides of the same subtree, so the whole
upstream pipeline runs N times (guide §2.4).

Usage: python tools/plan_shape_audit.py [sf_dir] [key ...]
       (no keys = every non-streaming registry key)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from flink_rc_spark.plans.inspect import formatted_plan, scan_tables
    from flink_rc_spark.registry import REGISTRY, load_all
    from flink_rc_spark.session import get_spark

    load_all()
    spark = get_spark(app="plan_shape_audit")
    keys = sys.argv[2:] or [
        k for k in sorted(REGISTRY) if not k.startswith("q_stream_")
    ]
    rows = []
    for k in keys:
        try:
            df = REGISTRY[k].builder(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as e:  # noqa: BLE001
            print(f"{k}: BUILD FAIL {e!r}", flush=True)
            continue
        finally:
            spark.catalog.clearCache()
        counts = scan_tables(plan)
        dup = {t: c for t, c in counts.items() if c > 1}
        if "Scan parquet" in plan and not counts:
            print(f"{k}: SCAN PARSER FOUND NOTHING (plan has scans)",
                  flush=True)
        # numbered detail blocks only, excluding ReusedExchange (the
        # old plan.count('Exchange') double-counted tree+detail and
        # counted reuses as real shuffles)
        nex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        npy = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
        )
        rows.append((k, dup, nex, npy))
        if dup or npy:
            print(f"{k}: dup_scans={dup} exchanges={nex} pyeval={npy}",
                  flush=True)
    print("---- top by duplicate scans ----")
    for k, dup, nex, npy in sorted(
        rows, key=lambda r: -sum(r[1].values()) if r[1] else 0
    )[:40]:
        if dup:
            print(f"{k}: {dup} exchanges={nex}")
    spark.stop()


if __name__ == "__main__":
    main()
