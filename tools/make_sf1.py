"""Synthesize an sf1-scale dataset (10x the sf0.1 facts) for the
headline scaling run — VERDICT r4 item 5.

Growth shape is the one BASELINE.md's 10x probes measured ("TPC-H-wave
scale probe", "Streaming scale probe"): facts grow, dimensions don't —
the realistic warehouse curve. It is MATERIALIZED as a parquet
directory so the unmodified bench.py harness and
``tools/key_probe.py --sf`` run against it:

- lineitem / orders: 10 replicas with DISJOINT order keys
  (l_orderkey/o_orderkey += r * 1e9); o_custkey untouched so join
  hit-rates and per-customer fan-in are preserved; dates untouched so
  predicate selectivity is identical.
- events: replicas get fresh event_ids (event_id += r * 1e9) and
  fresh user_ids (user_id += r * 1e7) — more series, same
  per-series density, so windowed /
  sessionized work scales with rows, not per-key skew.
- documents: fresh doc_ids; the TEXT of replica r is rotated through
  a Caesar-shifted alphabet (translate(), length-preserving) so
  replicas are NOT near-duplicates of each other — without this,
  MinHash/SimHash candidate pairs grow ~45x per doc (10 identical
  copies pair quadratically) and the run would measure the
  deliberate-duplication stress shape instead of corpus growth.
- embeddings: fresh vec_ids; replica r's vector is the original
  cyclically rotated by 7*r dims (norm-preserving, decorrelating) so
  LSH/IVF bucket occupancy scales linearly instead of stacking 10
  identical vectors per bucket.
- region / nation / customer / supplier / part: symlinked unchanged.

Replica 0 is the identity, so sf0.1 is a literal subset. Output:
/root/repo/.localdata/sf1 (git-ignored, ~170 MB). Usage:

    python tools/make_sf1.py
    SPARK_GRAFT_SF_DIR=/root/repo/.localdata/sf1 \
        SPARK_GRAFT_BENCH_HEADLINE_ONLY=1 python bench.py
    python tools/key_probe.py q_tpch_q18 --sf .localdata/sf1

Results recorded in BASELINE.md ("sf1 headline scaling run").
"""

from __future__ import annotations

import os
import shutil
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_rc_spark.session import get_spark  # noqa: E402
from flink_rc_spark.sources.tables import load  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF1_SRC", "/root/testdata/sf0.1")
DST = os.environ.get(
    "SPARK_GRAFT_SF1_DST",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 ".localdata", "sf1"),
)
REPLICAS = 10
KEY_OFFSET = 1_000_000_000
USER_OFFSET = 10_000_000
DIMS = ("region", "nation", "customer", "supplier", "part")


def _rot_alphabet(r: int) -> tuple[str, str]:
    lo, up = string.ascii_lowercase, string.ascii_uppercase
    src = lo + up
    dst = lo[r:] + lo[:r] + up[r:] + up[:r]
    return src, dst


def _replicas(df, transform):
    out = None
    for r in range(REPLICAS):
        rep = transform(df, r)
        out = rep if out is None else out.unionByName(rep)
    return out


def main() -> None:
    t0 = time.time()
    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    spark = get_spark(app="make_sf1")

    for t in DIMS:
        os.symlink(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

    li = load(spark, SRC, "lineitem")
    _replicas(
        li,
        lambda df, r: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(r * KEY_OFFSET)
        ),
    ).repartition(16).write.mode("overwrite").parquet(f"{DST}/lineitem.parquet")

    od = load(spark, SRC, "orders")
    _replicas(
        od,
        lambda df, r: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(r * KEY_OFFSET)
        ),
    ).repartition(8).write.mode("overwrite").parquet(f"{DST}/orders.parquet")

    # ts must land as parquet TIMESTAMP(MICROS, adjustedToUTC=false) —
    # the shipped testdata's µs generation — NOT Spark's default INT96,
    # which the streaming replay's footer probe cannot classify. The
    # loader normalized ts to session-TZ TimestampType; writing the NTZ
    # cast of UTC wall time reproduces the canonical physical layout.
    ev = load(spark, SRC, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    _replicas(
        ev,
        lambda df, r: df.withColumn(
            "event_id", F.col("event_id") + F.lit(r * KEY_OFFSET)
        ).withColumn("user_id", F.col("user_id") + F.lit(r * USER_OFFSET)),
    ).repartition(8).write.mode("overwrite").parquet(f"{DST}/events.parquet")

    docs = load(spark, SRC, "documents")

    def doc_rep(df, r):
        src_a, dst_a = _rot_alphabet(r)
        return df.withColumn(
            "doc_id", F.col("doc_id") + F.lit(r * KEY_OFFSET)
        ).withColumn("text", F.translate("text", src_a, dst_a))

    _replicas(docs, doc_rep).repartition(8).write.mode("overwrite").parquet(
        f"{DST}/documents.parquet"
    )

    emb = load(spark, SRC, "embeddings")

    def emb_rep(df, r):
        shift = (7 * r) % 64
        rot = F.expr(
            f"transform(sequence(1, 64), i ->"
            f" element_at(embedding, ((i - 1 + {shift}) % 64) + 1))"
        ).cast("array<float>")
        return df.withColumn(
            "vec_id", F.col("vec_id") + F.lit(r * KEY_OFFSET)
        ).withColumn("embedding", rot)

    _replicas(emb, emb_rep).repartition(4).write.mode("overwrite").parquet(
        f"{DST}/embeddings.parquet"
    )

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: {n} rows")
    print(f"done in {time.time() - t0:.1f}s -> {DST}")
    spark.stop()


if __name__ == "__main__":
    main()
