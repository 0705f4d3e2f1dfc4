"""Focused tests for the r12 optimization-round internals.

Each r12 rewrite keeps the declared results bit-identical; these tests
pin the *mechanisms* that guarantee it:

- exactly-once pair emission: the min-agreeing-band filter that
  replaced the candidate-set distinct() must yield a duplicate-free
  pair set equal to the old distinct-based one;
- the q_itemsets_apriori Arrow triple-count kernel must equal the
  3-way self-join it replaced, row for row;
- the de-duplicated-subtree keys must keep duplicate-free final plans
  (no table scanned twice in one physical plan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _dup_scan_tables(df) -> dict:
    from flink_rc_spark.plans.inspect import formatted_plan, scan_tables

    return {t: c for t, c in scan_tables(formatted_plan(df)).items() if c > 1}


_TWO_SCAN_PLAN = """== Physical Plan ==
BroadcastHashJoin (5)
:- Scan parquet  (1)
+- BroadcastExchange (4)
   +- Scan parquet  (3)


(1) Scan parquet 
Output [1]: [doc_id#1L]
Batched: true
Location: InMemoryFileIndex [file:/data/sf1/web-docs.parquet]
ReadSchema: struct<doc_id:bigint>

(3) Scan parquet 
Output [1]: [doc_id#2L]
Batched: true
Location: InMemoryFileIndex [file:/data/sf1/documents.parquet]
ReadSchema: struct<doc_id:bigint>

(4) BroadcastExchange
Input [1]: [doc_id#2L]
"""


def test_scan_parser_finds_scans(spark):
    """Self-check of the shared scan parser: it must find the one scan
    of a plan that plainly reads parquet (guards against an
    always-empty match), and must pair every scan with the Location
    of its OWN detail block, also when a file name holds a '-'."""
    from flink_rc_spark.plans.inspect import formatted_plan, scan_tables
    from flink_rc_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    assert scan_tables(formatted_plan(docs.select("doc_id"))) == {"documents": 1}
    assert scan_tables(_TWO_SCAN_PLAN) == {"web-docs": 1, "documents": 1}


def test_minhash_pairs_exactly_once(spark):
    """The min-agreeing-band filter emits every colliding pair exactly
    once — same set the old distinct() produced, no duplicates."""
    from flink_rc_spark.llm import dedup as _d
    from flink_rc_spark.llm.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )
    from flink_rc_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 1500)
    pairs = minhash_candidate_pairs(docs)
    rows = pairs.collect()
    keys = [(r.doc_a, r.doc_b) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate pair emitted"
    # Reference: the PRE-r12 spelling reconstructed — the UNFILTERED
    # multi-band pair stream (every agreeing band emits) collapsed by
    # distinct(). The r12 version of this check ran distinct() over
    # the new already-unique output, which was tautological (ADVICE
    # r12 item 3); this one genuinely exercises the min-agreeing-band
    # filter against the multi-band emission it replaced.
    sig = minhash_signatures(docs)
    bands = sig.select(
        "doc_id",
        "g",
        F.explode(F.expr(f"sequence(0, {_d._N_BANDS - 1})")).alias("band_id"),
    ).withColumn(
        "band_key",
        F.expr(
            "md5(concat(element_at(g, 2*band_id+1),"
            " element_at(g, 2*band_id+2)))"
        ),
    )
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "g"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    multi = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(m, (a, i) -> transform("
                "slice(m, i + 2, size(m)), b -> struct(a AS pa, b AS pb))))"
            )
        ).alias("p")
    ).select(
        F.col("p.pa.doc_id").alias("doc_a"),
        F.col("p.pb.doc_id").alias("doc_b"),
        F.round(
            F.expr(
                f"cast(size(filter(sequence(1, {_d._N_HASHES}),"
                f" i -> element_at(p.pa.g, i) = element_at(p.pb.g, i)))"
                f" AS double) / {_d._N_HASHES}"
            ),
            4,
        ).alias("est_jaccard"),
    )
    ref = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in multi.distinct().collect()
    }
    assert {(r.doc_a, r.doc_b, r.est_jaccard) for r in rows} == ref


# NOTE: shingle_candidate_pairs deliberately does NOT get the
# exactly-once treatment — carrying the 8-hash signature through its
# bucket shuffle cost more at sf1 than the consumers' distinct() saved
# (measured A/B, see the function's comment). Only the minhash pair
# generator (signature already in the buckets) keeps it.


def test_itemsets_kernel_equals_three_way_join(spark):
    """The Arrow triple-count kernel == the 3-way self-join it
    replaced (all triples, not just the final top-20)."""
    from flink_rc_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 800)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(40)
        .select("w")
    )
    incidence = (
        tok.join(F.broadcast(vocab), "w").select("doc_id", "w").distinct()
    )
    a = incidence.select("doc_id", F.col("w").alias("w1"))
    b = incidence.select("doc_id", F.col("w").alias("w2"))
    c = incidence.select("doc_id", F.col("w").alias("w3"))
    ref = {
        (r.w1, r.w2, r.w3, r.support)
        for r in (
            a.join(b, "doc_id")
            .filter(F.col("w1") < F.col("w2"))
            .join(c, "doc_id")
            .filter(F.col("w2") < F.col("w3"))
            .groupBy("w1", "w2", "w3")
            .agg(F.count("*").alias("support"))
            .collect()
        )
    }
    # kernel path, without the support floor / top-20 cut
    from flink_rc_spark.operators.analytics import vocab_triple_counts

    full = vocab_triple_counts(spark, incidence)
    got = {(r.w1, r.w2, r.w3, r.support) for r in full.collect()}
    assert got == ref


@pytest.mark.parametrize(
    "key",
    [
        "q_lsh_eval",
        "q_assoc_rules",
        "q_itemsets_apriori",
        "q_link_predict",
        "q_dedup_minhash",
        "q_dedup_ngram_jaccard",
        "q_dedup_containment",
    ],
)
def test_no_duplicate_scans_in_final_plan(spark, key):
    from flink_rc_spark.registry import REGISTRY, load_all

    load_all()
    df = REGISTRY[key].builder(spark, SF_DIR)
    assert _dup_scan_tables(df) == {}
