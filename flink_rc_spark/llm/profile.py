"""Corpus profiling & preparation operators (LLM-data wave, r2
additions): text normalization, vocabulary building, deterministic
train/val/test split assignment, and document-length histograms.

All four are the everyday first-pass jobs of a pretraining-data
pipeline; each is pure JVM built-ins with an exact DuckDB oracle
(regexes restricted to constructs with identical Java/RE2 semantics,
counts are integers, no float drift anywhere).

Scale: every query here is map + one hash aggregate on a small key
space (norm-hash dedup being the exception: its key count is the
distinct-document count, same as q_dedup_exact). Partial aggregation
keeps shuffles tiny; nothing leaves the JVM.

Reference parity: none — the reference is numeric-vector-only
(SURVEY.md §1.1); driver-north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import DOC_KEY, md5_int
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# md5-derived uniform byte in [0,255] over the doc_id — the same
# deterministic-hash idiom as llm/sampling.py, reused for split
# assignment so splits are stable under any partitioning / re-ingest.
# Every doc-split and doc-shard key reads this one byte.
def doc_split_byte(duck: bool = False) -> str:
    return md5_int(DOC_KEY, 1, 2, duck=duck)


@register(
    "q_text_normalize",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
        FROM documents
    )
    SELECT doc_id,
           md5(norm_text) AS norm_hash,
           CAST(len(norm_text) AS BIGINT) AS n_chars_norm,
           CAST(CASE WHEN len(norm_text) > 0 THEN
                len(string_split(norm_text, ' ')) ELSE 0 END AS BIGINT)
               AS n_tok_norm
    FROM norm
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase, strip non-alphanumerics,
    collapse whitespace, trim — then fingerprint the normal form.

    The norm-hash is what a normalization-aware dedup keys on (catches
    case/punctuation-only duplicates that q_dedup_exact misses). Both
    regexes use constructs with identical Java/RE2 semantics; DuckDB
    needs the 'g' flag for replace-all, Spark replaces all by default.

    Scale: per-row map; the total order comes from range-partitioning
    the INPUT on doc_id and sorting within partitions AFTER the regex
    projection — a trailing orderBy would make the range partitioner's
    sample pass re-evaluate the whole regex chain (measured 1.9 s ->
    3.7 s at sf1, i.e. the normalization computed twice). Range
    exchange on (doc_id, text) before the map keeps the regex at
    exactly one evaluation per row with no materialization.
    """
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        docs.select("doc_id", "text")
        .repartitionByRange(F.col("doc_id"))
        .select("doc_id", norm.alias("norm_text"))
        .select(
            "doc_id",
            F.md5("norm_text").alias("norm_hash"),
            F.length("norm_text").cast("bigint").alias("n_chars_norm"),
            F.when(F.length("norm_text") > 0, F.size(F.split("norm_text", " ")))
            .otherwise(0)
            .cast("bigint")
            .alias("n_tok_norm"),
        )
        .sortWithinPartitions("doc_id")
    )


@register(
    "q_vocab_topk",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 50
    """,
    tags=("llm", "text"),
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-50 vocabulary by token frequency (tie-broken by token
    text so the cut is deterministic cross-engine).

    Scale: explode -> partial count per partition -> shuffle only
    (distinct-token, partial-count) pairs -> TakeOrdered(50). The
    shuffle carries the vocabulary, not the corpus; at 100 TB this is
    the standard first step of tokenizer training and stays agg-bound.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


@register(
    "q_split_assign",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               CASE WHEN {doc_split_byte(duck=True)} < 205 THEN 'train'
                    WHEN {doc_split_byte(duck=True)} < 230 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
    tags=("llm", "sampling"),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by hashed
    doc_id (thresholds 205/25/26 out of 256) — stable under
    re-partitioning AND re-ingestion, unlike positional splits (the
    reference's R9 index-threshold split breaks when the corpus grows;
    this does not). Output: per-split doc/char totals.
    """
    docs = load(spark, sf_dir, "documents")
    v = F.expr(doc_split_byte())
    split = (
        F.when(v < 205, "train").when(v < 230, "val").otherwise("test")
    ).alias("split")
    return (
        docs.select(split, "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split")
    )


@register(
    "q_contamination",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(t) - 3),
                      i -> md5(array_to_string(t[i:i+4], ' ')))) AS s
           FROM toks WHERE len(t) >= 5),
    flat AS (SELECT doc_id, unnest(s) AS g FROM sh),
    bench AS (SELECT DISTINCT g FROM flat WHERE doc_id % 97 = 0)
    SELECT f.doc_id, COUNT(DISTINCT f.g) AS n_shared
    FROM flat f JOIN bench b ON f.g = b.g
    WHERE f.doc_id % 97 <> 0
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    tags=("llm", "text"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: count 5-token shingles each training
    doc shares with the benchmark set (stand-in: doc_id % 97 == 0 —
    in production the benchmark table is its own small input, and the
    shingle width is typically 8-13; width 5 here is tuned so the
    FIXTURE corpus exercises the match path at every test SF — at
    width 8 the sf0.01 result is empty and the driver's hash check
    would pass vacuously).

    Plan shape (the one that survives 100 TB): shingles are md5-hashed
    per doc (JVM map), the benchmark's distinct shingle set is tiny ->
    BROADCAST to every executor, so the contamination check is a
    broadcast semi-join + per-doc count — no shuffle of the corpus's
    shingles, only of the (contaminated doc, count) survivors.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 5
    )
    flat = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(t) - 4),"
                " i -> md5(concat_ws(' ', slice(t, i, 5)))))"
            )
        ).alias("g"),
    )
    bench = (
        flat.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    return (
        flat.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
        .orderBy("doc_id")
    )


@register(
    "q_chunk_split",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
        SELECT doc_id, t, unnest(range(0, CAST(ceil(len(t) / 64.0) AS BIGINT)))
                   AS chunk_id
        FROM toks
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(t[chunk_id*64+1 : chunk_id*64+64]) AS INT) AS n_tok,
           md5(array_to_string(t[chunk_id*64+1 : chunk_id*64+64], ' '))
               AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    tags=("llm", "text"),
)
def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking for packing: split each doc into 64-token
    chunks (no overlap), emitting per-chunk token count + content hash
    — the step before packing chunks into fixed-length training
    sequences. Pure generator plan: split -> sequence/explode -> slice;
    output rows ~ corpus tokens / 64, no shuffle until a consumer
    aggregates. DuckDB's 1-based end-inclusive slice t[a:b] clamps at
    the list end exactly like Spark's slice(t, a, 64) does.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.expr("sequence(0, cast(ceil(size(t) / 64.0) AS INT) - 1)")
        ).alias("chunk_id"),
    )
    piece = F.expr("slice(t, chunk_id * 64 + 1, 64)")
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_tok"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


@register(
    "q_pack_sequences",
    oracle="""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    chunks AS (
        SELECT doc_id, source,
               unnest(range(0, CAST(ceil(len(t) / 64.0) AS BIGINT))) AS chunk_id,
               t
        FROM toks
    ),
    sized AS (
        SELECT source, doc_id, chunk_id,
               len(t[chunk_id*64+1 : chunk_id*64+64]) AS n_tok,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY doc_id, chunk_id) - 1 AS rn
        FROM chunks
    )
    SELECT source,
           CAST(rn // 8 AS BIGINT) AS seq_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tok) AS BIGINT) AS n_tok,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(n_tok) AS DOUBLE) / 512, 4) AS fill_ratio
    FROM sized
    GROUP BY source, CAST(rn // 8 AS BIGINT)
    ORDER BY source, seq_id
    """,
    tags=("llm", "text"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride sequence packing: the 64-token chunks (q_chunk_split)
    are packed 8-per-sequence into 512-token training sequences per
    source shard, in deterministic (doc_id, chunk_id) order — the
    "packing without repacking" baseline every pipeline starts from
    (greedy bin-packing is a sequential refinement of exactly this
    shape). Output: per-sequence chunk/token/doc counts + fill ratio
    (< 1.0 only where tail chunks are short).

    Scale: one window (row_number per source — at 100 TB the shard key
    is finer, e.g. source x file, keeping window partitions bounded)
    plus one hash aggregate on (source, seq_id).
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("sequence(0, cast(ceil(size(t) / 64.0) AS INT) - 1)")
        ).alias("chunk_id"),
        "t",
    )
    sized = chunks.select(
        "source",
        "doc_id",
        "chunk_id",
        F.size(F.expr("slice(t, chunk_id * 64 + 1, 64)")).alias("n_tok"),
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy("doc_id", "chunk_id")
        )
        - 1,
    )
    return (
        sized.groupBy("source", F.floor(F.col("rn") / 8).cast("bigint").alias("seq_id"))
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tok").cast("bigint").alias("n_tok"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.round(F.sum("n_tok").cast("double") / 512, 4).alias("fill_ratio"),
        )
        .orderBy("source", "seq_id")
    )


@register(
    "q_pack_greedy",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, source,
               unnest(range(0, CAST(ceil(len(t) / 64.0) AS BIGINT))) AS chunk_id,
               t
        FROM toks
    ),
    sized AS (
        SELECT source, doc_id, chunk_id,
               len(t[chunk_id*64+1 : chunk_id*64+64]) AS n_tok,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY doc_id, chunk_id) AS rn
        FROM chunks
    ),
    pack AS (
        SELECT source, rn, doc_id, n_tok,
               CAST(0 AS BIGINT) AS seq_id, n_tok AS acc
        FROM sized WHERE rn = 1
        UNION ALL
        SELECT d.source, d.rn, d.doc_id, d.n_tok,
               CASE WHEN p.acc + d.n_tok > 512
                    THEN p.seq_id + 1 ELSE p.seq_id END,
               CASE WHEN p.acc + d.n_tok > 512
                    THEN d.n_tok ELSE p.acc + d.n_tok END
        FROM pack p
        JOIN sized d ON d.source = p.source AND d.rn = p.rn + 1
    )
    SELECT source,
           seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tok) AS BIGINT) AS n_tok,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(n_tok) AS DOUBLE) / 512, 4) AS fill_ratio
    FROM pack
    GROUP BY source, seq_id
    ORDER BY source, seq_id
    """,
    tags=("llm", "text"),
)
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing — the sequential refinement of
    q_pack_sequences' fixed stride. Same 64-token chunks in the same
    deterministic (doc_id, chunk_id) order per source shard, but a
    sequence closes only when the NEXT chunk would overflow 512 tokens,
    so short document-tail chunks coalesce instead of wasting slots:
    every greedy sequence holds >= 8 chunks, hence never more sequences
    (and never lower mean fill) than the fixed stride — asserted in
    tests/test_llm.py.

    The packer itself is inherently sequential per shard (each bin
    decision depends on the running total), so it runs as the same
    per-partition streaming scan as the RC reservoir: one shuffle on
    source, chunks sorted within partitions, scan_sorted_groups keeps
    Python memory bounded by one shard group, Arrow in and out. At
    100 TB the shard key is finer (source x file) and the kernel is
    unchanged; the oracle spells the identical recurrence as a DuckDB
    recursive CTE (depth = chunks per shard, fine at oracle SFs).
    """
    import numpy as np
    import pandas as pd

    from flink_rc_spark.util import ensure_package_shipped, scan_sorted_groups

    ensure_package_shipped(spark)
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    sized = toks.select(
        "source",
        "doc_id",
        F.explode(
            F.expr("sequence(0, cast(ceil(size(t) / 64.0) AS INT) - 1)")
        ).alias("chunk_id"),
        "t",
    ).select(
        "source",
        "doc_id",
        "chunk_id",
        F.size(F.expr("slice(t, chunk_id * 64 + 1, 64)")).alias("n_tok"),
    )

    out_schema = (
        "source string, seq_id bigint, n_chunks bigint, "
        "n_tok bigint, n_docs bigint, fill_ratio double"
    )

    def pack_group(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["doc_id", "chunk_id"], kind="mergesort").reset_index(
            drop=True
        )
        sizes = g["n_tok"].to_numpy()
        seq = np.empty(len(sizes), dtype=np.int64)
        acc = 0
        sid = 0
        for i, v in enumerate(sizes):
            v = int(v)
            if acc + v > 512:
                sid += 1
                acc = v
            else:
                acc += v
            seq[i] = sid
        g = g.assign(seq_id=seq)
        agg = (
            g.groupby("seq_id", sort=True)
            .agg(
                n_chunks=("n_tok", "size"),
                n_tok=("n_tok", "sum"),
                n_docs=("doc_id", "nunique"),
            )
            .reset_index()
        )
        return pd.DataFrame(
            {
                "source": g["source"].iloc[0],
                "seq_id": agg["seq_id"].astype("int64"),
                "n_chunks": agg["n_chunks"].astype("int64"),
                "n_tok": agg["n_tok"].astype("int64"),
                "n_docs": agg["n_docs"].astype("int64"),
                # half-up to match SQL ROUND (pandas .round is half-even);
                # n_tok/512 is exact binary so the tie cases are real
                "fill_ratio": (
                    np.floor(agg["n_tok"] * 10000.0 / 512.0 + 0.5) / 10000.0
                ).astype("float64"),
            }
        )

    def pack_partition(batches):
        yield from scan_sorted_groups(batches, "source", pack_group)

    parts = sized.repartition("source").sortWithinPartitions(
        "source", "doc_id", "chunk_id"
    )
    return parts.mapInPandas(pack_partition, schema=out_schema)


@register(
    "q_doc_len_hist",
    oracle="""
    SELECT CAST(n_chars // 200 * 200 AS BIGINT) AS bin_start,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("llm", "text"),
)
def q_doc_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (200-char bins) with per-bin token
    totals — the length-distribution profile used to pick truncation /
    packing parameters. Integer floor-div binning is identical in both
    engines. Scale: map + hash agg on a handful of bins.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            (F.floor(F.col("n_chars") / 200) * 200).cast("bigint").alias("bin_start"),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .groupBy("bin_start")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .orderBy("bin_start")
    )
