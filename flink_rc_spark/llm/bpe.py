"""BPE-style merge training: the iterative pair-merge loop at the
heart of tokenizer training (byte-pair encoding / WordPiece), run at
the word level over the corpus — each step finds the globally most
frequent adjacent symbol pair and fuses it into a new symbol, and the
next step counts pairs over the REWRITTEN corpus (merged symbols can
pair again, so phrases grow: this is what distinguishes BPE training
from one-shot n-gram counting à la q_ngram_topk).

Exactness: the merge rewrite is string ``replace`` on a
space-sentineled corpus (' a b ' → ' a_b '), which is left-to-right
non-overlapping in BOTH engines — exactly BPE's greedy merge scan —
and pair selection tie-breaks lexicographically, so every step is
deterministic and the whole merge table hash-matches the DuckDB
oracle's unrolled-CTE spelling.

Scale story (100 TB): each step is one corpus scan → pair explode →
hash agg → global top-1 (TakeOrdered, a scalar) → broadcast of that
scalar into the rewrite map. That is the textbook distributed-BPE
shape (map-side pair counting with partial aggregation; the merge
table — here 6 rows, in production a few 10k — is the only
driver-side state). The declared plan chains 6 such stages lazily;
a production trainer persists each rewritten generation exactly like
q_dedup_components persists label-propagation rounds
(localCheckpoint), trading storage for the re-derivation this
6-stage demo plan tolerates on a small corpus.

Reference parity: none — beyond-reference surface (BASELINE.json
training-data pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

_N_MERGES = 6


# adjacent symbol pairs of the space-sentineled corpus string `s`
def _pairs_duck(d: str) -> str:
    return f"""
        SELECT u.a AS a, u.b AS b
        FROM (
            SELECT unnest(list_transform(range(1, len(string_split(trim(s), ' '))),
                          i -> {{'a': string_split(trim(s), ' ')[i],
                                 'b': string_split(trim(s), ' ')[i+1]}})) AS u
            FROM {d}
        )
    """


def _bpe_oracle(n_merges: int) -> str:
    ctes = ["d0 AS (SELECT ' ' || text || ' ' AS s FROM documents)"]
    for k in range(n_merges):
        ctes.append(
            f"p{k} AS (SELECT a, b, COUNT(*) AS n FROM ({_pairs_duck(f'd{k}')})"
            " GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)"
        )
        if k < n_merges - 1:
            ctes.append(
                f"d{k + 1} AS (SELECT replace(s,"
                f" ' ' || p{k}.a || ' ' || p{k}.b || ' ',"
                f" ' ' || p{k}.a || '_' || p{k}.b || ' ') AS s"
                f" FROM d{k}, p{k})"
            )
    sel = " UNION ALL ".join(
        f"SELECT {k} AS step, a AS left, b AS right, n FROM p{k}"
        for k in range(n_merges)
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (" + sel + ") ORDER BY step"
    )


def learn_merges(
    spark: SparkSession, docs: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges over ``docs.text``; returns the
    merge list [(step, left, right, n)] — driver-side model state, as
    in any production BPE trainer.

    Iteration pattern (the q_dedup_components precedent): each
    generation of the rewritten corpus is REPARTITIONED off the
    single-file scan (pair counting is fan-out heavy; a one-split
    corpus would serialize it) and PERSISTED, the step's winning pair
    — one row — is collected into the merge table, and the previous
    generation is released. Without the persist, step k's plan would
    re-derive every earlier rewrite from scratch (quadratic scans:
    measured 17.9 s → ~4 s at sf0.1)."""
    cur = (
        docs.select(F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("s"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    merges: list[tuple[int, str, str, int]] = []
    try:
        for k in range(n_merges):
            # size >= 2 guard: a doc merged down to ONE token would
            # make sequence(1, size-1) = sequence(1, 0), which Spark
            # evaluates DESCENDING ([1, 0]) -> element_at(t, 0) throws.
            # Single-token docs contribute no pairs either way (DuckDB's
            # end-exclusive range(1, 1) is simply empty), so the guard
            # changes nothing for the oracle. Bites from ~dozens of
            # merges on (first 2-token doc fully fused), not at the
            # declared depth 6 — found by the 64-merge encoder test.
            t = cur.select(F.split(F.trim(F.col("s")), " ").alias("t")).filter(
                F.size("t") >= 2
            )
            pairs = t.select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1),"
                        " i -> struct(element_at(t, i) AS a,"
                        "             element_at(t, i + 1) AS b))"
                    )
                ).alias("p")
            ).select("p.a", "p.b")
            top = (
                pairs.groupBy("a", "b")
                .agg(F.count("*").alias("n"))
                .orderBy(F.desc("n"), "a", "b")
                .limit(1)
                .collect()[0]
            )
            merges.append((k, top.a, top.b, top.n))
            if k < n_merges - 1:
                nxt = cur.select(
                    F.replace(
                        F.col("s"),
                        F.lit(f" {top.a} {top.b} "),
                        F.lit(f" {top.a}_{top.b} "),
                    ).alias("s")
                ).persist()
                nxt.count()  # materialize before dropping the parent
                cur.unpersist(blocking=False)
                cur = nxt
    finally:
        cur.unpersist(blocking=False)
    return merges


def bpe_encode_batches(merges: list[tuple[str, str]]):
    """mapInPandas kernel factory: apply a merge table, in training
    order, to ' '||text||' ' via vectorized fixed-string replaces —
    the DEPTH-UNBOUNDED twin of q_bpe_encode's codegen replace chain.

    Expression chaining caps out at a few dozen nested calls (catalyst
    tree depth / codegen size); this kernel takes the merge list as
    plain closure data, so a production 10k-merge vocab costs one
    Python list and per-batch C-loop replaces instead of a 10k-deep
    expression tree. Each replace is the SAME left-to-right
    non-overlapping fixed-string scan Spark's `replace` and DuckDB's
    `replace` perform, so the bytes are identical to the expression
    twin — tests/test_llm.py::test_bpe_deep_encoder_64_merges pins
    bit-equality (counts + md5) at 64 merges."""

    def encode(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            s = " " + pdf["text"] + " "
            raw = s.str.strip(" ").str.split(" ").str.len()
            for left, right in merges:
                s = s.str.replace(
                    f" {left} {right} ", f" {left}_{right} ", regex=False
                )
            enc = s.str.strip(" ")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok_raw": raw.astype("int64"),
                    "n_tok_bpe": enc.str.split(" ").str.len().astype("int64"),
                    "encoded_hash": enc.map(
                        lambda x: hashlib.md5(x.encode("utf-8")).hexdigest()
                    ),
                }
            )

    return encode


def bpe_encode_df(
    spark: SparkSession, docs: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Arrow-batched BPE encoding of ``docs`` under ``merges`` (the
    learn_merges table) — same output schema and bytes as
    q_bpe_encode's expression chain, any merge depth."""
    from flink_rc_spark.util import ensure_package_shipped

    ensure_package_shipped(spark)
    return (
        docs.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(
            bpe_encode_batches([(l, r) for _, l, r, _ in merges]),
            "doc_id long, n_tok_raw bigint, n_tok_bpe bigint, encoded_hash string",
        )
        .orderBy("doc_id")
    )


def bpe_merge_table(
    spark: SparkSession, docs: DataFrame, n_merges: int
) -> DataFrame:
    """Merge table (step, left, right, n) as a DataFrame — the
    declared-query face of ``learn_merges``."""
    return spark.createDataFrame(
        learn_merges(spark, docs, n_merges),
        "step int, left string, right string, n bigint",
    ).orderBy("step")


@register(
    "q_bpe_merges",
    oracle=_bpe_oracle(_N_MERGES),
    tags=("llm", "tokenizer", "iterative"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 6 BPE merges learned from the corpus: per step, the
    merged pair and its frequency AT SELECTION TIME (counted over the
    corpus as rewritten by all previous merges — the iterative
    dependency that makes this training, not counting)."""
    return bpe_merge_table(spark, load(spark, sf_dir, "documents"), _N_MERGES)


def _bpe_encode_oracle(n_merges: int) -> str:
    """Recompute the merge chain (same CTEs as the training oracle, but
    carrying doc_id through every rewrite generation) and emit the
    per-document encoding audit."""
    ctes = ["e0 AS (SELECT doc_id, ' ' || text || ' ' AS s FROM documents)"]
    for k in range(n_merges):
        ctes.append(
            f"p{k} AS (SELECT a, b, COUNT(*) AS n FROM ({_pairs_duck(f'e{k}')})"
            " GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"e{k + 1} AS (SELECT doc_id, replace(s,"
            f" ' ' || p{k}.a || ' ' || p{k}.b || ' ',"
            f" ' ' || p{k}.a || '_' || p{k}.b || ' ') AS s"
            f" FROM e{k}, p{k})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT r.doc_id,
               CAST(len(string_split(trim(r.s), ' ')) AS BIGINT) AS n_tok_raw,
               CAST(len(string_split(trim(e.s), ' ')) AS BIGINT) AS n_tok_bpe,
               md5(trim(e.s)) AS encoded_hash
        FROM e0 r JOIN e{n_merges} e USING (doc_id)
        ORDER BY r.doc_id"""
    )


@register(
    "q_bpe_encode",
    oracle=_bpe_encode_oracle(_N_MERGES),
    tags=("llm", "tokenizer"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — apply the learned merge table, in training
    order, to every document (the tokenize step that follows
    q_bpe_merges' train step): per doc, the raw whitespace token
    count, the post-merge token count (merged symbols count once — the
    compression the tokenizer buys), and an md5 of the encoded symbol
    sequence pinning every byte of the encoding.

    Exactness: each merge application is the same space-sentineled
    left-to-right ``replace`` the trainer uses, applied in the same
    order, so the encoded corpus — and therefore both counts and the
    hash — match the oracle's chained-CTE rewrite bit-for-bit.

    Scale: training state is the 6-row driver-side merge list (the
    same learn_merges pass q_bpe_merges runs); encoding itself is ONE
    scan with 6 chained codegen string replaces — embarrassingly
    parallel, no shuffle.

    DEPTH CEILING + the production path: expression chaining stops
    scaling at a few dozen merges (catalyst tree depth); past that the
    encoder is ``bpe_encode_df`` — a mapInPandas kernel taking the
    merge list as closure data, byte-identical to this chain (same
    left-to-right non-overlapping replace semantics) and verified
    bit-equal at 64 merges in
    tests/test_llm.py::test_bpe_deep_encoder_64_merges. The declared
    key keeps the 6-merge expression form because that is the
    exact-oracle surface (the oracle unrolls the same 6 CTE rounds).
    """
    docs = load(spark, sf_dir, "documents")
    merges = learn_merges(spark, docs, _N_MERGES)
    s0 = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    enc = s0
    for _, left, right, _n in merges:
        enc = F.replace(
            enc, F.lit(f" {left} {right} "), F.lit(f" {left}_{right} ")
        )
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(s0), " ")).cast("bigint").alias("n_tok_raw"),
        F.size(F.split(F.trim(enc), " ")).cast("bigint").alias("n_tok_bpe"),
        F.md5(F.trim(enc)).alias("encoded_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_bpe_fertility — tokenizer fertility / compression per language
# ---------------------------------------------------------------------------


def _bpe_fertility_oracle(n_merges: int) -> str:
    """Same chained-CTE merge rewrite as q_bpe_encode's oracle, rolled
    up per language into the fertility readout."""
    ctes = ["e0 AS (SELECT doc_id, ' ' || text || ' ' AS s FROM documents)"]
    for k in range(n_merges):
        ctes.append(
            f"p{k} AS (SELECT a, b, COUNT(*) AS n FROM ({_pairs_duck(f'e{k}')})"
            " GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"e{k + 1} AS (SELECT doc_id, replace(s,"
            f" ' ' || p{k}.a || ' ' || p{k}.b || ' ',"
            f" ' ' || p{k}.a || '_' || p{k}.b || ' ') AS s"
            f" FROM e{k}, p{k})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        , per_doc AS (
            SELECT d.lang,
                   CAST(len(string_split(trim(r.s), ' ')) AS BIGINT)
                       AS n_raw,
                   CAST(len(string_split(trim(e.s), ' ')) AS BIGINT)
                       AS n_bpe
            FROM e0 r
            JOIN e{n_merges} e USING (doc_id)
            JOIN documents d USING (doc_id)
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_raw) AS BIGINT) AS raw_tokens,
               CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
               CAST((SUM(n_bpe) * 1000000) // SUM(n_raw) AS BIGINT)
                   AS fertility_micro
        FROM per_doc
        GROUP BY lang
        ORDER BY lang"""
    )


@register(
    "q_bpe_fertility",
    oracle=_bpe_fertility_oracle(_N_MERGES),
    tags=("llm", "tokenizer", "eval"),
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language: post-BPE tokens per raw
    whitespace token (the multilingual-tokenizer-equity metric — a
    language whose fertility stays near 1.0 gains nothing from the
    learned merges, i.e. the vocabulary under-serves it; the standard
    readout in tokenizer papers). Uses the SAME 6-merge table
    (learn_merges) and the SAME space-sentineled replace semantics
    as q_bpe_encode, so the per-language sums are exactly the rollup
    of q_bpe_encode's audited per-doc counts.

    Exactness: token counts are exact BIGINT sums; fertility is
    floor-quantized to 1e6 (DIV ≡ // on positives) — no doubles.

    Plan at 100 TB: encoding is the q_bpe_encode codegen replace chain
    (no shuffle); the rollup is one |langs|-row hash agg. The merge
    table is driver-side k-row state.
    """
    docs = load(spark, sf_dir, "documents")
    merges = learn_merges(spark, docs, _N_MERGES)
    s0 = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    enc = s0
    for _, left, right, _n in merges:
        enc = F.replace(
            enc, F.lit(f" {left} {right} "), F.lit(f" {left}_{right} ")
        )
    per_doc = docs.select(
        "lang",
        F.size(F.split(F.trim(s0), " ")).cast("bigint").alias("n_raw"),
        F.size(F.split(F.trim(enc), " ")).cast("bigint").alias("n_bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_raw").cast("bigint").alias("raw_tokens"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "raw_tokens",
            "bpe_tokens",
            F.expr("(bpe_tokens * 1000000) DIV raw_tokens").alias(
                "fertility_micro"
            ),
        )
        .orderBy("lang")
    )
