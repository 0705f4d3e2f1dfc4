"""Corpus curation operators (LLM-data wave, r4 additions): intra-
document repetition detection, corpus n-gram top-k, PII redaction,
deterministic sharded training-order shuffle, and int8 embedding
quantization.

These are the quality-filter / serving-prep jobs that sit between raw
dedup and tokenization in a pretraining pipeline (the Gopher/C4-style
repetition rules, the "shuffle the corpus into shards" step, and the
vector-compression step before ANN serving).

Float policy: every fraction is a single division of two exactly-
computed values (integer counts or float32 inputs widened to double),
so both engines produce bit-identical doubles — no tolerance needed.

Scale story (100 TB): everything here is per-row JVM expression work
plus at most one hash aggregate / one window keyed by doc or shard;
nothing leaves the JVM and nothing is all-pairs. Details per query.

Reference parity: none — the reference is numeric-vector-only
(SURVEY.md §1.1); this is driver-north-star surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.llm.profile import doc_split_byte
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# ---------------------------------------------------------------------------
# q_repetition_stats — Gopher-style intra-document repetition signals
# ---------------------------------------------------------------------------

# word bigrams of a token array, 1-based engines spelled per dialect;
# both guard the single-token case explicitly (Spark's sequence(1,0)
# would count DOWN, so the guard is load-bearing there).
_BIGRAMS_SPARK = (
    "CASE WHEN size(toks) < 2 THEN array() "
    "ELSE transform(sequence(1, size(toks) - 1), "
    "i -> concat(toks[i-1], ' ', toks[i])) END"
)
_BIGRAMS_DUCK = (
    "CASE WHEN len(toks) < 2 THEN [] "
    "ELSE list_transform(generate_series(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1]) END"
)


@register(
    "q_repetition_stats",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(len({_BIGRAMS_DUCK}) AS BIGINT) AS n_bigram,
               CAST(len(list_distinct({_BIGRAMS_DUCK})) AS BIGINT)
                   AS n_bigram_distinct
        FROM tok
    ),
    top AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_tok_n
        FROM (
            SELECT doc_id, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                  FROM documents)
            GROUP BY doc_id, t
        )
        GROUP BY doc_id
    )
    SELECT bg.doc_id, n_tok, n_bigram_distinct,
           CASE WHEN n_bigram > 0 THEN
                1.0 - CAST(n_bigram_distinct AS DOUBLE)
                      / CAST(n_bigram AS DOUBLE)
                ELSE 0.0 END AS dup_bigram_frac,
           CAST(top_tok_n AS DOUBLE) / CAST(n_tok AS DOUBLE)
               AS top_tok_frac,
           (CASE WHEN n_bigram > 0 THEN
                 1.0 - CAST(n_bigram_distinct AS DOUBLE)
                       / CAST(n_bigram AS DOUBLE)
                 ELSE 0.0 END) > 0.5
               OR CAST(top_tok_n AS DOUBLE) / CAST(n_tok AS DOUBLE) > 0.2
               AS is_repetitive
    FROM bg JOIN top ON bg.doc_id = top.doc_id
    ORDER BY bg.doc_id
    """,
    tags=("llm", "quality"),
)
def q_repetition_stats(spark, sf_dir):
    """Intra-document repetition signals (Gopher/C4-style quality
    rules): duplicate-bigram fraction and most-common-token dominance,
    plus the composite repetitive flag a filter pipeline would gate on.

    The bigram stats are pure array expressions (no explode — the
    bigram list never leaves its row); only the top-token count uses
    an explode + two hash aggs keyed by doc_id. All fractions are one
    double division of exact integer counts, so the hash matches the
    oracle bit-for-bit. 100 TB: per-doc map + doc-keyed agg, fully
    parallel, no global state.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("toks"))
    bg = tok.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.expr(f"CAST(size({_BIGRAMS_SPARK}) AS BIGINT)").alias("n_bigram"),
        F.expr(
            f"CAST(size(array_distinct({_BIGRAMS_SPARK})) AS BIGINT)"
        ).alias("n_bigram_distinct"),
    )
    top = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("top_tok_n"))
    )
    dup_frac = F.when(
        F.col("n_bigram") > 0,
        F.lit(1.0)
        - F.col("n_bigram_distinct").cast("double")
        / F.col("n_bigram").cast("double"),
    ).otherwise(0.0)
    top_frac = F.col("top_tok_n").cast("double") / F.col("n_tok").cast("double")
    return (
        bg.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            "n_bigram_distinct",
            dup_frac.alias("dup_bigram_frac"),
            top_frac.alias("top_tok_frac"),
            ((dup_frac > 0.5) | (top_frac > 0.2)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_ngram_topk",
    oracle=f"""
    WITH tok AS (
        SELECT string_split(text, ' ') AS toks FROM documents
    )
    SELECT bigram, COUNT(*) AS n
    FROM (SELECT unnest({_BIGRAMS_DUCK}) AS bigram FROM tok)
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 30
    """,
    tags=("llm", "text"),
)
def q_ngram_topk(spark, sf_dir):
    """Global top-30 word bigrams by corpus frequency (tie-broken by
    bigram text so the cut is deterministic cross-engine).

    The bigram generation is a row-local array expression; explode →
    partial count → shuffle only (distinct-bigram, partial-count)
    pairs → TakeOrdered(30). The shuffle carries the bigram vocabulary
    (bounded by distinct pairs), not the corpus — the standard scale
    shape for phrase-statistics jobs.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.split("text", " ").alias("toks"))
    return (
        tok.select(F.explode(F.expr(_BIGRAMS_SPARK)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# q_pii_scrub — regex PII detection + redaction
# ---------------------------------------------------------------------------

# The synthetic corpus contains no contact strings (verified: zero
# '@'/digit-dash patterns), so the query deterministically injects one
# email and one phone per document — derived from doc_id, inside the
# query on BOTH engines — and the verified operator is the regex
# detection + redaction itself. Patterns restricted to constructs with
# identical Java-regex / RE2 semantics.
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-01'
                    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                   AS raw_text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw_text, '{_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw_text, '{_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(raw_text,
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
    FROM raw
    ORDER BY doc_id
    """,
    tags=("llm", "quality"),
)
def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction: count email/phone matches per
    document and fingerprint the redacted text.

    DuckDB needs the 'g' flag for replace-all; Spark's regexp_replace
    replaces all by default — the patterns themselves are dialect-
    neutral. Emitting md5(redacted) instead of the full redacted text
    keeps the result row small while still pinning every byte of the
    redaction. 100 TB: pure per-row JVM regex work, no shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        docs.select(
            "doc_id",
            F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), F.lit(0)))
            .cast("bigint")
            .alias("n_emails"),
            F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), F.lit(0)))
            .cast("bigint")
            .alias("n_phones"),
            F.md5(redacted).alias("redacted_hash"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_doc_shuffle — deterministic sharded training order
# ---------------------------------------------------------------------------

# the q_split_assign byte of the doc_id (profile.doc_split_byte):
# shard = byte % 8 — partitioning-independent and re-ingest-stable.
_N_SHARDS = 8


@register(
    "q_doc_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               md5(cast(doc_id AS VARCHAR)) AS hkey,
               CAST({doc_split_byte(duck=True)} % {_N_SHARDS} AS BIGINT) AS shard
        FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id)
                AS BIGINT) AS pos
    FROM h
    ORDER BY shard, pos
    """,
    tags=("llm", "serving"),
)
def q_doc_shuffle(spark, sf_dir):
    """Deterministic global shuffle into training shards: every doc
    gets a (shard, position) that is a pure function of doc_id —
    stable under any partitioning, re-ingest, or cluster size, which
    is what makes a training run reproducible.

    The naive spelling (ROW_NUMBER over a single global hash order) is
    a one-partition window — a scale killer. Sharding first makes the
    window PARTITION BY shard: each shard sorts independently in
    parallel, and at 100 TB you raise _N_SHARDS to O(cluster cores)
    and the per-shard sort stays bounded. The oracle is the same
    sharded spelling, so the hash proves the distributed form exact.
    """
    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hkey"),
        (F.expr(doc_split_byte()) % _N_SHARDS).cast("bigint").alias("shard"),
    )
    win = W.partitionBy("shard").orderBy("hkey", "doc_id")
    return (
        h.select(
            "doc_id",
            "shard",
            F.row_number().over(win).cast("bigint").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# q_embedding_quantize — int8 symmetric quantization
# ---------------------------------------------------------------------------


@register(
    "q_embedding_quantize",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x))) AS m
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, embedding, m,
               CASE WHEN m > 0
                    THEN CAST(127.0 AS DOUBLE) / CAST(m AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS scale
        FROM s
    ),
    qq AS (
        SELECT vec_id, embedding, scale,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INTEGER))
                   AS qvec
        FROM q
    )
    SELECT vec_id, scale, qvec,
           CASE WHEN scale > 0 THEN
               list_max(list_transform(generate_series(1, len(embedding)),
                   i -> abs(CAST(embedding[i] AS DOUBLE)
                            - CAST(qvec[i] AS DOUBLE) / scale)))
               ELSE 0.0 END AS max_err
    FROM qq
    ORDER BY vec_id
    """,
    tags=("llm", "similarity"),
)
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    standard 4× compression step before ANN serving — plus the max
    reconstruction error per vector.

    scale = 127 / max|x|; q_i = round(x_i * scale). Every number is a
    single IEEE double op on exactly-widened float32 inputs, and both
    engines round half away from zero, so qvec and max_err are
    hash-exact. 100 TB: pure per-row array expressions, no shuffle,
    no UDF — the whole transform is codegen'd JVM work.
    """
    emb = load(spark, sf_dir, "embeddings")
    m = F.array_max(F.expr("transform(embedding, x -> abs(x))"))
    scale = F.when(
        m > 0, F.lit(127.0).cast("double") / m.cast("double")
    ).otherwise(F.lit(0.0))
    q = emb.select("vec_id", "embedding", scale.alias("scale"))
    qq = q.withColumn(
        "qvec",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT))"
        ),
    )
    max_err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.expr(
                "zip_with(embedding, qvec, (x, qx) -> "
                "abs(CAST(x AS DOUBLE) - CAST(qx AS DOUBLE) / scale))"
            )
        ),
    ).otherwise(F.lit(0.0))
    return (
        qq.select("vec_id", "scale", "qvec", max_err.alias("max_err"))
        .orderBy("vec_id")
    )


from flink_rc_spark.llm.text import _STOPWORDS, _marker_count_sql

_CURATION_ORACLE = f"""
    WITH feat AS (
        SELECT doc_id, lang, n_chars, text,
               len(string_split(text, ' ')) AS n_tok,
               {_marker_count_sql(_STOPWORDS)} AS n_stop
        FROM documents
    ),
    gated AS (
        SELECT * FROM feat
        WHERE n_tok >= 20
          AND CAST(n_stop AS DOUBLE) / n_tok < 0.5
          AND lang IN ('en', 'es')
    ),
    canonical AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn
            FROM gated
        ) WHERE rn = 1
    )
    SELECT CASE WHEN {doc_split_byte(duck=True)} < 205 THEN 'train'
                WHEN {doc_split_byte(duck=True)} < 230 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM canonical
    GROUP BY split, lang
    ORDER BY split, lang
"""


@register(
    "q_curation_pipeline",
    oracle=_CURATION_ORACLE,
    tags=("llm", "curation", "pipeline"),
)
def q_curation_pipeline(spark, sf_dir):
    """END-TO-END curation pipeline in ONE declared plan — the
    composition a training-data team actually ships, built from the
    already-verified stage operators:

      1. quality gate  (q_quality_score's keep rule: ≥20 tokens,
         stopword ratio < 0.5)
      2. language gate (en/es only)
      3. exact-dedup canonicalization (q_dedup_exact's keep-min-doc_id
         per md5(text))
      4. train/val/test assignment (q_split_assign's md5-byte split)

    Output: the per-(split, lang) manifest — doc counts, char totals,
    first doc id. Each stage is the same expression its standalone
    operator hash-verified; the pipeline key proves the COMPOSITION
    (gates before dedup before split — order matters: deduping after
    the gates means a kept doc can be canonical even when a
    lower-doc_id duplicate was quality-rejected).

    100 TB: gates are per-row maps at the scan; dedup is the only
    shuffle (hash of text); the manifest agg is tiny. This plan IS the
    production job minus the final write.
    """
    from flink_rc_spark.llm.text import _STOPWORDS, _marker_count_expr

    docs = load(spark, sf_dir, "documents")
    feat = docs.withColumn("n_tok", F.size(F.split("text", " "))).withColumn(
        "n_stop", F.expr(_marker_count_expr(_STOPWORDS))
    )
    gated = feat.filter(
        (F.col("n_tok") >= 20)
        & (F.col("n_stop").cast("double") / F.col("n_tok") < 0.5)
        & (F.col("lang").isin("en", "es"))
    )
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    canonical = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    v = F.expr(doc_split_byte())
    split = (
        F.when(v < 205, "train").when(v < 230, "val").otherwise("test")
    ).alias("split")
    return (
        canonical.select(split, "lang", "doc_id", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split", "lang")
    )


@register(
    "q_source_quality",
    oracle=f"""
        WITH feat AS (
            SELECT source, lang, n_chars,
                   len(string_split(text, ' ')) AS n_tok,
                   {_marker_count_sql(_STOPWORDS)} AS n_stop,
                   md5(text) AS h
        FROM documents
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 4)
                   AS avg_tokens,
               CAST(SUM(CASE WHEN n_tok >= 20
                              AND CAST(n_stop AS DOUBLE) / n_tok < 0.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups
        FROM feat
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "curation", "agg"),
)
def q_source_quality(spark, sf_dir):
    """Per-SOURCE corpus health dashboard: volume, average length,
    quality-gate pass counts, language spread, and exact-duplicate
    counts — the rollup a data team reads before deciding which
    sources to keep, upweight, or drop (source-level curation, the
    step BEFORE document-level filtering).

    One scan, one hash agg on source; the dup counter is
    count(*) − count(distinct md5) per source (integer-exact). At
    100 TB each distinct-aggregate adds a per-group dedup pass —
    bounded by docs-per-source, the natural partitioning of a
    source-sharded lake.
    """
    from flink_rc_spark.llm.text import _STOPWORDS, _marker_count_expr

    docs = load(spark, sf_dir, "documents")
    feat = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.expr(_marker_count_expr(_STOPWORDS)).alias("n_stop"),
        F.md5("text").alias("h"),
    )
    quality = F.when(
        (F.col("n_tok") >= 20)
        & (F.col("n_stop").cast("double") / F.col("n_tok") < 0.5),
        1,
    ).otherwise(0)
    return (
        feat.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(
                F.sum("n_tok").cast("double") / F.count("*"), 4
            ).alias("avg_tokens"),
            F.sum(quality).cast("bigint").alias("n_quality_pass"),
            F.countDistinct("lang").alias("n_langs"),
            (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
        )
        .orderBy("source")
    )


# target language mixture for q_mixture_plan (shares sum to 1)
_MIX_TARGET = {"en": 0.5, "es": 0.2, "de": 0.1, "fr": 0.1, "zh": 0.1}


@register(
    "q_mixture_plan",
    oracle=f"""
        WITH target(lang, share) AS (VALUES
            {", ".join(f"('{k}', CAST({v} AS DOUBLE))" for k, v in _MIX_TARGET.items())}
        ),
        avail AS (
            SELECT lang,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS avail_tokens
            FROM documents GROUP BY lang
        ),
        joined AS (
            SELECT t.lang, t.share, a.avail_tokens,
                   CAST(a.avail_tokens AS DOUBLE) / t.share AS max_scale
            FROM target t JOIN avail a ON a.lang = t.lang
        ),
        k AS (SELECT MIN(max_scale) AS k FROM joined)
        SELECT j.lang, j.share AS target_share, j.avail_tokens,
               CAST(floor(k.k * j.share) AS BIGINT) AS planned_tokens,
               ROUND(floor(k.k * j.share) / j.avail_tokens, 4) AS sample_rate
        FROM joined j, k
        ORDER BY j.lang
    """,
    tags=("llm", "curation", "agg"),
)
def q_mixture_plan(spark, sf_dir):
    """Pretraining data-MIXTURE planning: given a target language mix
    and the corpus's available tokens per language, find the largest
    total budget k such that every language can fill its share without
    oversampling (k = min over langs of available/share — the binding
    constraint), then emit per-language planned tokens and sampling
    rates. This is the arithmetic behind every "X% web, Y% code"
    pretraining recipe; the rates feed q_sample_stratified's
    deterministic per-stratum sampler.

    Exactness: token counts are integers; k and the planned floor()
    are single double operations on exactly-agreed inputs. The scalar
    min rides a single-partition window over the 5-language rollup —
    scale-irrelevant (the fact-sized work is the token count, one hash
    agg).
    """
    docs = load(spark, sf_dir, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("avail_tokens")
    )
    share = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in _MIX_TARGET.items()
        ]
    ).cast("double")
    joined = avail.withColumn("target_share", share).withColumn(
        "max_scale", F.col("avail_tokens").cast("double") / F.col("target_share")
    )
    w_all = W.partitionBy()
    planned = F.floor(F.min("max_scale").over(w_all) * F.col("target_share")).cast(
        "bigint"
    )
    return (
        joined.withColumn("planned_tokens", planned)
        .select(
            "lang",
            "target_share",
            "avail_tokens",
            "planned_tokens",
            F.round(
                F.col("planned_tokens") / F.col("avail_tokens"), 4
            ).alias("sample_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_dsir_weights — hashed-feature importance weights (DSIR-style)
# ---------------------------------------------------------------------------

# hashed feature buckets: token -> the sampling wave's md5 [0,255]
# byte mod 64
_DSIR_B = 64


@register(
    "q_dsir_weights",
    oracle=f"""
        WITH tokens AS (
            SELECT doc_id, lang, tok
            FROM (SELECT doc_id, lang,
                         unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
        ),
        bucketed AS (
            SELECT doc_id, lang,
                   {md5_int('tok', 1, 2, duck=True)} % {_DSIR_B} AS b
            FROM tokens
        ),
        stats AS (
            SELECT b,
                   SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_f,
                   COUNT(*) AS r_f
            FROM bucketed GROUP BY b
        ),
        tot AS (SELECT SUM(t_f) AS t_tot, SUM(r_f) AS r_tot FROM stats),
        ratio AS (
            SELECT b,
                   CAST(ROUND(ln((CAST(t_f + 1 AS DOUBLE)
                                  / (t_tot + {_DSIR_B}))
                                 / (CAST(r_f + 1 AS DOUBLE)
                                    / (r_tot + {_DSIR_B}))), 6)
                        AS DECIMAL(12,6)) AS l
            FROM stats, tot
        ),
        doc_feats AS (
            SELECT doc_id, ANY_VALUE(lang) AS lang, b, COUNT(*) AS c
            FROM bucketed GROUP BY doc_id, b
        ),
        weights AS (
            SELECT doc_id, ANY_VALUE(lang) AS lang,
                   SUM(CAST(c AS DECIMAL(10,0)) * l) AS w
            FROM doc_feats JOIN ratio USING (b)
            GROUP BY doc_id
        )
        SELECT doc_id, lang, ROUND(CAST(w AS DOUBLE), 4) AS weight
        FROM weights
        ORDER BY w DESC, doc_id
        LIMIT 20
    """,
    tags=("llm", "curation", "agg"),
)
def q_dsir_weights(spark, sf_dir):
    """DSIR-style data-selection importance weights: score every
    document by the log-likelihood ratio of its hashed-unigram
    features under a TARGET distribution (English docs) vs the RAW
    corpus distribution — the hashed-n-gram importance resampling
    recipe (Xie et al., DSIR) used to up-select pretraining data that
    "looks like" a trusted target set; output the top-20 most
    target-like documents.

    Exactness: bucket counts are integers; each bucket's log-ratio is
    computed once, ROUNDED TO 6 DECIMALS AND QUANTIZED TO DECIMAL so
    the per-document dot product Σ c_b·L_b is decimal-exact and
    order-independent — the engines disagree only about things that
    were already rounded away. The top-20 ORDER BY runs on the exact
    decimal weight (ties broken by doc_id), so the selected set is
    deterministic, not hash-luck.

    100 TB: tokenize+bucket is one scan of JVM built-ins; the feature
    table is 64 rows (broadcast); per-doc weights are one hash agg
    keyed by doc; the final top-k is TakeOrdered (no global sort
    materialization). This is the actual shape DSIR runs at corpus
    scale — the whole model is the broadcast 64-row ratio table.
    """
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    bucketed = tokens.select(
        "doc_id",
        "lang",
        F.expr(f"{md5_int('tok', 1, 2)} % {_DSIR_B}").alias("b"),
    )
    stats = bucketed.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_f"),
        F.count("*").alias("r_f"),
    )
    tot = stats.agg(
        F.sum("t_f").alias("t_tot"), F.sum("r_f").alias("r_tot")
    )
    ratio = stats.join(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("t_f") + 1).cast("double") / (F.col("t_tot") + _DSIR_B))
                / ((F.col("r_f") + 1).cast("double") / (F.col("r_tot") + _DSIR_B))
            ),
            6,
        )
        .cast("decimal(12,6)")
        .alias("l"),
    )
    doc_feats = bucketed.groupBy("doc_id", "b").agg(
        F.first("lang").alias("lang"), F.count("*").alias("c")
    )
    weights = (
        doc_feats.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.sum(F.col("c").cast("decimal(10,0)") * F.col("l")).alias("w"),
        )
    )
    return (
        weights.orderBy(F.col("w").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", "lang", F.round(F.col("w").cast("double"), 4).alias("weight"))
    )


# ---------------------------------------------------------------------------
# q_winsorize — robust per-group scaling for curation signals
# ---------------------------------------------------------------------------


@register(
    "q_winsorize",
    oracle="""
        WITH stats AS (
            SELECT source,
                   COUNT(*) AS n_docs,
                   quantile_cont(n_chars, 0.05) AS p05,
                   quantile_cont(n_chars, 0.95) AS p95
            FROM documents
            GROUP BY source
        )
        SELECT d.source, ANY_VALUE(s.n_docs) AS n_docs,
               ROUND(ANY_VALUE(s.p05), 4) AS p05,
               ROUND(ANY_VALUE(s.p95), 4) AS p95,
               CAST(SUM(CASE WHEN d.n_chars < s.p05 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN d.n_chars > s.p95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high,
               ROUND(CAST(SUM(CAST(ROUND(
                        CASE WHEN d.n_chars < s.p05 THEN s.p05
                             WHEN d.n_chars > s.p95 THEN s.p95
                             ELSE CAST(d.n_chars AS DOUBLE) END, 4)
                      AS DECIMAL(18,4))) AS DOUBLE)
                     / ANY_VALUE(s.n_docs), 4) AS win_mean
        FROM documents d JOIN stats s USING (source)
        GROUP BY d.source
        ORDER BY d.source
    """,
    tags=("llm", "curation", "agg"),
)
def q_winsorize(spark, sf_dir):
    """Winsorized per-source length statistics: clamp each document's
    n_chars into its source's [p05, p95] band and report the clamped
    mean plus how many docs hit each bound — the robust-scaling step a
    curation pipeline applies before thresholding quality signals
    (outlier docs would otherwise drag per-source means arbitrarily).

    Two-pass shape (the q_anomaly_zscore pattern): exact interpolated
    percentiles per source (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the q_agg_percentile-established equivalence),
    BROADCAST back over the fact, clamp per-row, aggregate. The
    clamped value is an IEEE-identical double in both engines (an
    integer or the interpolated bound), quantized to DECIMAL(18,4)
    before summing so the group mean is order-independent-exact.
    100 TB: two scans, two hash aggs, one broadcast — no window over
    the fact, no sort.
    """
    docs = load(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    clamped = F.round(
        F.when(F.col("n_chars") < F.col("p05"), F.col("p05"))
        .when(F.col("n_chars") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("n_chars").cast("double")),
        4,
    ).cast("decimal(18,4)")
    return (
        docs.join(F.broadcast(stats), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.round(F.first("p05"), 4).alias("p05"),
            F.round(F.first("p95"), 4).alias("p95"),
            F.sum(F.when(F.col("n_chars") < F.col("p05"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(F.col("n_chars") > F.col("p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
            F.round(
                F.sum(clamped).cast("double") / F.first("n_docs"), 4
            ).alias("win_mean"),
        )
        .orderBy("source")
    )
