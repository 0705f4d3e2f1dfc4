"""Text-analysis operators for the LLM-data pipeline (SURVEY.md §2.4).

All five operators run entirely JVM-side on built-in functions (split /
transform / filter / aggregate lambdas) — no Python UDFs — so they stay
inside whole-stage codegen and scale linearly with the corpus: at 100 TB
these are embarrassingly parallel per-document maps followed by a small
grouped aggregation, with no shuffle except the final groupBy.

Determinism policy: every derived metric is integer arithmetic or an
explicitly rounded double computed with the *same* expression shape in
the DuckDB oracle, so the driver's value-hash matches exactly.

Reference parity: the reference has no text operators (it is an RC/ESN
stream library — SURVEY.md §2.1); these are the beyond-reference
surface mandated by BASELINE.json for training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_rc_spark.functions.vectors import md5_dot, vectors, vectors_cte
from flink_rc_spark.llm.profile import doc_split_byte
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

# Marker stopwords per language for the n-gram/marker lang-ID heuristic.
# Deterministic scoring — identical lists are inlined in the oracle SQL.
_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
}

_STOPWORDS = ("the", "a", "of", "and", "is", "in", "to", "it")

# zh has no marker-WORD list — Chinese isn't space-tokenized — so its
# score is the count of CJK Unified Ideograph codepoints (U+4E00 to
# U+9FFF, written as literal chars so the class parses identically in
# Java regex and RE2). Wired into q_lang_id/q_langid_eval as s_zh with
# zh LAST in the argmax tiebreak priority: on real data a zh document's
# ideograph count dwarfs any Latin stopword count, while the synthetic
# fixture's zh-labeled docs are Latin-script tech text (verified: zero
# non-ASCII bytes in the whole documents table), so their s_zh is 0 and
# the confusion matrix keeps the label/script mismatch VISIBLE — the
# classifier is right, the fixture's labels are adversarial.
# test_lang_id_cjk in tests/test_llm.py proves nonzero zh
# classification on actual CJK strings.
_CJK_CLASS = "[一-鿿]"


def _cjk_count_expr() -> str:
    return f"regexp_count(text, '{_CJK_CLASS}')"


def _cjk_count_sql() -> str:
    return f"len(regexp_extract_all(text, '{_CJK_CLASS}'))"


# Shared lang-ID scoring + argmax, used by q_lang_id AND q_langid_eval
# (and unit-testable on literal CJK strings). Priority order for ties:
# en > es > de > fr > zh — zh last so all-zero rows (no markers, no
# ideographs) fall to 'en' exactly as before zh existed.
_LANG_PRIORITY = ("en", "es", "de", "fr", "zh")


def _langid_scored_sql() -> str:
    cols = [
        f"{_marker_count_sql(_MARKERS[k])} AS s_{k}" for k in ("en", "es", "de", "fr")
    ] + [f"{_cjk_count_sql()} AS s_zh"]
    return ",\n               ".join(cols)


def _langid_scored_cols() -> list:
    return [
        F.expr(_marker_count_expr(_MARKERS[k])).alias(f"s_{k}")
        for k in ("en", "es", "de", "fr")
    ] + [F.expr(_cjk_count_expr()).alias("s_zh")]


def _langid_case_sql() -> str:
    branches = []
    for pos, k in enumerate(_LANG_PRIORITY[:-1]):
        conds = " AND ".join(
            f"s_{k} >= s_{o}" for o in _LANG_PRIORITY[pos + 1 :]
        )
        branches.append(f"WHEN {conds} THEN '{k}'")
    joined = "\n             ".join(branches)
    return f"CASE\n             {joined}\n             ELSE '{_LANG_PRIORITY[-1]}'\n           END"


def _langid_pred_col() -> F.Column:
    expr = None
    for pos, k in enumerate(_LANG_PRIORITY[:-1]):
        cond = None
        for o in _LANG_PRIORITY[pos + 1 :]:
            c = F.col(f"s_{k}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr.otherwise(_LANG_PRIORITY[-1])

# BPE-ish tokenizer regex: runs of letters, runs of digits, or a single
# non-alphanumeric non-space symbol — a coarse stand-in for byte-pair
# pretokenization. Kept to constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB).
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, token totals, avg length.

    Tokenization is whitespace split (JVM-side `split`); token counts
    are exact integers, avg length an integer-sum / count rounded to 4
    decimals identically in the oracle. Scale: map + single hash agg on
    a low-cardinality key — partial aggregation makes the shuffle tiny.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tok", F.size(_toks()))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 4).alias(
                "avg_chars"
            ),
        )
        .orderBy("lang")
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS bpe_tokens,
           MAX(len(string_split(text, ' '))) AS max_doc_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting, aggregated per source.

    Both tokenizers are JVM built-ins (`split`, `regexp_count`); the
    regex is restricted to constructs with identical Java/RE2 meaning.
    At 100 TB: per-row map, partial agg, 20-key shuffle — negligible.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("ws", F.size(_toks()))
        .withColumn("bpe", F.regexp_count("text", F.lit(_BPE_RE)))
        .groupBy("source")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.max("ws").alias("max_doc_tokens"),
        )
        .orderBy("source")
    )


def _marker_count_expr(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"size(filter(split(text, ' '), w -> w IN ({inlist})))"


def _marker_count_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({inlist})))"


@register(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_langid_scored_sql()}
        FROM documents
    )
    SELECT doc_id, lang,
           {_langid_case_sql()} AS pred_lang,
           s_en, s_es, s_de, s_fr, s_zh
    FROM scored
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word + script language ID: score each doc against
    per-language stopword lists (en/es/de/fr) plus a CJK-ideograph
    codepoint count for zh (Chinese isn't space-tokenized, so a script
    detector replaces the marker list), argmax with the fixed
    en>es>de>fr>zh priority tiebreak.

    A production system would use char n-gram profiles (same shape:
    per-doc map + argmax); marker words + script counts keep the
    oracle exactly SQL-expressible. Pure JVM lambda/regex functions;
    zero shuffle (the ORDER BY is for deterministic presentation only).
    """
    docs = load(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", *_langid_scored_cols())
    return scored.select(
        "doc_id",
        "lang",
        _langid_pred_col().alias("pred_lang"),
        "s_en",
        "s_es",
        "s_de",
        "s_fr",
        "s_zh",
    ).orderBy("doc_id")


@register(
    "q_quality_score",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, source, n_chars,
               len(string_split(text, ' ')) AS n_tok,
               {_marker_count_sql(_STOPWORDS)} AS n_stop
        FROM documents
    )
    SELECT doc_id, source, n_tok,
           ROUND(CAST(n_chars AS DOUBLE) / n_tok, 4) AS avg_tok_len,
           ROUND(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stop_ratio,
           CASE WHEN n_tok >= 20 AND CAST(n_stop AS DOUBLE) / n_tok < 0.5
                THEN 1 ELSE 0 END AS keep
    FROM feat
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring: token count, avg token
    length, stopword ratio, and a keep/drop gate — the standard
    pretraining-corpus filter shape (C4/Gopher-style rules).

    All features are integer counts; ratios are rounded doubles with
    the identical expression in the oracle. Per-row map, no shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(_toks()).alias("n_tok"),
        F.expr(_marker_count_expr(_STOPWORDS)).alias("n_stop"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    return feat.select(
        "doc_id",
        "source",
        "n_tok",
        F.round(F.col("n_chars").cast("double") / F.col("n_tok"), 4).alias(
            "avg_tok_len"
        ),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.when((F.col("n_tok") >= 20) & (stop_ratio < 0.5), 1)
        .otherwise(0)
        .alias("keep"),
    ).orderBy("doc_id")


@register(
    "q_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents
    )
    SELECT doc_id,
           md5(array_to_string(t, ' ')) AS full_hash,
           list_min(list_transform(range(1, len(t) - 2),
                    i -> md5(array_to_string(t[i:i+3], ' ')))) AS min_shingle,
           list_max(list_transform(range(1, len(t) - 2),
                    i -> md5(array_to_string(t[i:i+3], ' ')))) AS max_shingle
    FROM toks
    WHERE len(t) >= 4
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-text md5 plus min/max 4-gram
    shingle hashes (the winnowing/min-shingle primitive that MinHash
    builds on).

    Shingles are generated JVM-side with `transform(sequence(...))` —
    no explode, no shuffle; each doc emits one row. The min-shingle
    column is exactly the 1-permutation MinHash signature, so this
    operator is the scale path's building block: at 100 TB, k of these
    columns bucket-joined give near-dup candidates without a pairwise
    O(n^2) comparison.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _toks().alias("t")).filter(F.size("t") >= 4)
    shingle_hashes = F.expr(
        "transform(sequence(1, size(t) - 3), i -> md5(concat_ws(' ', slice(t, i, 4))))"
    )
    return toks.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.col("t"))).alias("full_hash"),
        F.array_min(shingle_hashes).alias("min_shingle"),
        F.array_max(shingle_hashes).alias("max_shingle"),
    ).orderBy("doc_id")


@register(
    "q_tfidf_topk",
    oracle="""
        WITH tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            GROUP BY doc_id, tok
        ),
        scored AS (
            SELECT doc_id, tok, tf,
                   COUNT(*) OVER (PARTITION BY tok) AS df,
                   ROUND(tf * ln(CAST((SELECT COUNT(*) FROM documents)
                                      AS DOUBLE) / COUNT(*) OVER (PARTITION BY tok)),
                         4) AS score
            FROM tf
        )
        SELECT doc_id, tok, tf, df, score
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, tok
            ) AS rn
            FROM scored
        )
        WHERE rn <= 3 AND doc_id < 100
        ORDER BY doc_id, score DESC, tok
    """,
    tags=("llm", "text", "window"),
)
def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (doc_id < 100 output block to
    bound the declared result; the computation itself is full-corpus).

    One explode → (doc, term) hash agg gives tf; df comes from a
    COUNT OVER (PARTITION BY term) window on the already-distinct
    (doc, term) rows — no second scan, no self-join (the naive df
    spelling); the corpus size N is a broadcast scalar. Scores round
    to 4 decimals on exactly-agreed integer inputs so the cross-engine
    ln() agrees post-round; ties break on the term.

    100 TB: tf agg shuffles on (doc, term); the df window re-shuffles
    on term (unavoidable — df IS a per-term statistic); top-3 per doc
    is a bounded per-partition window after a doc-key shuffle. All
    JVM built-ins, no Python.
    """
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tf = (
        docs.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").alias("n"))
    w_tok = Window.partitionBy("tok")
    scored = (
        tf.join(F.broadcast(n_docs))
        .withColumn("df", F.count("*").over(w_tok))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w_doc))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "tok", "tf", "df", "score")
        .orderBy("doc_id", F.desc("score"), "tok")
    )


@register(
    "q_inverted_index",
    oracle="""
        SELECT tok,
               COUNT(DISTINCT doc_id) AS df,
               (list_sort(list(DISTINCT doc_id)))[1:20] AS postings
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
        GROUP BY tok
        ORDER BY df DESC, tok
        LIMIT 100
    """,
    tags=("llm", "text", "agg"),
)
def q_inverted_index(spark, sf_dir):
    """Inverted-index build: for the 100 highest-document-frequency
    terms, the document frequency and the first 20 postings (sorted
    doc ids) — the retrieval-side complement of q_tfidf_topk.

    explode → distinct (term, doc) → per-term collect_set, sorted and
    sliced JVM-side. At 100 TB the posting lists are the classic
    skew hazard (stopword terms list every doc): the declared query
    caps each list at 20 entries AFTER sort_array of the collected
    set — bounded memory per group; a production variant shards
    postings by (term, doc_id range) buckets, which is exactly the
    doc-block pattern the dedup ops use.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(_toks()).alias("tok")).distinct()
    return (
        pairs.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.slice(F.sort_array(F.collect_set("doc_id")), 1, 20).alias(
                "postings"
            ),
        )
        .orderBy(F.desc("df"), "tok")
        .limit(100)
    )


@register(
    "q_text_entropy",
    oracle="""
        WITH chars AS (
            SELECT doc_id,
                   list_transform(range(1, len(text) + 1), i -> text[i]) AS cs
            FROM documents
        )
        SELECT doc_id,
               CAST(len(cs) AS BIGINT) AS n_chars,
               CAST(len(list_distinct(cs)) AS INT) AS alphabet,
               ROUND(-list_reduce(
                   list_transform(list_sort(list_distinct(cs)), c ->
                       (CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                        / len(cs))
                       * log2(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                              / len(cs))),
                   (acc, x) -> acc + x), 4) AS char_entropy
        FROM chars
        ORDER BY doc_id
    """,
    tags=("llm", "text", "hof"),
)
def q_text_entropy(spark, sf_dir):
    """Per-document character-distribution Shannon entropy — the
    curation signal for gibberish/boilerplate detection (natural text
    sits in a narrow entropy band; base64 blobs score high, repeated
    padding scores low). Alphabet size rides along as the cheap
    companion stat.

    Determinism: character frequencies are integer-exact; the entropy
    sum folds the distinct characters in SORTED order in both engines
    (Spark aggregate over the char-sorted count list ≡ DuckDB
    list_reduce over list_sort), so the only cross-engine risk is
    log2's final ulp, absorbed by ROUND(4).

    Plan: explode → (doc, char) hash agg → per-doc sorted fold. The
    all-HOF spelling (filter-count per distinct char, no shuffle)
    is O(alphabet × n_chars) of INTERPRETED nested lambdas per row —
    measured 11.5 s vs ~1 s for this shuffle-based shape at sf0.1;
    the (doc, char) aggregate is pure codegen and its cardinality is
    bounded by doc_count × alphabet.
    """
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("c", "cnt"))).alias("arr"),
        F.sum("cnt").cast("bigint").alias("n_chars"),
    )
    term = (
        "(CAST(x.cnt AS DOUBLE) / n_chars)"
        " * log2(CAST(x.cnt AS DOUBLE) / n_chars)"
    )
    return per_doc.select(
        "doc_id",
        "n_chars",
        F.size("arr").cast("int").alias("alphabet"),
        F.round(
            -F.expr(f"aggregate(arr, 0d, (acc, x) -> acc + {term})"), 4
        ).alias("char_entropy"),
    ).orderBy("doc_id")


@register(
    "q_ngram_lm",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        doc_bigrams AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> {'w1': t[i], 'w2': t[i+1]})) AS u
                FROM toks
            )
        ),
        uni AS (
            SELECT w1, COUNT(*) AS c1 FROM doc_bigrams GROUP BY w1
        ),
        bi AS (
            SELECT w1, w2, COUNT(*) AS c2 FROM doc_bigrams GROUP BY w1, w2
        ),
        probs AS (
            SELECT b.w1, b.w2,
                   CAST(ROUND(log2(CAST(b.c2 AS DOUBLE) / u.c1), 6)
                        AS DECIMAL(12,6)) AS logp
            FROM bi b JOIN uni u ON u.w1 = b.w1
        )
        SELECT d.doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(p.logp) AS DOUBLE) AS total_logp,
               ROUND(-CAST(SUM(p.logp) AS DOUBLE) / COUNT(*), 4)
                   AS bits_per_bigram
        FROM doc_bigrams d
        JOIN probs p ON p.w1 = d.w1 AND p.w2 = d.w2
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """,
    tags=("llm", "text", "lm"),
)
def q_ngram_lm(spark, sf_dir):
    """Bigram language-model scoring — the count-based perplexity
    filter curation pipelines run to drop statistically anomalous
    documents: MLE bigram log-probs fit on the corpus itself, then
    each document scored by its average bits-per-bigram (low =
    formulaic, high = unusual transitions).

    Float-sum order independence WITHOUT a per-doc fold: each bigram's
    log2 prob is rounded to 6 dp and CAST TO DECIMAL(12,6) before the
    per-doc SUM, so the aggregation is exact and order-free in both
    engines — the decimal-routing idiom (functions/exact.py) applied
    to model scores instead of money. Counts are integer-exact; the
    final bits-per-bigram divides two exactly-agreed numbers.

    100 TB: the LM "fit" is two hash aggs (vocab-bounded); scoring is
    one fact-side join per bigram against the broadcastable prob
    table and one doc-keyed agg. The same shape scales to trigrams by
    widening the key.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _toks().alias("t"))
    doc_bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    uni = doc_bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    bi = doc_bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    probs = bi.join(uni, "w1").select(
        "w1",
        "w2",
        F.round(F.log2(F.col("c2").cast("double") / F.col("c1")), 6)
        .cast("decimal(12,6)")
        .alias("logp"),
    )
    return (
        doc_bigrams.join(F.broadcast(probs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("logp").cast("double").alias("total_logp"),
            F.round(
                -F.sum("logp").cast("double") / F.count("*"), 4
            ).alias("bits_per_bigram"),
        )
        .orderBy("doc_id")
    )


_BM25_TERMS = ("table", "stream", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_term_duck(term: str) -> str:
    return f"""
        (CASE WHEN tf_{term} > 0 THEN
            ln((n_docs - df_{term} + 0.5) / (df_{term} + 0.5) + 1)
            * tf_{term} * ({_BM25_K1} + 1)
            / (tf_{term} + {_BM25_K1} * (1 - {_BM25_B}
               + {_BM25_B} * dl / avgdl))
         ELSE 0 END)
    """


@register(
    "q_bm25",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        feat AS (
            SELECT doc_id, len(t) AS dl,
                   {", ".join(f"len(list_filter(t, x -> x = '{w}')) AS tf_{w}"
                              for w in _BM25_TERMS)}
            FROM toks
        ),
        stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                   {", ".join(f"SUM(CASE WHEN tf_{w} > 0 THEN 1 ELSE 0 END) AS df_{w}"
                              for w in _BM25_TERMS)}
            FROM feat
        )
        SELECT doc_id,
               ROUND({" + ".join(_bm25_term_duck(w) for w in _BM25_TERMS)}, 4)
                   AS bm25
        FROM feat, stats
        WHERE {" + ".join(f"tf_{w}" for w in _BM25_TERMS)} > 0
        ORDER BY {" + ".join(_bm25_term_duck(w) for w in _BM25_TERMS)} DESC,
                 doc_id
        LIMIT 20
    """,
    tags=("llm", "text", "retrieval"),
)
def q_bm25(spark, sf_dir):
    """BM25 ranking (Robertson-Spärck Jones) for a fixed 3-term query
    over the corpus — THE lexical-retrieval scoring standard (k1=1.2,
    b=0.75, the +1 idf smoothing Lucene uses), top-20 documents. With
    TF-IDF, the inverted index, embeddings ANN, and this, the engine
    covers the full hybrid-retrieval stack.

    Determinism: tf/df/dl/avgdl are exact integers (or one exact
    division); each term's score is a fixed expression tree evaluated
    in a FIXED order (the 3-term sum is written out, not aggregated),
    so both engines compute the identical double; ranking uses the
    raw score, output rounds to 4.

    100 TB: per-doc features are one scan of per-row HOF counts; the
    corpus stats are ONE broadcast row; scoring and top-k are
    embarrassingly parallel + TakeOrdered. (A real query engine would
    hit q_inverted_index's postings instead of scanning — that is the
    storage-side half; this is the scoring math, exact.)
    """
    scored = _bm25_scored(load(spark, sf_dir, "documents"))
    return (
        scored.orderBy(F.desc("_raw"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("_raw", 4).alias("bm25"))
    )


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, _raw) BM25 scores for the fixed query over docs with
    at least one matching term — shared by q_bm25 and q_rank_fusion."""
    feat = docs.select(
        "doc_id",
        F.size(_toks()).alias("dl"),
        *[
            F.size(F.expr(f"filter(split(text, ' '), x -> x = '{w}')")).alias(
                f"tf_{w}"
            )
            for w in _BM25_TERMS
        ],
    )
    stats = feat.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{w}") > 0, 1).otherwise(0)).alias(f"df_{w}")
            for w in _BM25_TERMS
        ],
    )

    def term_score(w: str):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{w}") + 0.5)
            / (F.col(f"df_{w}") + 0.5)
            + 1
        )
        tf = F.col(f"tf_{w}")
        return F.when(
            tf > 0,
            idf
            * tf
            * (_BM25_K1 + 1)
            / (
                tf
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        ).otherwise(F.lit(0.0))

    score = term_score(_BM25_TERMS[0])
    for w in _BM25_TERMS[1:]:
        score = score + term_score(w)
    any_tf = sum(F.col(f"tf_{w}") for w in _BM25_TERMS)
    return (
        feat.join(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", score.alias("_raw"))
    )


# ---------------------------------------------------------------------------
# q_rank_fusion — reciprocal-rank fusion of lexical + semantic retrieval
# ---------------------------------------------------------------------------

_RRF_K = 60       # the canonical RRF damping constant (Cormack et al.)
_RRF_DEPTH = 50   # candidates taken from each ranker
_RRF_TOPK = 20


@register(
    "q_rank_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    feat AS (
        SELECT doc_id, len(t) AS dl,
               {", ".join(f"len(list_filter(t, x -> x = '{w}')) AS tf_{w}"
                          for w in _BM25_TERMS)}
        FROM toks
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {", ".join(f"SUM(CASE WHEN tf_{w} > 0 THEN 1 ELSE 0 END) AS df_{w}"
                          for w in _BM25_TERMS)}
        FROM feat
    ),
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY {" + ".join(_bm25_term_duck(w) for w in _BM25_TERMS)}
                            DESC, doc_id) AS rl
        FROM feat, stats
        WHERE {" + ".join(f"tf_{w}" for w in _BM25_TERMS)} > 0
        QUALIFY rl <= {_RRF_DEPTH}
    ),
    {vectors_cte()},
    sem AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                   ORDER BY {md5_dot("'rrf_'", duck=True)} / nrm DESC, vec_id
               ) AS rs
        FROM n
        QUALIFY rs <= {_RRF_DEPTH}
    )
    SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
           CAST(l.rl AS BIGINT) AS rank_lex,
           CAST(s.rs AS BIGINT) AS rank_sem,
           ROUND(COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + l.rl), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + s.rs), 0), 6)
               AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON s.vec_id = l.doc_id
    ORDER BY COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + l.rl), 0)
             + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + s.rs), 0) DESC,
             COALESCE(l.doc_id, s.vec_id)
    LIMIT {_RRF_TOPK}
    """,
    tags=("llm", "text", "retrieval"),
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al. 2009 — the standard
    hybrid-retrieval combiner): the BM25 lexical ranking and an
    embedding-cosine semantic ranking each contribute
    1/(k + rank) for their top-{_RRF_DEPTH} candidates, summed per doc
    (k = {_RRF_K}, the canonical damping), final top-{_RRF_TOPK} by
    fused score. This is how production search fuses keyword and
    vector retrieval without score calibration — ranks are
    scale-free, so the two incomparable score spaces never meet.

    Determinism: the semantic query vector is md5-derived
    (functions/vectors.py::md5_dot, keys 'rrf_<i>') and its dot folds
    sequentially; BM25 reuses
    q_bm25's fixed-order expression; both rankings tiebreak on the id;
    the fused score is a fixed two-term double expression (never an
    aggregate over variable rows). Exact oracle end-to-end.

    100 TB: each ranker's top-{_RRF_DEPTH} is a TakeOrdered (partial
    per-partition top-k, no global sort of the corpus); the fusion
    joins two {_RRF_DEPTH}-row lists — driver-trivial. The ranking
    windows here are bounded by the candidate depth, not the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    # limit-first, THEN rank: orderBy().limit(k) plans as
    # TakeOrderedAndProject (per-partition partial top-k, no global
    # sort/single-partition window over the corpus); the row_number
    # window then runs over only the k surviving rows
    wl = Window.orderBy(F.desc("_raw"), "doc_id")
    lex = (
        _bm25_scored(docs)
        .orderBy(F.desc("_raw"), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("rl", F.row_number().over(wl))
        .select("doc_id", "rl")
    )
    qcos = F.expr(md5_dot("rrf_")) / F.col("nrm")
    ws = Window.orderBy(F.desc("_qc"), "vec_id")
    sem = (
        vectors(spark, sf_dir).select("vec_id", qcos.alias("_qc"))
        .orderBy(F.desc("_qc"), "vec_id")
        .limit(_RRF_DEPTH)
        .withColumn("rs", F.row_number().over(ws))
        .select("vec_id", "rs")
    )
    fused = lex.join(sem, lex.doc_id == sem.vec_id, "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rl")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rs")), F.lit(0.0))
    return (
        fused.select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            F.col("rl").cast("bigint").alias("rank_lex"),
            F.col("rs").cast("bigint").alias("rank_sem"),
            rrf.alias("_rrf"),
        )
        .orderBy(F.desc("_rrf"), "doc_id")
        .limit(_RRF_TOPK)
        .select(
            "doc_id", "rank_lex", "rank_sem", F.round("_rrf", 6).alias("rrf_score")
        )
    )


# ---------------------------------------------------------------------------
# q_cooccur_pmi — pointwise mutual information of token co-occurrence
# ---------------------------------------------------------------------------

_PMI_VOCAB = 40  # top tokens by document frequency
_PMI_MIN_CO = 5  # minimum co-document count for a reported pair


@register(
    "q_cooccur_pmi",
    oracle=f"""
        WITH inc AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id,
                         unnest(list_distinct(string_split(lower(text), ' ')))
                             AS tok
                  FROM documents)
            WHERE tok <> ''
        ),
        df AS (SELECT tok, COUNT(*) AS df FROM inc GROUP BY tok),
        vocab AS (
            SELECT tok, df
            FROM (SELECT tok, df,
                         ROW_NUMBER() OVER (ORDER BY df DESC, tok ASC) AS rk
                  FROM df)
            WHERE rk <= {_PMI_VOCAB}
        ),
        vinc AS (SELECT i.doc_id, i.tok, v.df
                 FROM inc i JOIN vocab v USING (tok)),
        co AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   ANY_VALUE(a.df) AS df_a, ANY_VALUE(b.df) AS df_b,
                   COUNT(*) AS n_co
            FROM vinc a JOIN vinc b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY a.tok, b.tok
        )
        SELECT tok_a, tok_b, n_co,
               ROUND(ln(CAST(n_co AS DOUBLE)
                        * (SELECT COUNT(*) FROM documents)
                        / (df_a * df_b)), 4) AS pmi
        FROM co
        WHERE n_co >= {_PMI_MIN_CO}
        ORDER BY tok_a, tok_b
    """,
    tags=("llm", "text", "join", "agg"),
)
def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over token co-occurrence: for the
    top-40 vocabulary (by document frequency, ties
    lexicographic), every token pair co-occurring in ≥ 5
    documents gets PMI = ln(N·n_co / (df_a·df_b)) — the collocation /
    topic-affinity statistic under word embeddings (PMI matrix
    factorization) and phrase-mining pipelines.

    Scale shape: incidence is restricted to the broadcast vocabulary
    BEFORE the pair join, so the self-join on doc_id generates at most
    C(40,2) pairs per document — bounded fan-out, an
    equi-shuffle on doc_id, never a cartesian (the scale guard
    plan-asserts this). All counts are exact integers; ln runs once on
    an exact rational and is rounded, the established tfidf/bm25
    policy. 100 TB: vocabulary selection is a hash agg + tiny top-k;
    the pair aggregate's key space is ≤ C(40,2) — map-side combine
    crushes it.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    inc = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    df = inc.groupBy("tok").agg(F.count("*").alias("df"))
    # limit-first: TakeOrdered extracts the top-|vocab| tokens with
    # per-partition partial top-k — no single-partition global ranking
    # window over the whole token-frequency table
    vocab = df.orderBy(F.col("df").desc(), F.col("tok").asc()).limit(_PMI_VOCAB)
    vinc = inc.join(F.broadcast(vocab), "tok")
    a = vinc.select(
        F.col("doc_id"), F.col("tok").alias("tok_a"), F.col("df").alias("df_a")
    )
    b = vinc.select(
        F.col("doc_id"), F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    co = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.first("df_a").alias("df_a"),
            F.first("df_b").alias("df_b"),
            F.count("*").alias("n_co"),
        )
        .filter(F.col("n_co") >= _PMI_MIN_CO)
    )
    return co.select(
        "tok_a",
        "tok_b",
        "n_co",
        F.round(
            F.log(
                F.col("n_co").cast("double")
                * F.lit(n_docs)
                / (F.col("df_a") * F.col("df_b"))
            ),
            4,
        ).alias("pmi"),
    ).orderBy("tok_a", "tok_b")


# ---------------------------------------------------------------------------
# q_langid_eval — classifier evaluation: confusion matrix
# ---------------------------------------------------------------------------


@register(
    "q_langid_eval",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_langid_scored_sql()}
        FROM documents
    ),
    pred AS (
        SELECT lang,
               {_langid_case_sql()} AS pred_lang
        FROM scored
    ),
    cells AS (
        SELECT lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang), 4)
               AS row_share
    FROM cells
    ORDER BY lang, pred_lang
    """,
    tags=("llm", "text", "ml"),
)
def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION: the confusion matrix of the marker-word
    language identifier against the labeled lang column — cell counts
    plus row-normalized shares (the diagonal is per-class recall).
    Every model in the repo that predicts something labeled should
    ship with this query; it is the eval every curation-pipeline
    classifier reports.

    Composes q_lang_id's scoring expressions (same single scan, zero
    shuffle until the tiny |langs|² aggregate); shares are one double
    division of exact integers (the q_markov_transitions normalize
    pattern). Note the fixture's zh-labeled docs are Latin-script
    text with zero CJK codepoints, so s_zh = 0 and they land in
    whichever Latin-language row wins ties — the matrix makes the
    label/script mismatch VISIBLE rather than hiding it in an
    accuracy scalar (exactly why evals report matrices). On actual
    CJK strings the zh diagonal is nonzero: test_lang_id_cjk.
    """
    docs = load(spark, sf_dir, "documents")
    scored = docs.select("lang", *_langid_scored_cols())
    cells = (
        scored.select("lang", _langid_pred_col().alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 4).alias(
            "row_share"
        ),
    ).orderBy("lang", "pred_lang")


@register(
    "q_keyword_rake",
    oracle="""
        WITH tok AS (
            SELECT doc_id, u.w AS w, u.pos AS pos
            FROM (
                SELECT doc_id,
                       unnest(list_transform(string_split(text, ' '),
                              (x, i) -> {'w': x, 'pos': i})) AS u
                FROM documents
            )
        ), stop AS (
            SELECT w FROM (
                SELECT w, COUNT(*) AS c,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
                FROM tok GROUP BY w
            ) WHERE rn <= 5
        ), content AS (
            SELECT t.doc_id, t.w, t.pos,
                   t.pos - ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                              ORDER BY t.pos) AS isl
            FROM tok t LEFT JOIN stop s ON t.w = s.w
            WHERE s.w IS NULL
        ), phrase AS (
            SELECT doc_id, isl,
                   string_agg(w, ' ' ORDER BY pos) AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS plen
            FROM content GROUP BY doc_id, isl
        ), member AS (
            SELECT c.doc_id, c.isl, c.w, p.plen
            FROM content c JOIN phrase p
              ON c.doc_id = p.doc_id AND c.isl = p.isl
        ), wstat AS (
            SELECT w,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS degree,
                   (CAST(SUM(plen) AS BIGINT) * 1000000)
                     // CAST(COUNT(*) AS BIGINT) AS wscore_micro
            FROM member GROUP BY w
        ), scored AS (
            SELECT m.doc_id, m.isl,
                   CAST(SUM(ws.wscore_micro) AS BIGINT) AS score_micro
            FROM member m JOIN wstat ws ON m.w = ws.w
            GROUP BY m.doc_id, m.isl
        )
        SELECT p.phrase, p.plen AS n_words,
               s.score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM phrase p JOIN scored s
          ON p.doc_id = s.doc_id AND p.isl = s.isl
        GROUP BY p.phrase, p.plen, s.score_micro
        ORDER BY s.score_micro DESC, p.phrase
        LIMIT 20
    """,
    tags=("llm", "text"),
)
def q_keyword_rake(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens (stopwords = the corpus
    top-5 tokens — data-derived, deterministic), each phrase scored by
    Σ over member words of degree(w)/freq(w), where freq counts word
    occurrences in phrases and degree sums the lengths of the phrases
    containing each occurrence. Word scores floor-quantize to micro
    so the phrase score is an exact integer sum; top-20 phrases
    (ties → lexicographic).

    Phrase segmentation is the gaps-and-islands idiom (pos −
    row_number over content tokens per doc — q_gaps_islands on token
    positions); ordered phrase assembly is the sorted string_agg /
    array_sort-transform twin pair.

    Plan: tokenize+posexplode is the one fan-out scan; the stopword
    list is a 5-row broadcast; segmentation windows partition by
    doc_id (parallel, per-doc length bounded); word stats and phrase
    scores are two hash aggs on bounded keys (vocab / phrase count);
    TakeOrdered(20).
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    stop = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), "w"))
        )
        .filter(F.col("rn") <= 5)
        .select("w")
    )
    content = (
        tok.join(F.broadcast(stop), "w", "left_anti")
        .withColumn(
            "isl",
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
    )
    phrase = content.groupBy("doc_id", "isl").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    member = content.select("doc_id", "isl", "w").join(
        phrase.select("doc_id", "isl", "plen"), ["doc_id", "isl"]
    )
    wstat = member.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
        F.expr(
            "(CAST(SUM(plen) AS BIGINT) * 1000000) div COUNT(*)"
        ).alias("wscore_micro"),
    )
    scored = (
        member.join(wstat.select("w", "wscore_micro"), "w")
        .groupBy("doc_id", "isl")
        .agg(F.sum("wscore_micro").cast("long").alias("score_micro"))
    )
    return (
        phrase.join(scored, ["doc_id", "isl"])
        .groupBy("phrase", F.col("plen").alias("n_words"), "score_micro")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_phonetic_key — consonant-skeleton phonetic blocking key
# ---------------------------------------------------------------------------


@register(
    "q_phonetic_key",
    oracle="""
        WITH occ AS (
            SELECT t.tok AS token, CAST(COUNT(*) AS BIGINT) AS n_occ
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE t.tok <> ''
            GROUP BY t.tok
        ), catalog AS (
            SELECT token, n_occ FROM occ
            UNION
            SELECT regexp_replace(token, '([aeiou])', '\\1\\1', 'g')
                     AS token,
                   CAST(0 AS BIGINT) AS n_occ
            FROM occ
            WHERE regexp_replace(token, '([aeiou])', '\\1\\1', 'g')
                  NOT IN (SELECT token FROM occ)
        ), keyed AS (
            SELECT token, n_occ,
                   substr(token, 1, 1)
                     || regexp_replace(substr(token, 2),
                                       '[aeiouy]', '', 'g') AS pkey
            FROM catalog
        )
        SELECT pkey,
               CAST(COUNT(*) AS BIGINT) AS n_forms,
               CAST(SUM(n_occ) AS BIGINT) AS n_occ,
               string_agg(token, ',' ORDER BY token) AS forms
        FROM keyed
        GROUP BY pkey
        HAVING COUNT(*) > 1
        ORDER BY pkey
    """,
    tags=("llm", "strings", "dedup"),
)
def q_phonetic_key(spark, sf_dir):
    """Phonetic blocking key for entity resolution: first letter +
    the consonant skeleton of the rest (vowels and y dropped) — the
    deterministic, engine-neutral cousin of Soundex (which Spark
    ships but DuckDB does not; the skeleton is the DEFINED key). The
    candidate catalog is the corpus vocabulary PLUS one deterministic
    OCR-noise variant per token (every vowel doubled — the
    q_mime_sniff construction-aware pattern: this 31-word synthetic
    vocabulary has no natural phonetic collisions, so the variants
    make the blocking behavior testable), and the output is every key
    where more than one distinct form collides, with corpus
    occurrence mass and the sorted collision set — the blocking table
    a fuzzy-matching pipeline feeds its pairwise verifier.

    Exactness: pure string ops; collision lists are sort-then-join;
    counts are integers (variants carry n_occ = 0 — dictionary
    entries, not corpus mass).

    Plan at 100 TB: tokenize-explode is the scan; the rollup shuffles
    (token) once at distinct-VOCABULARY cardinality, then (pkey) at
    key cardinality — both tiny next to the corpus. The blocking key
    is exactly the LSH-bucket shape: pairwise work downstream is
    bounded per bucket.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    occ = toks.groupBy("token").agg(F.count("*").alias("n_occ"))
    variants = (
        occ.select(
            F.regexp_replace("token", "([aeiou])", "$1$1").alias("token"),
            F.lit(0).cast("long").alias("n_occ"),
        )
        .join(occ.select("token"), "token", "left_anti")
        .distinct()
    )
    catalog = occ.select("token", F.col("n_occ").cast("long")).unionByName(
        variants
    )
    keyed = catalog.select(
        "token",
        "n_occ",
        F.concat(
            F.substring("token", 1, 1),
            F.regexp_replace(F.expr("substr(token, 2)"), "[aeiouy]", ""),
        ).alias("pkey"),
    )
    return (
        keyed.groupBy("pkey")
        .agg(
            F.count("*").alias("n_forms"),
            F.sum("n_occ").cast("long").alias("n_occ"),
            F.array_join(F.array_sort(F.collect_list("token")), ",").alias(
                "forms"
            ),
        )
        .filter(F.col("n_forms") > 1)
        .orderBy("pkey")
    )


# ---------------------------------------------------------------------------
# q_str_ngram_sim — character-trigram Jaccard similarity join
# ---------------------------------------------------------------------------


@register(
    "q_str_ngram_sim",
    oracle="""
        WITH names AS (
            SELECT DISTINCT p_name AS name FROM part
            WHERE length(p_name) >= 3
        ), grams AS (
            SELECT DISTINCT name, substr(name, g.g, 3) AS gram
            FROM names,
                 unnest(generate_series(1, length(name) - 2)) AS g(g)
        ), sizes AS (
            SELECT name, CAST(COUNT(*) AS BIGINT) AS sz
            FROM grams GROUP BY name
        ), shared AS (
            SELECT a.name AS name1, b.name AS name2,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM grams a JOIN grams b
              ON a.gram = b.gram AND a.name < b.name
            GROUP BY a.name, b.name
        )
        SELECT s.name1, s.name2, s.shared, s1.sz AS sz1, s2.sz AS sz2,
               CAST((s.shared * 1000000)
                    // (s1.sz + s2.sz - s.shared) AS BIGINT) AS jac_micro
        FROM shared s
        JOIN sizes s1 ON s1.name = s.name1
        JOIN sizes s2 ON s2.name = s.name2
        WHERE (s.shared * 1000000) // (s1.sz + s2.sz - s.shared) >= 300000
        ORDER BY jac_micro DESC, name1, name2
    """,
    tags=("llm", "strings", "join", "dedup"),
)
def q_str_ngram_sim(spark, sf_dir):
    """Character-trigram Jaccard similarity self-join over distinct
    part names (threshold 0.30) — the string-level near-match join
    (typo/variant detection) that complements token-level
    q_dedup_ngram_jaccard: candidate pairs come from an INVERTED
    INDEX on trigrams (equi-join on the gram), never an all-pairs
    distance pass, and the Jaccard is exact set algebra on integer
    gram counts, floor-quantized to micro.

    Plan at 100 TB: dedup to distinct names first (names repeat —
    the join runs on the name CATALOG, orders of magnitude smaller
    than the fact), explode each name into ≤ len−2 trigrams, shuffle
    on the gram key (bucket occupancy bounds the pairwise work,
    exactly the LSH-band shape of q_dedup_minhash), then two
    broadcast-size joins for the set sizes. Hot grams (stopword-like
    trigrams) are the documented salting candidate.
    """
    part = load(spark, sf_dir, "part")
    names = (
        part.select(F.col("p_name").alias("name"))
        .filter(F.length("name") >= 3)
        .distinct()
    )
    grams = names.select(
        "name",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, length(name) - 2),"
                " i -> substr(name, i, 3)))"
            )
        ).alias("gram"),
    )
    sizes = grams.groupBy("name").agg(F.count("*").alias("sz"))
    g2 = grams.select(
        F.col("name").alias("name2"), F.col("gram").alias("gram")
    )
    shared = (
        grams.join(g2, "gram")
        .filter(F.col("name") < F.col("name2"))
        .groupBy(F.col("name").alias("name1"), "name2")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("name", "name1").withColumnRenamed("sz", "sz1"), "name1")
        .join(sizes.withColumnRenamed("name", "name2").withColumnRenamed("sz", "sz2"), "name2")
        .select(
            "name1",
            "name2",
            "shared",
            "sz1",
            "sz2",
            F.expr(
                "CAST(CAST(shared AS DECIMAL(19,0)) * 1000000 AS DECIMAL(38,0))"
                " div (sz1 + sz2 - shared)"
            ).cast("long").alias("jac_micro"),
        )
        .filter(F.col("jac_micro") >= 300000)
        .orderBy(F.desc("jac_micro"), "name1", "name2")
    )
    return out


# ---------------------------------------------------------------------------
# q_ngram_coverage — test-split n-gram coverage against the train split
# ---------------------------------------------------------------------------

# the q_split_assign hash (first md5 byte of doc_id, thresholds
# 205/230 of 256) so the split here IS the declared corpus split


@register(
    "q_ngram_coverage",
    oracle=f"""
        WITH split_docs AS (
            SELECT doc_id, lang, text,
                   CASE WHEN {doc_split_byte(duck=True)} < 205 THEN 'train'
                        ELSE 'heldout' END AS split
            FROM documents
        ), grams AS (
            SELECT doc_id, lang, split,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM (
                SELECT doc_id, lang, split,
                       string_split(text, ' ') AS t
                FROM split_docs
            ), unnest(range(1, greatest(length(t) - 1, 1))) r(i)
        ), train_g AS (
            SELECT DISTINCT g FROM grams WHERE split = 'train'
        ), heldout AS (
            SELECT lang, g,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM grams WHERE split = 'heldout'
            GROUP BY lang, g
        )
        SELECT h.lang,
               CAST(SUM(h.n) AS BIGINT) AS heldout_grams,
               CAST(SUM(CASE WHEN t.g IS NOT NULL THEN h.n ELSE 0 END)
                    AS BIGINT) AS covered_grams,
               ROUND(CAST(SUM(CASE WHEN t.g IS NOT NULL THEN h.n ELSE 0 END)
                          AS DOUBLE) / CAST(SUM(h.n) AS DOUBLE), 6)
                   AS coverage
        FROM heldout h LEFT JOIN train_g t ON h.g = t.g
        GROUP BY h.lang
        ORDER BY h.lang
    """,
    tags=("llm", "text", "eval"),
)
def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT N-GRAM COVERAGE: the share of word-trigram occurrences
    in the held-out split already seen in the train split, per
    language — the LM-eval readout that predicts n-gram model
    perplexity (q_ngram_lm's unseen-gram mass) and flags languages
    whose train split is too thin BEFORE any training run. Uses the
    SAME md5 doc split as q_split_assign, so the audit matches the
    declared corpus split.

    Exactness: gram counts are exact BIGINTs; coverage is one double
    division per language, rounded once.

    Plan at 100 TB: one explode per split subplan; the train side
    collapses to DISTINCT grams (vocabulary-sized, not corpus-sized)
    before the join; the join is a hash join keyed on the gram (a
    bloom-pruned semi-join shape at scale — Spark's runtime bloom
    filter applies since the probe side is pre-aggregated). Nothing
    all-pairs; the heldout side is a (lang, gram) hash agg.
    """
    docs = load(spark, sf_dir, "documents")
    v = F.expr(doc_split_byte())
    split_docs = docs.select(
        "doc_id",
        "lang",
        F.when(v < 205, "train").otherwise("heldout").alias("split"),
        F.split("text", " ").alias("t"),
    )
    grams = split_docs.select(
        "lang",
        "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))"
            )
        ).alias("g"),
    )
    train_g = (
        grams.filter(F.col("split") == "train").select("g").distinct()
        .withColumn("seen", F.lit(1))
    )
    heldout = (
        grams.filter(F.col("split") == "heldout")
        .groupBy("lang", "g")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        heldout.join(train_g, "g", "left")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("heldout_grams"),
            F.sum(F.when(F.col("seen").isNotNull(), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("covered_grams"),
        )
        .select(
            "lang",
            "heldout_grams",
            "covered_grams",
            F.round(
                F.col("covered_grams").cast("double")
                / F.col("heldout_grams").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_zipf_fit — Zipf exponent of the corpus vocabulary (log-log OLS)
# ---------------------------------------------------------------------------

_ZIPF_K = 50

# OLS of y = ln(freq) on x = ln(rank) over the top-K vocabulary; the
# five sums fold in rank order in BOTH engines (the q_mutual_info
# sorted-fold discipline), then the fit is shared double algebra
_ZIPF_SLOPE = (
    "((kd * sxy - sx * sy) / (kd * sxx - sx * sx))"
)
_ZIPF_INTERCEPT = f"((sy - {_ZIPF_SLOPE} * sx) / kd)"
_ZIPF_R2 = (
    "(((kd * sxy - sx * sy) * (kd * sxy - sx * sy))"
    " / ((kd * sxx - sx * sx) * (kd * syy - sy * sy)))"
)


@register(
    "q_zipf_fit",
    oracle=f"""
        WITH vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents
            ) GROUP BY tok
            ORDER BY n DESC, tok
            LIMIT {_ZIPF_K}
        ), ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r, n
            FROM vocab
        ), xy AS (
            SELECT r,
                   ln(CAST(r AS DOUBLE)) AS x,
                   ln(CAST(n AS DOUBLE)) AS y
            FROM ranked
        ), folds AS (
            SELECT
                CAST(COUNT(*) AS DOUBLE) AS kd,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(list_sort(list({{'r': r, 't': x}})),
                                   s -> s.t)), (a, b) -> a + b) AS sx,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(list_sort(list({{'r': r, 't': y}})),
                                   s -> s.t)), (a, b) -> a + b) AS sy,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(list_sort(list({{'r': r, 't': x * y}})),
                                   s -> s.t)), (a, b) -> a + b) AS sxy,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(list_sort(list({{'r': r, 't': x * x}})),
                                   s -> s.t)), (a, b) -> a + b) AS sxx,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(list_sort(list({{'r': r, 't': y * y}})),
                                   s -> s.t)), (a, b) -> a + b) AS syy
            FROM xy
        )
        SELECT CAST(kd AS BIGINT) AS k,
               ROUND({_ZIPF_SLOPE}, 6) AS zipf_slope,
               ROUND({_ZIPF_INTERCEPT}, 6) AS log_c,
               ROUND({_ZIPF_R2}, 6) AS r2
        FROM folds
    """,
    tags=("llm", "text", "stats"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT of the corpus vocabulary: OLS slope of
    ln(freq) ~ ln(rank) over the top-50 tokens — natural text follows
    freq ∝ rank^s with s ≈ −1, and a corpus whose fitted slope
    deviates hard (or whose R² collapses) is template/generated text,
    the curation smell q_repetition_stats probes at the doc level and
    this key probes corpus-wide.

    Determinism: the top-K vocabulary cut is exact (count desc, token
    tie-break — q_vocab_topk's cut); ln runs once per rank/frequency
    (the q_mutual_info ln precedent); each of the five OLS sums is an
    explicit RANK-ORDERED left-fold in both engines, and the fit is
    shared double algebra on the folded sums, rounded once.

    Plan at 100 TB: the vocabulary agg is the only fact-sized work
    (explode → partial counts → TakeOrdered 50); the folds and fit run
    on 50 rows.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(_ZIPF_K)
    )
    ranked = vocab.select(
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "tok"))
        .alias("r"),
        "n",
    )
    xy = ranked.select(
        "r",
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )

    def fold(term: str, alias: str):
        return F.expr(
            f"""aggregate(
                   sort_array(collect_list(struct(r, CAST({term} AS DOUBLE)))),
                   CAST(0.0 AS DOUBLE),
                   (a, s) -> a + s.col2)"""
        ).alias(alias)

    folds = xy.agg(
        F.count("*").cast("double").alias("kd"),
        fold("x", "sx"),
        fold("y", "sy"),
        fold("x * y", "sxy"),
        fold("x * x", "sxx"),
        fold("y * y", "syy"),
    )
    return folds.select(
        F.col("kd").cast("bigint").alias("k"),
        F.expr(f"ROUND({_ZIPF_SLOPE}, 6)").alias("zipf_slope"),
        F.expr(f"ROUND({_ZIPF_INTERCEPT}, 6)").alias("log_c"),
        F.expr(f"ROUND({_ZIPF_R2}, 6)").alias("r2"),
    )
