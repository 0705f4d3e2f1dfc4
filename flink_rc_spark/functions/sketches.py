"""Sketch operators: a Count-Min Sketch over the corpus vocabulary,
built entirely from md5 arithmetic so the sketch itself — not just its
use — is deterministic and exact-oracle-checkable in DuckDB.

Why CMS here: frequency estimation over an unbounded key space is the
canonical streaming-sketch job (heavy hitters, rate limiting, join-size
estimation). A CMS is a (depth × width) grid of counters; each key
increments one counter per depth row (bucket = hash_i(key) % width),
and its estimate is the MIN over its counters — an upper bound on the
true count that two engines reproduce bit-for-bit when the hash is md5.

Scale story (100 TB): the sketch build is explode → hash agg on
(depth, bucket) — at most depth×width cells survive regardless of
input size, so the shuffle is bounded by the SKETCH size, not the
corpus (the whole point of sketching). Partial aggregation does the
per-partition sketch merge that a hand-rolled implementation would
code by hand: map-side partial counts ARE per-partition sub-sketches,
and the final aggregate is the cell-wise sum merge. The estimate probe
broadcasts 10 keys against ≤1024 cells.

Reference parity: none — beyond-reference surface (BASELINE.json);
Spark's built-in ``df.stat.countMinSketch`` exists but uses a JVM
hash family no oracle can reproduce, same reason q_dedup_minhash
avoids MLlib MinHashLSH.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import doc_hv, dsum, md5_int
from flink_rc_spark.registry import register
from flink_rc_spark.sources.tables import load

_DEPTH = 4
_WIDTH = 256


def _cms_bucket(depth: str = "depth", tok: str = "tok", duck: bool = False) -> str:
    """md5-derived uniform byte (bucket in [0, 256)) of '<depth>|<token>'
    — the sampling.py/profile.py idiom, reused as the CMS hash family."""
    return md5_int(f"{depth} || '|' || {tok}", 1, 2, duck=duck)


@register(
    "q_sketch_cms",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cells AS (
        SELECT CAST(d AS VARCHAR) AS depth, tok
        FROM toks, range({_DEPTH}) r(d)
    ),
    sketch AS (
        SELECT depth, {_cms_bucket(duck=True)} AS bucket, COUNT(*) AS c
        FROM cells
        GROUP BY depth, bucket
    ),
    probes AS (
        SELECT tok, COUNT(*) AS true_n
        FROM toks
        GROUP BY tok
        ORDER BY true_n DESC, tok
        LIMIT 10
    ),
    probe_cells AS (
        SELECT p.tok, p.true_n, CAST(d AS VARCHAR) AS depth
        FROM probes p, range({_DEPTH}) r(d)
    )
    SELECT pc.tok, pc.true_n, MIN(s.c) AS cms_estimate
    FROM probe_cells pc
    JOIN sketch s
      ON s.depth = pc.depth
     AND s.bucket = {_cms_bucket("pc.depth", "pc.tok", duck=True)}
    GROUP BY pc.tok, pc.true_n
    ORDER BY true_n DESC, tok
    """,
    tags=("sketch", "llm"),
)
def q_sketch_cms(spark, sf_dir):
    """Count-Min Sketch build + frequency estimation in one declared
    plan: a {_DEPTH}x{_WIDTH} sketch of corpus token occurrences, then
    the CMS estimate (min over depth rows) for the top-10 true-frequency
    tokens. The estimate is provably >= the true count (collisions only
    inflate), which tests/test_llm.py asserts alongside the oracle hash.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    cells = toks.select(
        F.explode(
            F.array(*[F.lit(str(d)) for d in range(_DEPTH)])
        ).alias("depth"),
        "tok",
    )
    sketch = (
        cells.withColumn("bucket", F.expr(_cms_bucket()))
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("c"))
    )
    probes = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.desc("true_n"), "tok")
        .limit(10)
    )
    probe_cells = probes.select(
        "tok",
        "true_n",
        F.explode(
            F.array(*[F.lit(str(d)) for d in range(_DEPTH)])
        ).alias("depth"),
    ).withColumn("bucket", F.expr(_cms_bucket()))
    return (
        probe_cells.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("tok", "true_n")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy(F.desc("true_n"), "tok")
    )


# ---------------------------------------------------------------------------
# q_sketch_hll — HyperLogLog with an EXACT oracle
# ---------------------------------------------------------------------------

_HLL_P = 8          # 2^8 = 256 buckets
_HLL_M = 1 << _HLL_P
# 40-bit rho window taken from md5 hex chars 3..12 (chars 1-2 are the
# bucket); rho = leading_zeros + 1 in [1, 41]
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
# the estimate's numerator alpha * m^2 * 2^41 is computed ONCE here and
# inlined as the identical double literal in both engines — in-engine
# constant folding would use engine-specific types (DuckDB picked
# DECIMAL and overflowed)
_HLL_NUMERATOR = _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(1 << 41)


def hll_bucket(key: str, duck: bool = False) -> str:
    """HLL bucket of the string ``key``: its first two md5 hex digits."""
    return md5_int(key, 1, 2, duck=duck)


def hll_w(key: str, duck: bool = False) -> str:
    """The 40-bit rho window of the string ``key``: md5 hex digits 3..12."""
    return md5_int(key, 3, 10, duck=duck)


def hll_rho(w: str) -> str:
    """HLL rho of the window value ``w``: leading zeros + 1, in [1, 41]
    (INT; the same text in both dialects). ``w`` is read twice:
    q_sketch_hll projects ``hll_w`` as a column first, because with it
    inlined the key took 1.52-1.74 s against 1.19-1.47 s (sf0.1, 4
    cores, 4 runs each)."""
    return f"CASE WHEN {w} = 0 THEN 41 ELSE 40 - length(bin({w})) + 1 END"


# The estimate row of a frame of `register` values: empty buckets,
# register sum, the harmonic denominator SUM(2^(41-r)) scaled to
# integers (float powers would sum in engine-specific order; bigints
# cannot drift) and one double division of exactly-agreed numbers.
HLL_ESTIMATE_DUCK = f"""
           CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS empty_buckets,
           CAST(SUM(register) AS BIGINT) AS register_sum,
           CAST(SUM(CAST(2 AS BIGINT) ** (41 - register)) AS BIGINT)
               AS scaled_power_sum,
           CAST({_HLL_NUMERATOR!r} AS DOUBLE)
               / CAST(SUM(CAST(2 AS BIGINT) ** (41 - register)) AS DOUBLE)
               AS hll_estimate
"""


def hll_estimate() -> list:
    """Spark twin of ``HLL_ESTIMATE_DUCK``: the four aggregate columns."""
    scaled = F.sum(F.expr("CAST(pow(2, 41 - register) AS BIGINT)"))
    return [
        F.sum(F.when(F.col("register") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("empty_buckets"),
        F.sum("register").cast("bigint").alias("register_sum"),
        scaled.cast("bigint").alias("scaled_power_sum"),
        (F.lit(_HLL_NUMERATOR).cast("double") / scaled.cast("double")).alias(
            "hll_estimate"
        ),
    ]


@register(
    "q_sketch_hll",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cells AS (
        SELECT {hll_bucket("tok", duck=True)} AS bucket,
               {hll_w("tok", duck=True)} AS w
        FROM toks
    ),
    rho AS (SELECT bucket, {hll_rho("w")} AS r FROM cells),
    regs AS (
        SELECT g.bucket,
               CAST(COALESCE(MAX(rho.r), 0) AS BIGINT) AS register
        FROM range({_HLL_M}) g(bucket)
        LEFT JOIN rho ON rho.bucket = g.bucket
        GROUP BY g.bucket
    )
    SELECT {HLL_ESTIMATE_DUCK}
    FROM regs
    """,
    tags=("sketch", "llm"),
)
def q_sketch_hll(spark, sf_dir):
    """HyperLogLog distinct-token estimator with an EXACT oracle — the
    twin of q_agg_approx (whose JVM HLL++ sketch no oracle can
    reproduce, hence rows-only): md5-derived buckets (p=8), rho from a
    40-bit window via integer/string arithmetic, and the harmonic-mean
    denominator summed as SCALED INTEGERS (sum of 2^(41-r) as bigint) so
    no float-summation order exists to drift. The raw estimate is then
    one double division of two exactly-agreed numbers. Accuracy
    (~6.5% rsd at p=8) is asserted against the true distinct count in
    tests; correctness of every register is what the driver hashes.

    Scale: explode -> 256-cell hash aggregate (partial agg = per-
    partition sub-sketch merge, same shape as the CMS above); the
    register table never exceeds 256 rows regardless of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    cells = toks.select(
        F.expr(hll_bucket("tok")).alias("bucket"),
        F.expr(hll_w("tok")).alias("w"),
    )
    rho = cells.select("bucket", F.expr(hll_rho("w")).alias("r"))
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    regs = (
        spine.join(rho, "bucket", "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.max("r"), F.lit(0)).cast("bigint").alias("register"))
    )
    return regs.agg(*hll_estimate())


# ---------------------------------------------------------------------------
# q_sketch_bloom — Bloom filter with an EXACT oracle
# ---------------------------------------------------------------------------

_BLOOM_BITS = 2048   # m
_BLOOM_K = 3         # hash functions
# 32-bit words stored in BIGINT: shiftleft(1, bit<=31) stays positive in
# both engines (a 64-bit word would need 1<<63, which wraps the sign
# bit differently across engines' typing rules)
_BLOOM_WORD_BITS = 32


def _bloom_pos(x: str, i: str = "i", duck: bool = False) -> str:
    """md5-derived position in [0, 2048) of the string ``x`` under hash
    ``i``: the first 3 hex chars of md5('<i>|<x>')."""
    key = f"{i} || '|' || {x}"
    return f"({md5_int(key, 1, 3, duck=duck)} % {_BLOOM_BITS})"


@register(
    "q_sketch_bloom",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE lang = 'en'
    ),
    build_cells AS (
        SELECT CAST(i AS VARCHAR) AS i, tok
        FROM build, range({_BLOOM_K}) r(i)
    ),
    sketch AS (
        SELECT {_bloom_pos("tok", duck=True)} // {_BLOOM_WORD_BITS} AS word,
               bit_or((1::BIGINT)
                      << ({_bloom_pos("tok", duck=True)} % {_BLOOM_WORD_BITS}))
                   AS word_val
        FROM build_cells
        GROUP BY word
    ),
    non_en_top AS (
        SELECT tok FROM (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE lang <> 'en'
        ) GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 10
    ),
    probes AS (
        SELECT tok FROM non_en_top
        UNION ALL
        SELECT tok || '_absent' FROM non_en_top
    ),
    probe_cells AS (
        SELECT p.tok, CAST(i AS VARCHAR) AS i
        FROM probes p, range({_BLOOM_K}) r(i)
    ),
    hits AS (
        SELECT pc.tok,
               bool_and(
                   COALESCE(s.word_val, 0)
                   & ((1::BIGINT) << ({_bloom_pos("pc.tok", duck=True)}
                                      % {_BLOOM_WORD_BITS})) <> 0
               ) AS bloom_hit
        FROM probe_cells pc
        LEFT JOIN sketch s
          ON s.word = {_bloom_pos("pc.tok", duck=True)} // {_BLOOM_WORD_BITS}
        GROUP BY pc.tok
    )
    SELECT h.tok,
           EXISTS (SELECT 1 FROM build b WHERE b.tok = h.tok) AS truly_in,
           h.bloom_hit
    FROM hits h
    ORDER BY truly_in DESC, tok
    """,
    tags=("sketch", "llm"),
)
def q_sketch_bloom(spark, sf_dir):
    """Bloom-filter build + membership probe in one declared plan: a
    2048-bit / 3-hash filter over the distinct English-corpus
    vocabulary, probed with the top-10 non-English tokens (mixed
    membership) and 10 guaranteed-absent variants. No false negatives
    by construction (asserted in tests); false positives are
    deterministic here because the md5 hash family is.

    This is THE 100 TB join-pruning primitive: build once over the
    small side's keys (the filter is  {_BLOOM_BITS // _BLOOM_WORD_BITS}
    words regardless of input size — a bounded hash agg whose partial
    aggregation does the per-partition sub-filter OR-merge), broadcast
    it, and drop fact rows before the shuffle. The probe side here
    joins the ≤64-row word table and AND-tests bits entirely JVM-side.
    """
    docs = load(spark, sf_dir, "documents")
    build = (
        docs.filter(F.col("lang") == "en")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    ks = F.array(*[F.lit(str(i)) for i in range(_BLOOM_K)])
    build_cells = build.select(F.explode(ks).alias("i"), "tok").withColumn(
        "pos", F.expr(_bloom_pos("tok"))
    )
    sketch = (
        build_cells.select(
            (F.col("pos") / _BLOOM_WORD_BITS).cast("bigint").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
            ).alias("bitval"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bitval)").alias("word_val"))
    )
    non_en_top = (
        docs.filter(F.col("lang") != "en")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(10)
        .select("tok")
    )
    probes = non_en_top.unionByName(
        non_en_top.select(F.concat(F.col("tok"), F.lit("_absent")).alias("tok"))
    )
    probe_cells = (
        probes.select("tok", F.explode(ks).alias("i"))
        .withColumn("pos", F.expr(_bloom_pos("tok")))
        .withColumn("word", (F.col("pos") / _BLOOM_WORD_BITS).cast("bigint"))
        .withColumn(
            "bitval",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
            ),
        )
    )
    hits = (
        probe_cells.join(F.broadcast(sketch), "word", "left")
        .withColumn(
            "hit",
            (F.coalesce(F.col("word_val"), F.lit(0)).bitwiseAND(F.col("bitval")))
            != 0,
        )
        .groupBy("tok")
        .agg(F.expr("bool_and(hit)").alias("bloom_hit"))
    )
    membership = build.withColumn("truly_in", F.lit(True))
    return (
        hits.join(F.broadcast(membership), "tok", "left")
        .select(
            "tok",
            F.coalesce(F.col("truly_in"), F.lit(False)).alias("truly_in"),
            "bloom_hit",
        )
        .orderBy(F.desc("truly_in"), "tok")
    )


@register(
    "q_bloom_prune_join",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        WHERE c_acctbal > 9500
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("sketch", "join"),
)
def q_bloom_prune_join(spark, sf_dir):
    """Bloom-filter join pruning END-TO-END: the oracle is the PLAIN
    join — the declared plan builds a Bloom filter over the small
    side's keys, pre-filters the fact with it as a pure scan-side
    expression, then runs the real join on the survivors. The driver
    hash therefore PROVES the runtime filter dropped no qualifying row
    (false positives are removed by the join itself; false negatives
    would break the hash).

    This is the pattern engines ship as "runtime filters" / dynamic
    partition pruning: at 100 TB the 64-word filter (built by a
    bounded bit_or aggregate, collected — 512 bytes of driver state,
    the IVF-centroid precedent) reaches every fact task as a literal,
    so fact rows die BEFORE the join shuffle instead of after it. With
    ~0.4% qualifying customers, the shuffle carries ~1/250th of the
    fact.
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    ks = F.array(*[F.lit(str(i)) for i in range(_BLOOM_K)])
    build_cells = (
        cust.select(F.col("c_custkey").alias("k"))
        .select(F.explode(ks).alias("i"), "k")
        .withColumn("pos", F.expr(_bloom_pos("CAST(k AS STRING)")))
    )
    words = (
        build_cells.select(
            (F.col("pos") / _BLOOM_WORD_BITS).cast("int").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
            ).alias("bitval"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bitval)").alias("word_val"))
        .collect()
    )
    # 512 bytes of filter state inlined as a literal array — the
    # "runtime filter" that reaches the scan as a plain expression
    word_arr = [0] * (_BLOOM_BITS // _BLOOM_WORD_BITS)
    for r in words:
        word_arr[r.word] = r.word_val
    lit_words = F.array(*[F.lit(w).cast("bigint") for w in word_arr])
    orders = load(spark, sf_dir, "orders").withColumn("_bw", lit_words)
    probe = orders
    for i in range(_BLOOM_K):
        pos = _bloom_pos("CAST(o_custkey AS STRING)", i=f"'{i}'")
        probe = probe.filter(
            F.expr(
                f"(element_at(_bw, CAST(({pos}) / {_BLOOM_WORD_BITS} AS INT) + 1)"
                f" & shiftleft(CAST(1 AS BIGINT),"
                f" CAST(({pos}) % {_BLOOM_WORD_BITS} AS INT))) != 0"
            )
        )
    return (
        probe.join(F.broadcast(cust), probe.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q_sketch_kmv_setops — KMV sketch ALGEBRA: union / intersection estimates
# ---------------------------------------------------------------------------

_KMV_K = 64
_POW40 = 1099511627776  # 2^40; hv = first 10 md5 hex chars as bigint

# est(S) from a KMV sketch: exact when the set is smaller than k,
# else (k-1) / frac(h_k) — one double division of exactly-agreed ints
_EST_DUCK = (
    "CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
    " ELSE ({k} - 1.0) * {p40} / {arr}[{k}] END"
)
_EST_SPARK = (
    "CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
    " ELSE ({k} - 1.0) * {p40} / element_at({arr}, {k}) END"
)


@register(
    "q_sketch_kmv_setops",
    oracle=f"""
    WITH hv AS (
        SELECT doc_id, lang, source,
               {doc_hv(duck=True)} AS h
        FROM documents
    ),
    a AS (SELECT h FROM hv WHERE lang = 'en'),
    b AS (SELECT h FROM hv WHERE source LIKE 'src1%'),
    s AS (
        SELECT (SELECT COUNT(*) FROM a) AS n_a,
               (SELECT COUNT(*) FROM b) AS n_b,
               (SELECT COUNT(*) FROM (SELECT h FROM a UNION SELECT h FROM b))
                   AS n_union_exact,
               (SELECT COUNT(*) FROM (SELECT h FROM a INTERSECT SELECT h FROM b))
                   AS n_inter_exact,
               (SELECT list_sort(list(h ORDER BY h))[1:{_KMV_K}] FROM a) AS ka,
               (SELECT list_sort(list(h ORDER BY h))[1:{_KMV_K}] FROM b) AS kb
    ),
    m AS (
        SELECT *, list_sort(list_distinct(ka || kb))[1:{_KMV_K}] AS ku FROM s
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(n_union_exact AS BIGINT) AS n_union_exact,
           CAST(n_inter_exact AS BIGINT) AS n_inter_exact,
           ROUND({_EST_DUCK.format(n="n_a", k=_KMV_K, p40=_POW40, arr="ka")}, 4)
               AS est_a,
           ROUND({_EST_DUCK.format(n="n_b", k=_KMV_K, p40=_POW40, arr="kb")}, 4)
               AS est_b,
           ROUND({_EST_DUCK.format(n="n_union_exact", k=_KMV_K, p40=_POW40, arr="ku")}, 4)
               AS est_union,
           ROUND(CAST(len(list_filter(ku, x -> list_contains(ka, x)
                                             AND list_contains(kb, x))) AS DOUBLE)
                 / len(ku)
                 * {_EST_DUCK.format(n="n_union_exact", k=_KMV_K, p40=_POW40, arr="ku")},
                 4) AS est_inter
    FROM m
    """,
    tags=("sketch", "agg"),
)
def q_sketch_kmv_setops(spark, sf_dir):
    """KMV (bottom-k) sketch ALGEBRA — the property that makes
    sketches a 100 TB tool at all: two independently-built k-minimum-
    values sketches (set A = English docs, set B = the src1* sources)
    MERGE into the union's sketch by just taking the bottom-k of
    their value union, and the intersection estimate falls out of the
    merged sketch (ρ·est_union, ρ = the fraction of union-sketch
    values present in both input sketches) — no second pass over the
    data. Output carries the exact cardinalities beside every
    estimate so the error is visible in the hashed result itself.

    Exactness: the md5-derived 40-bit hash values are integers both
    engines agree on bit-for-bit; each estimate is ONE double
    division ((k−1)·2⁴⁰ / h_k) of exactly-agreed integers, rounded
    once — deterministic, hence a hashable oracle for an
    "approximate" algorithm (the q_sketch_hll playbook applied to
    sketch MERGE semantics). 100 TB: each sketch is a per-partition
    bottom-k (TakeOrdered — k values per partition shuffle, not
    rows); merges are associative, so sketches roll up region →
    datacenter → global exactly like the partial aggregation tree.
    """
    docs = load(spark, sf_dir, "documents")
    hv = docs.select(
        "lang",
        "source",
        F.expr(doc_hv()).alias("h"),
    )
    a = hv.filter(F.col("lang") == "en").select("h")
    b = hv.filter(F.col("source").like("src1%")).select("h")

    def sketch(df, name):
        return (
            df.orderBy("h")
            .limit(_KMV_K)
            .agg(F.sort_array(F.collect_list("h")).alias(name))
        )

    counts = (
        a.agg(F.count("*").alias("n_a"))
        .crossJoin(b.agg(F.count("*").alias("n_b")))
        .crossJoin(
            a.unionByName(b).distinct().agg(F.count("*").alias("n_union_exact"))
        )
        .crossJoin(
            a.intersect(b).agg(F.count("*").alias("n_inter_exact"))
        )
    )
    row = (
        counts.crossJoin(sketch(a, "ka"))
        .crossJoin(sketch(b, "kb"))
        .withColumn(
            "ku",
            F.slice(
                F.array_sort(F.array_distinct(F.concat("ka", "kb"))), 1, _KMV_K
            ),
        )
    )
    est_a = F.expr(_EST_SPARK.format(n="n_a", k=_KMV_K, p40=_POW40, arr="ka"))
    est_b = F.expr(_EST_SPARK.format(n="n_b", k=_KMV_K, p40=_POW40, arr="kb"))
    est_u = F.expr(
        _EST_SPARK.format(n="n_union_exact", k=_KMV_K, p40=_POW40, arr="ku")
    )
    rho = F.expr(
        "CAST(size(filter(ku, x -> array_contains(ka, x)"
        " AND array_contains(kb, x))) AS DOUBLE) / size(ku)"
    )
    return row.select(
        F.lit(_KMV_K).cast("bigint").alias("k"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_union_exact").cast("bigint").alias("n_union_exact"),
        F.col("n_inter_exact").cast("bigint").alias("n_inter_exact"),
        F.round(est_a, 4).alias("est_a"),
        F.round(est_b, 4).alias("est_b"),
        F.round(est_u, 4).alias("est_union"),
        F.round(rho * est_u, 4).alias("est_inter"),
    )


# ---------------------------------------------------------------------------
# q_sketch_hll_merge — per-source sub-sketches + register-max merge
# ---------------------------------------------------------------------------

@register(
    "q_sketch_hll_merge",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    rho AS (
        SELECT source,
               {hll_bucket("tok", duck=True)} AS bucket,
               {hll_rho(hll_w("tok", duck=True))} AS r
        FROM toks
    ),
    srcs AS (SELECT DISTINCT source FROM toks),
    grid AS (SELECT s.source, g.bucket
             FROM srcs s, range({_HLL_M}) g(bucket)),
    per_src AS (
        SELECT g.source, g.bucket,
               CAST(COALESCE(MAX(rho.r), 0) AS BIGINT) AS register
        FROM grid g
        LEFT JOIN rho ON rho.source = g.source AND rho.bucket = g.bucket
        GROUP BY g.source, g.bucket
    ),
    merged AS (
        SELECT bucket, CAST(MAX(register) AS BIGINT) AS register
        FROM per_src GROUP BY bucket
    ),
    src_rows AS (
        SELECT 'source:' || source AS scope, {HLL_ESTIMATE_DUCK}
        FROM per_src GROUP BY source
    ),
    merged_row AS (
        SELECT 'zz_merged' AS scope, {HLL_ESTIMATE_DUCK} FROM merged
    )
    SELECT * FROM src_rows
    UNION ALL
    SELECT * FROM merged_row
    ORDER BY scope
    """,
    tags=("sketch", "llm"),
)
def q_sketch_hll_merge(spark, sf_dir):
    """HyperLogLog MERGEABILITY end-to-end — the property that makes
    sketches the 100 TB cardinality answer: build an independent
    256-register HLL per document source (each a shard's sub-sketch),
    then merge by register-wise MAX and estimate the GLOBAL distinct
    token count from the merged sketch. Because max-merge is exactly
    the lossless HLL union, the merged registers equal the
    direct-build registers bit-for-bit — tests assert the merged row
    equals q_sketch_hll's direct estimate EXACTLY, which is the
    distributed claim ("merge per-shard sketches, lose nothing")
    proven by hash rather than approximately.

    Per-source rows double as the per-shard cardinality readout
    (which source contributes the vocabulary), the per-tenant
    dashboard sketches serve in production.

    Scale: per-source sub-sketches are ONE hash agg keyed
    (source, bucket) — |sources| x 256 cells regardless of corpus
    size; the merge is a 256-row MAX agg. This is literally Spark's
    partial-aggregation shape materialized as a declared query.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    rho = toks.select(
        "source",
        F.expr(hll_bucket("tok")).alias("bucket"),
        F.expr(hll_rho(hll_w("tok"))).alias("r"),
    )
    srcs = toks.select("source").distinct()
    spine = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    grid = srcs.crossJoin(F.broadcast(spine))
    per_src = (
        grid.join(rho, ["source", "bucket"], "left")
        .groupBy("source", "bucket")
        .agg(F.coalesce(F.max("r"), F.lit(0)).cast("bigint").alias("register"))
    )
    merged = per_src.groupBy("bucket").agg(
        F.max("register").cast("bigint").alias("register")
    )

    src_rows = (
        per_src.groupBy("source")
        .agg(*hll_estimate())
        .withColumn("source", F.concat(F.lit("source:"), F.col("source")))
        .withColumnRenamed("source", "scope")
    )
    merged_row = merged.agg(*hll_estimate()).select(
        F.lit("zz_merged").alias("scope"), "*"
    )
    return src_rows.unionByName(merged_row).orderBy("scope")


# ---------------------------------------------------------------------------
# q_bitmap_distinct — exact distinct counting via mergeable bitmap index
# ---------------------------------------------------------------------------


@register(
    "q_bitmap_distinct",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT ((user_id - 1) // 32768) + 1) AS BIGINT)
                   AS n_buckets,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
        FROM events
        WHERE user_id >= 1
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("sketch", "agg"),
)
def q_bitmap_distinct(spark, sf_dir):
    """EXACT distinct-user counting through Spark's roaring-style
    BITMAP INDEX functions (bitmap_bucket_number / bitmap_bit_position
    / bitmap_construct_agg / bitmap_count) — the mergeable EXACT
    sibling of q_sketch_hll: each (event_type, bucket) holds a 32768-bit
    bitmap (4 KB) whose popcount is the bucket's exact distinct count;
    bucket bitmaps OR-merge losslessly across shards, so pre-computed
    per-partition bitmaps roll up to exact global distincts without
    re-scanning the fact — the Delta/ClickHouse materialized
    distinct-count pattern.

    Exactness: Spark's bucket math is bucket = (x−1) div 32768 + 1,
    bit = (x−1) mod 32768 for x ≥ 1 (probed and pinned); the oracle
    spells the identical integer bucketing and COUNT(DISTINCT). The
    audit filter user_id >= 1 matches the function's defined domain
    (id 0 would alias into bucket 0's bit 0).

    Plan at 100 TB: ONE hash agg keyed (event_type, bucket) —
    map-side combine ORs bitmaps before the shuffle, so at most
    |types| x |buckets| 4 KB payloads cross the wire regardless of
    event volume; the per-type rollup sums bounded popcounts. This is
    the q_sketch_hll_merge shape with exact bits instead of registers.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") >= 1)
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("cnt")
        )
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("cnt").cast("bigint").alias("distinct_users"),
        )
        .orderBy("event_type")
    )
