"""Embedding vectors as SQL text, one spelling per engine.

Every embedding key reads its vectors and folds its dot products,
norms and squared distances through the renderers here, Spark by
default and DuckDB with ``duck=True``, in the style of
`functions/exact.py::hex_int`. A key's ranking can only be reproduced
by its oracle if the number that ranks it is the same bits in both
engines, so the rule is written once:

- **Read.** ``as_double`` casts each float32 coordinate of
  ``embedding`` to DOUBLE (exact). ``on_grid(offset)`` maps it to the
  BIGINT round((x + offset) * 1e6); the same IEEE double is rounded
  from the same float32 in both engines, so the grid is identical.
  offset 2 makes every coordinate positive (k-means, PCA, drift,
  coreset, IVF-PQ); offset 0 keeps the sign (MaxSim).
- **Fold.** ``dot``, ``sq_dist`` and ``norm`` sum their per-index
  terms left to right in index order: (((t1 + t2) + t3) + ...). IEEE
  addition is deterministic for a fixed order, so both engines produce
  the same double. Spark's ``aggregate`` starts from ``0d``, and
  0.0 + t1 == t1 exactly. Integer folds (``grid=True``) are exact in
  any order; DuckDB's ``list_sum`` returns HUGEINT, which the oracles
  cast to BIGINT.

How each engine spells a fold, read from the arguments alone:

- DuckDB: ``list_reduce(list_transform(range(1, n+1), i -> term),
  (acc, x) -> acc + x)`` for doubles, ``list_sum(...)`` for integers.
- Spark, a fold over all ``DIM`` coordinates from index 1: the
  higher-order ``aggregate(zip_with(a, b, (x, y) -> term), 0d|0L,
  (acc, x) -> acc + x)`` (``transform`` for the one-column norm).
- Spark, a fold over fewer coordinates (a prefix, a PQ subspace slice,
  a MaxSim token at an offset): flat ``element_at`` terms joined by +.

Why two Spark forms (measured on a 4-core box with noop writes): the
r10 blanket unroll of every vector kernel into flat arithmetic was
built on a count()-probe artifact. The r11 A/Bs found a tree-size
threshold: 64-term flat trees lost everywhere (q_sim_cosine_topk 2.5
vs 1.7 s, q_kmeans 3.1 vs 2.0 s, q_ivf_pq_search 3.4 vs 2.3 s,
semdedup pairs 18 vs 3.3 s at sf1): the generated method blows the
enclosing stage's whole-stage-codegen budget, an interpreted 64-node
tree is slower than the interpreted fold, and each build pays the big
tree's Catalyst and Janino cost. Small trees stay under the budget and
win (q_sim_pq_topk 2.0 s flat vs 3.0 s fold, q_embedding_pq 1.1 vs
1.9 s); folding the 8-term PQ slices as zip_with over slice() lost
again (q_embedding_pq 2.2-2.7 vs 1.0-1.3 s at sf0.1). For the
whole-array fold, zip_with beats indexing through sequence: a scratch
A/B took a median 17.9 s against 29.8 s for the dot over 2.25M pairs
and 25.3 s against 45.6 s for the squared distance over 1M pairs,
with the same bits, and q_embedding_rvq's exec CPU halved at sf0.1
when its folds moved to zip_with. A caller that puts many flat folds
in one expression must keep the generated method small: MaxSim's 16
token dots spelled flat side by side made a 28 KB method, past the
JVM's 8000-byte JIT limit, and ran 25% slower at sf1, so MaxSim maps
its doc tokens through a lambda (BASELINE.md, "One embedding-vector
renderer per engine"). The md5 hyperplane dot
(``md5_dot``) is the one 64-term flat tree: its weights are literals
that constant-fold, which measured 11.5 s -> ~1 s at sf0.1 against
deriving them per row.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_rc_spark.functions.exact import md5_int
from flink_rc_spark.sources.tables import load

DIM = 64  # embedding width


def as_double(*, duck: bool = False) -> str:
    """The ``embedding`` column as an array of DOUBLE."""
    fn = "list_transform" if duck else "transform"
    return f"{fn}(embedding, x -> CAST(x AS DOUBLE))"


def on_grid(offset: int, *, duck: bool = False) -> str:
    """The ``embedding`` column on the 1e6 integer grid: each
    coordinate x becomes the BIGINT round((x + offset) * 1e6)."""
    x = "CAST(x AS DOUBLE)"
    if offset:
        x = f"({x} + {offset}.0{'' if duck else 'D'})"
    fn = "list_transform" if duck else "transform"
    return f"{fn}(embedding, x -> CAST(ROUND({x} * 1000000) AS BIGINT))"


def _fold(term, a: str, b: str, n: int, at, grid: bool, duck: bool) -> str:
    """Sum of ``term(a[k], b[k])`` in index order over the ``n``
    coordinates after offset ``at``: None, an int or an SQL expression
    (e.g. ``s * 8``), or an (a, b) pair of those when the two sides
    read different slices."""
    ats = at if isinstance(at, tuple) else (at, at)
    if duck:
        a_i, b_i = (f"{c}[{o} + i]" if o else f"{c}[i]" for c, o in zip((a, b), ats))
        terms = f"list_transform(range(1, {n + 1}), i -> {term(a_i, b_i)})"
        if grid:
            return f"list_sum({terms})"
        return f"list_reduce({terms}, (acc, x) -> acc + x)"
    if n == DIM and not any(ats):
        hof = (
            f"transform({a}, x -> {term('x', 'x')})" if a == b
            else f"zip_with({a}, {b}, (x, y) -> {term('x', 'y')})"
        )
        return f"aggregate({hof}, {'0L' if grid else '0d'}, (acc, x) -> acc + x)"

    def el(c: str, o, k: int) -> str:
        if not o:
            return f"element_at({c}, {k})"
        return f"element_at({c}, {o + k if isinstance(o, int) else f'{o} + {k}'})"

    return " + ".join(
        f"({term(el(a, ats[0], k), el(b, ats[1], k))})" for k in range(1, n + 1)
    )


def dot(a: str, b: str, n: int = DIM, at=None, *, grid: bool = False,
        duck: bool = False) -> str:
    """<a, b> over ``n`` coordinates after offset ``at`` (see `_fold`)."""
    return _fold(lambda x, y: f"{x} * {y}", a, b, n, at, grid, duck)


def sq_dist(a: str, b: str, n: int = DIM, at=None, *, grid: bool = False,
            duck: bool = False) -> str:
    """|a - b|^2 over ``n`` coordinates after offset ``at``. The
    difference is spelled twice: DuckDB lambdas have no LET, and the
    engines' power operators differ."""
    return _fold(lambda x, y: f"({x} - {y}) * ({x} - {y})", a, b, n, at, grid, duck)


def norm(a: str, n: int = DIM, *, duck: bool = False) -> str:
    """sqrt(<a, a>) over the first ``n`` coordinates."""
    return f"sqrt({dot(a, a, n, duck=duck)})"


def cosine(*, duck: bool = False) -> str:
    """The cosine of a pair of `vectors` rows: the columns (ea, na) and
    (eb, nb) in Spark, the rows ``a`` and ``b`` of a `vectors_cte` in
    DuckDB."""
    if duck:
        return f"{dot('a.e', 'b.e', duck=True)} / (a.nrm * b.nrm)"
    return f"{dot('ea', 'eb')} / (na * nb)"


def vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, e, nrm): every embedding as DOUBLE with its
    norm."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(as_double()).alias("e")
    ).withColumn("nrm", F.expr(norm("e")))


def vectors_cte(name: str = "n", where: str = "", label: bool = False) -> str:
    """DuckDB twin of `vectors`: the CTE ``name`` (vec_id[, label], e,
    nrm) over the embeddings matching ``where``."""
    cols = "vec_id, label" if label else "vec_id"
    cond = f" WHERE {where}" if where else ""
    return f"""{name} AS (
        SELECT {cols}, e, {norm('e', duck=True)} AS nrm
        FROM (SELECT {cols}, {as_double(duck=True)} AS e FROM embeddings{cond})
    )"""


# ---------------------------------------------------------------------------
# md5 weight vectors: w_i = (the first hex digit of md5(prefix || i)) - 7.5,
# an exact half in [-7.5, 7.5] that both engines derive without literal
# blobs. Hyperplane j of the LSH keys uses the prefix '<j>_'.
# ---------------------------------------------------------------------------


def md5_weight(key: str) -> float:
    """The weight of ``key`` in Python: md5's first hex digit - 7.5."""
    return int(hashlib.md5(key.encode()).hexdigest()[0], 16) - 7.5


def _weight_sql(prefix_sql: str) -> str:
    key = f"{prefix_sql} || CAST(i AS STRING)"
    return f"({md5_int(key, 1, 1, duck=True)} - 7.5)"


def md5_dot(prefix: str, *, duck: bool = False) -> str:
    """<w, e> in index order for the weights keyed ``prefix || i``. In
    Spark ``prefix`` is the key text and the weights are inlined as
    literals; in DuckDB it is an SQL string expression (it may read a
    lambda variable) and the weights are derived per row."""
    if duck:
        return (
            f"list_reduce(list_transform(range(1, {DIM + 1}), i ->"
            f" {_weight_sql(prefix)} * e[i]), (acc, x) -> acc + x)"
        )
    return " + ".join(
        f"({md5_weight(f'{prefix}{i}')}) * element_at(e, {i})"
        for i in range(1, DIM + 1)
    )


def _plane_prefix(j, duck: bool) -> str:
    return f"CAST({j} AS STRING) || '_'" if duck else f"{j}_"


def plane_bit(j, *, duck: bool = False) -> str:
    """1 when ``e`` lies on the non-negative side of md5 hyperplane
    ``j``, else 0. ``j`` is an int in Spark and an SQL integer
    expression in DuckDB."""
    dot_j = md5_dot(_plane_prefix(j, duck), duck=duck)
    return f"CASE WHEN {dot_j} >= 0 THEN 1 ELSE 0 END"


def plane_weight_sql(j: str) -> str:
    """DuckDB: coordinate ``i`` of hyperplane ``j`` (both SQL)."""
    return _weight_sql(_plane_prefix(j, True))
