"""Order-independent (exact) float aggregation helpers.

The driver's t2 gate hash-matches values against a DuckDB oracle.
Double sums are order-dependent (Spark's partial/final aggregation vs
DuckDB's sequential sum differ in the last ulps), so every money/qty
aggregate is routed through DECIMAL: decimal arithmetic is exact and
therefore order-independent, both engines compute the *same* decimal,
and casting that decimal to DOUBLE at the end is deterministic.

The matching oracle-side spelling is
``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)``.

Precision choices keep intermediate widths ≤ 38 in BOTH engines
(Spark mult: p1+p2+1; DuckDB mult: w1+w2): money columns fit in
DECIMAL(12,2), so a three-factor product like
price*(1-disc)*(1+tax) lands at scale 6 / width ≤ 38 exactly.

At 100 TB this costs nothing extra: decimal(≤18,2) aggregation is
still codegen'd JVM-side with partial aggregation (map-side combine);
only the 128-bit path (>18 digits) is marginally slower than double.

Two more values are spelled here once, for both engines:

- cents: ``CENTS_SQL``, the DECIMAL cast that rounds half away from
  zero in both engines;
- md5-derived integers: ``hex_int``/``md5_int`` render the BIGINT
  value of ``n`` hex digits (1 <= n <= 15; 16 would overflow BIGINT)
  as ``CAST(conv(substr(h, s, n), 16, 10) AS BIGINT)`` in Spark and
  ``('0x' || substr(h, s, n))::BIGINT`` in DuckDB. Hash buckets,
  sampling thresholds, bootstrap weights and sketch positions all read
  their integers through them, and call sites spell the hashed key
  once, in the subset both engines parse:
  ``'u' || CAST(user_id AS STRING)`` (``||``, not ``concat``: on a
  NULL argument Spark's ``concat`` returns NULL, DuckDB's skips it).
  The document key is ``DOC_KEY``; the vector seed keys are ``seed_key``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Integer cents of the 2-decimal double ``value``, spelled exactly as
# the oracles spell it: the DECIMAL cast rounds half away from zero in
# both engines (numpy's np.round rounds half to even, so exact half
# cents would disagree). Kernels that fold cents in Python read a
# column projected in the JVM with F.expr(CENTS_SQL).
CENTS_SQL = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


def hex_int(hex_sql: str, start: int | str, n: int, *, duck: bool = False) -> str:
    """SQL for the BIGINT value of ``n`` hex digits of the hex-string
    expression ``hex_sql``, read from 1-based position ``start`` (an
    int or an SQL expression, e.g. ``2*i-1`` inside a DuckDB lambda).
    Spark by default, DuckDB with ``duck=True``; ``hex_sql`` is
    evaluated once either way."""
    if not isinstance(n, int) or not 1 <= n <= 15:
        raise ValueError(
            f"hex_int: n={n!r} is outside 1..15 (16 hex digits overflow BIGINT)"
        )
    digits = f"substr({hex_sql}, {start}, {n})"
    if duck:
        return f"('0x' || {digits})::BIGINT"
    return f"CAST(conv({digits}, 16, 10) AS BIGINT)"


def md5_int(key_sql: str, start: int | str, n: int, *, duck: bool = False) -> str:
    """``hex_int`` of ``md5(key_sql)``."""
    return hex_int(f"md5({key_sql})", start, n, duck=duck)


# The document key every md5-derived document integer hashes (split
# byte, file shard, 40-bit hv), spelled in the subset both engines parse.
DOC_KEY = "CAST(doc_id AS STRING)"


def seed_key(tag: str = "", by: str = "") -> str:
    """The key a vector's md5 seed rank hashes, in the subset both
    engines parse: ``'<tag>#'``, then ``<by>`` and ``'#'`` when given,
    then the vec_id. Every md5-ranked sample of vectors (the IVF, PQ,
    RVQ, MaxSim and coreset seeds) orders by md5(seed_key(...)), vec_id."""
    head = f"'{tag}#' || " if tag else ""
    mid = f"CAST({by} AS STRING) || '#' || " if by else ""
    return f"{head}{mid}CAST(vec_id AS STRING)"


def doc_hv(*, duck: bool = False) -> str:
    """A document's 40-bit hv: the first ten hex digits of
    md5(DOC_KEY), the value q_sample_bottomk, q_sample_weighted and
    q_sketch_kmv_setops rank documents by."""
    return md5_int(DOC_KEY, 1, 10, duck=duck)


def dlit(x, prec: int = 12, scale: int = 2) -> Column:
    """Literal cast to decimal (lazy — safe at import time only if not
    called before a SparkContext exists)."""
    return F.lit(x).cast(f"decimal({prec},{scale})")


def dec(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def dsum(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact SUM of a double column via decimal; result DOUBLE."""
    return F.sum(dec(col, prec, scale)).cast("double")


def davg(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Order-independent AVG: exact decimal sum, double division.

    Oracle spelling: CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE)/COUNT(x).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, prec, scale)).cast("double") / F.count(c)
