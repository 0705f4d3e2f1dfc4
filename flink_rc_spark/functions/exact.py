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
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(12,2)"

# Integer cents of the 2-decimal double ``value``, spelled exactly as
# the oracles spell it: the DECIMAL cast rounds half away from zero in
# both engines (numpy's np.round rounds half to even, so exact half
# cents would disagree). Kernels that fold cents in Python read a
# column projected in the JVM with F.expr(CENTS_SQL).
CENTS_SQL = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


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
