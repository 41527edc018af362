"""The one owner of the exact-arithmetic recipe every statistic that
must match its DuckDB twin bit for bit is built from.

The recipe: floor-scale a double to an integer at ``10^scale``
(:func:`fixed` — identical doubles floor to identical integers in any
engine), sum those integers in BIGINT or, where a sum can pass 2^63,
in :data:`DEC` (DECIMAL(38,0), DuckDB's HUGEINT), and turn the exact
sums back into doubles only once, at the end (:func:`unscale`).
Integer addition is order-independent, so the result does not depend
on partitioning or engine; the single closed-form double expression
after it has the same shape on both sides and so rounds the same.

Raw double columns whose values are decimal-short by construction
(the synthetic data's prices and quantities) may instead cast to
``DECIMAL(18, scale)`` and sum there (:func:`dec_sum`). Computed
expressions must not: Spark's double→decimal cast rounds the
shortest-string repr (``BigDecimal.valueOf``) while DuckDB converts
the exact binary value, so full-mantissa products land one step apart
now and then; ``floor`` sidesteps rounding entirely.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the wide exact accumulator: DECIMAL(38,0) (DuckDB HUGEINT). Sums of
#: squares, products of ranks and χ² cell terms pass int64 long before
#: the inputs do.
DEC = "decimal(38,0)"


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fixed(
    col: str | Column, scale: int = 0, *, factor: int | None = None
) -> Column:
    """``floor(col · 10^scale)`` as BIGINT — a double quantized to an
    exact integer (``factor`` replaces ``10^scale`` where a public
    parameter is a multiplier). Spark's ``floor`` of a double is
    already BIGINT, so ``.cast(DEC)`` widens it without changing a
    bit. SQL twin: ``CAST(FLOOR(x * 10^s) AS BIGINT)``."""
    m = 10**scale if factor is None else factor
    return F.floor(_col(col) * F.lit(m)).cast("bigint")


def unscale(col: str | Column, scale: int, power: int = 1) -> Column:
    """An exact integer sum back in value units: ``double / 10^(scale·
    power)``, the divisor formed as the product of ``power`` factors
    of ``10^scale`` (a sum of k-fold products of fixed values carries
    the factor k times)."""
    return _col(col).cast("double") / F.lit(math.prod([float(10**scale)] * power))


def moment_sums(x: Column, y: Column, scale: int | None = None) -> list[Column]:
    """The five Pearson moment sums Σx, Σy, Σxy, Σx², Σy² as exact
    :data:`DEC` aggregates named ``_sx, _sy, _sxy, _sxx, _syy``.

    With ``scale``, x and y are doubles: each term (the products
    formed in doubles first) is :func:`fixed` at ``scale`` — the twin
    is ``SUM(CAST(FLOOR(x * y * 10^s) AS HUGEINT))``. Without it, x and
    y are integers and the products form in DECIMAL(38,0). Each caller
    keeps its own closed form over these sums."""
    if scale is None:
        def term(a: Column, b: Column | None = None) -> Column:
            return a.cast(DEC) if b is None else a.cast(DEC) * b
    else:
        def term(a: Column, b: Column | None = None) -> Column:
            return fixed(a if b is None else a * b, scale).cast(DEC)
    return [
        F.sum(term(x)).alias("_sx"),
        F.sum(term(y)).alias("_sy"),
        F.sum(term(x, y)).alias("_sxy"),
        F.sum(term(x, x)).alias("_sxx"),
        F.sum(term(y, y)).alias("_syy"),
    ]


def dec_sum(col: str | Column, scale: int = 4) -> Column:
    """Order-independent exact sum of a RAW double column whose values
    are decimal-short by construction (see the module doc); for
    computed expressions use :func:`scaled_sum`."""
    return F.sum(_col(col).cast(f"decimal(18,{scale})")).cast("double")


def scaled_sum(expr: str | Column, scale: int = 4) -> Column:
    """Exact cross-engine sum of a COMPUTED double expression: an
    integer sum of :func:`fixed` values, unscaled once. SQL twin:
    ``CAST(SUM(CAST(FLOOR(x * 10^s) AS BIGINT)) AS DOUBLE) / 10^s``."""
    return unscale(F.sum(fixed(expr, scale)), scale)


def dec_avg(col: str | Column, scale: int = 4) -> Column:
    c = _col(col)
    return dec_sum(c, scale) / F.count(c)


def dec_stddev(col: str | Column, scale: int = 4) -> Column:
    """Sample stddev via the sum-of-squares identity over exact decimal
    sums (A11 — matches ``statistics.stdev``, i.e. n-1 denominator)."""
    c = _col(col)
    d = c.cast(f"decimal(18,{scale})")
    n = F.count(c).cast("double")
    s = F.sum(d).cast("double")
    sq = F.sum(d * d).cast("double")
    return F.when(n > 1, F.sqrt((sq - s * s / n) / (n - 1.0)))
