"""Oracle-parity helpers (SURVEY.md section 5.3).

The driver hash-compares every declared query against DuckDB on exact
values, so floating-point summation order matters. Strategy used across
the whole engine:

- **Sums/avgs of doubles** go through ``DECIMAL(38,10)``: each double is
  rounded to a decimal once (deterministic, same in both engines), the
  decimal sum is exact and order-independent, and the final cast back to
  double is deterministic. This gives bit-identical aggregates without
  relying on "rounding hides the noise".
- **Derived stats** (stddev/variance/corr) are computed from those exact
  decimal sums via the textbook formulas, so both engines do the same
  few IEEE ops on identical inputs.
- **Timestamps** never appear raw in output: they are formatted to ISO
  strings (or date parts) after ``date_trunc`` — events.ts is ns in
  parquet, which Spark truncates to micros but DuckDB keeps, so raw
  values can never hash-match.
- Every computed column is aliased identically on both sides; every
  LIMIT carries a total order.

Each helper documents its DuckDB SQL twin; oracle strings in the
registry use those twins verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


def dsum(c: Column | str, out_scale: int = 2) -> Column:
    """Exact double sum. SQL twin:
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DECIMAL(38,{s})) AS DOUBLE)``

    The intermediate rescale to ``out_scale`` is load-bearing: DuckDB
    converts wide decimals to double via hugeint->double *then* a
    divide (two roundings), Spark rounds once, so a scale-10 sum can
    land on adjacent doubles in the two engines. Rescaling first makes
    the scaled integer <= 2^53, so both conversions are exact-integer /
    exact-power-of-ten -> bit-identical. Constraint: |sum| * 10^out_scale
    must stay below 2^53 ~ 9e15 (holds through sf>=1 for this corpus;
    revisit per column at larger scale factors).
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(DEC)).cast(f"decimal(38,{out_scale})").cast("double")


def davg(c: Column | str, out_scale: int = 4) -> Column:
    """Exact-sum average (numerator through the dsum rescale). SQL twin:
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DECIMAL(38,{s})) AS DOUBLE)
      / COUNT(x)``"""
    c = F.col(c) if isinstance(c, str) else c
    return dsum(c, out_scale) / F.count(c)


def dsum_w(c: Column, window, out_scale: int = 6) -> Column:
    """Exact windowed double sum. SQL twin:
    ``CAST(CAST(SUM(CAST(x AS DECIMAL(38,10))) OVER (...)
           AS DECIMAL(38,{s})) AS DOUBLE)``"""
    return F.sum(c.cast(DEC)).over(window).cast(f"decimal(38,{out_scale})").cast("double")


def lsum(c: Column | str, scale: int) -> Column:
    """Fast exact sum for fixed-decimal-content columns: scale to an
    integer, sum longs (whole-stage-codegen fast path - ~3x faster than
    decimal sums), divide back. SQL twin:

        CAST(SUM(CAST(ROUND(x * 10^s) AS BIGINT)) AS DOUBLE) / 10^s.0

    Correct iff x has <= s true decimal digits (the scaled double is an
    integer +- 1e-11, so both engines round to the same long) and the
    group sum stays below 2^63 / slack. Used on the bench headliners;
    dsum() is the general-purpose variant.
    """
    c = F.col(c) if isinstance(c, str) else c
    m = 10 ** scale
    return F.sum(F.round(c * m, 0).cast("bigint")).cast("double") / float(m)


def r6(c: Column) -> Column:
    """Round to 6 dp (oracle twin ``ROUND(x, 6)``) — for values where the
    math is deterministic but libm vs JVM last-ulp differences exist
    (log/exp/pow)."""
    return F.round(c, 6)


def fmt_ts(c: Column | str) -> Column:
    """Timestamp → 'YYYY-MM-DD HH:MM:SS' string after second-truncation.
    SQL twin: ``strftime(date_trunc('second', x), '%Y-%m-%d %H:%M:%S')``"""
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(F.date_trunc("second", c), "yyyy-MM-dd HH:mm:ss")
