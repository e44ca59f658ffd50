"""Exact, order-independent numeric aggregation helpers.

Floating-point ``SUM`` is not associative: Spark's partial/final hash
aggregation and DuckDB's aggregation visit rows in different orders, so
two correct engines produce sums differing in the last few ulps — enough
to break an exact cross-engine value-hash comparison, and enough to flip
a rounded digit at scale.

The fix is to aggregate in an exact domain: quantize each input to a
DECIMAL with a fixed scale (prices have 2 true decimal digits; derived
products ≤4; rates ≤4), sum exactly (decimal addition is associative),
and cast the final value back to DOUBLE. Both engines then compute
bit-identical results regardless of row order or plan shape. This also
holds at 100 TB: DECIMAL(38, s) accumulators give Spark map-side partial
aggregation exactly as for doubles, with no extra shuffle.

Helpers come in pairs: a PySpark Column builder and the equivalent SQL
text for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# split-accumulator geometry: a row's scaled value |x·10^s| < 2^51
# splits into three parts — v>>34 (≤2^17), (v>>17)&(2^17−1), v&(2^17−1)
# — each summed in a plain LONG. Part sums stay under 2^63 up to
# ~7·10^12 rows per group (rows · 2^17 < 2^63), i.e. a full 100 TB
# table in ONE group, and the exact total is reassembled from three
# scalars in the decimal domain after the aggregate.
_SPLIT = 17
_MASK = (1 << _SPLIT) - 1


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum of a double column with `scale` true decimal digits.

    Row quantization is the tie-free floor(x·10^s + 0.5) stabilizer
    (every step a correctly-rounded IEEE op, identical in both
    engines); accumulation is exact and order-free in three bounded
    LONG sums (see _SPLIT above) instead of one DECIMAL sum — decimal
    aggregation buffers above precision 18 fall back to per-row
    BigDecimal and A/B-measured ~3× the long path at sf0.1 (q1's 7-agg
    pass: 0.99 s decimal vs 0.32 s long, warm). The exact total is
    rebuilt decimal-side from the three part sums, converted to double
    via the correctly-rounded cast, and divided by the exact power of
    ten — deterministic and bit-identical in Spark and DuckDB.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = 10**scale
    v = F.floor(c * p + F.lit(0.5)).cast("long")
    total = (
        F.sum(F.shiftright(v, 2 * _SPLIT)).cast("decimal(38,0)")
        * F.lit(1 << (2 * _SPLIT)).cast("decimal(38,0)")
        + F.sum(F.shiftright(v, _SPLIT).bitwiseAND(_MASK)).cast("decimal(38,0)")
        * F.lit(1 << _SPLIT).cast("decimal(38,0)")
        + F.sum(v.bitwiseAND(_MASK)).cast("decimal(38,0)")
    )
    return total.cast("double") / F.lit(float(p))


def dsum_sql(expr: str, scale: int = 2) -> str:
    p = 10**scale
    v = f"CAST(floor(({expr}) * {p} + 0.5) AS BIGINT)"
    total = (
        f"(sum(({v}) >> {2 * _SPLIT}) * {1 << (2 * _SPLIT)}"
        f" + sum((({v}) >> {_SPLIT}) & {_MASK}) * {1 << _SPLIT}"
        f" + sum(({v}) & {_MASK}))"
    )
    return f"CAST({total} AS DOUBLE) / {p}"


def davg(col: Column | str) -> Column:
    """Exact-sum-based average of a 2-decimal column, published to 6
    digits.

    sum is exact (split-long, see dsum) and count is exact (long); the
    exact total converts to double through the correctly-rounded cast,
    so the division inputs are bit-identical, and the publish is
    stable_round's tie-free floor(x·10^s + 0.5)/10^s instead of
    round(double, s) (see scale-lessons: round-on-double diverges on
    expansion ties).
    """
    c = F.col(col) if isinstance(col, str) else col
    return stable_round(dsum(c) / F.count(c))


def davg_sql(expr: str) -> str:
    return stable_round_sql(f"{dsum_sql(expr)} / count({expr})")


def stable_round(col: Column | str, out_scale: int = 6) -> Column:
    """Tie-free publish of a double to ``out_scale`` decimal digits:
    floor(x·10^s + 0.5)/10^s. Every step is one correctly-rounded IEEE
    op, so the result is bit-identical in Spark and DuckDB — unlike
    round(double, s), where Spark rounds the double's exact decimal
    expansion (BigDecimal HALF_UP) and DuckDB rounds in double space,
    diverging by one last-digit ulp on expansion ties (~1e-4 of rows at
    sf0.1; see scale-lessons). Use for every float-valued publish —
    ratios, differences, cosines — paired with stable_round_sql in the
    oracle."""
    c = F.col(col) if isinstance(col, str) else col
    p = 10**out_scale
    return F.floor(c * p + 0.5) / p


def stable_round_sql(expr: str, out_scale: int = 6) -> str:
    p = 10**out_scale
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def l2fp(x: str) -> str:
    """Fixed-point log2 with 4 fractional bits, pure integer arithmetic
    (valid for x >= 1): 16*floor(log2 x) + linear interpolation of the
    mantissa between powers of two; worst-case error ~0.149 bit
    (interpolation + 1/16 quantization). The same text parses in Spark
    SQL and DuckDB except for the integer-division spelling, left as
    ``{div}`` for the caller to fill in per engine."""
    e = f"(length(bin({x})) - 1)"
    return f"(16 * {e} + ({x}) * 16 {{div}} (CAST(1 AS BIGINT) << {e}) - 16)"
