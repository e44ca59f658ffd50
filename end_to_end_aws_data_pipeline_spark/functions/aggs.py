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

import math

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


# The HIGH-PRECISION fixed-point log2, L(x) = 65536·log2(x) for x in
# [1, 2^57): octave e, segment j of 64 linear segments per octave, and
# the within-segment residual rescaled to ≤20 bits so every product
# stays far inside int64. Worst case 6.1e-5 bit, swept over 200k random
# inputs; l2fp's ~0.149 bit would swamp a near-independence MI outright.
# One Python form and two SQL spellings, all from the same tables.
L2HI_S = 1 << 16
L2HI_SEGS = 64
L2HI_B = [round(L2HI_S * math.log2(1 + j / L2HI_SEGS)) for j in range(L2HI_SEGS)]
L2HI_D = [
    round(
        L2HI_S
        * (math.log2(1 + (j + 1) / L2HI_SEGS) - math.log2(1 + j / L2HI_SEGS))
    )
    for j in range(L2HI_SEGS)
]


def l2hi(x: int) -> int:
    """L(x) in Python integers, equal to both SQL spellings digit for
    digit, so costs computed on the driver equal the oracle's."""
    e = x.bit_length() - 1
    t = x * L2HI_SEGS
    q = t // (1 << e)
    j = q - L2HI_SEGS
    r = t - q * (1 << e)
    sh = max(e - 20, 0)
    return L2HI_S * e + L2HI_B[j] + (r >> sh) * L2HI_D[j] // (1 << (e - sh))


def _l2hi_case(j: str, tab: list[int]) -> str:
    """The segment-table lookup: ``tab[j]`` as a 64-branch CASE."""
    return (
        "CASE " + j + " "
        + " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(tab))
        + " END"
    )


def l2hi_steps(x: str, p: str, div: str) -> tuple[list[str], list[str], list[str]]:
    """L(x) as SELECT items for three chained steps (shared Spark/DuckDB
    text apart from the integer-division spelling ``div``): geometry,
    segment, then the table-lookup evaluation ``{p}l``. ``p`` prefixes
    the intermediates."""
    geom = [
        f"(length(bin({x})) - 1) AS {p}e",
        f"({x}) AS {p}x",
    ]
    seg = [
        f"({p}x * {L2HI_SEGS}) {div} (CAST(1 AS BIGINT) << {p}e) - {L2HI_SEGS} AS {p}j",
        f"{p}x * {L2HI_SEGS} - (({p}x * {L2HI_SEGS}) {div} (CAST(1 AS BIGINT) << {p}e)) * (CAST(1 AS BIGINT) << {p}e) AS {p}r",
        f"greatest({p}e - 20, 0) AS {p}sh",
    ]
    ev = [
        f"{L2HI_S} * {p}e + {_l2hi_case(f'{p}j', L2HI_B)} "
        f"+ ({p}r {div} (CAST(1 AS BIGINT) << {p}sh)) * ({_l2hi_case(f'{p}j', L2HI_D)}) "
        f"{div} (CAST(1 AS BIGINT) << ({p}e - {p}sh)) AS {p}l"
    ]
    return geom, seg, ev


def l2hi_sql(x: str) -> str:
    """L(x) as one inlined DuckDB scalar expression."""
    e = f"(length(bin({x})) - 1)"
    q = f"(({x}) * {L2HI_SEGS} // (CAST(1 AS BIGINT) << {e}))"
    j = f"({q} - {L2HI_SEGS})"
    r = f"(({x}) * {L2HI_SEGS} - {q} * (CAST(1 AS BIGINT) << {e}))"
    sh = f"greatest({e} - 20, 0)"
    return (
        f"({L2HI_S} * {e} + {_l2hi_case(j, L2HI_B)} + "
        f"({r} // (CAST(1 AS BIGINT) << {sh})) * ({_l2hi_case(j, L2HI_D)}) "
        f"// (CAST(1 AS BIGINT) << ({e} - {sh})))"
    )
