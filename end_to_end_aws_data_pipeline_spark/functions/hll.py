"""Replayable HyperLogLog: one register address and one estimator for
every sketch whose estimate a DuckDB replay must reproduce bit for bit
(Flajolet et al., "HyperLogLog", AofA 2007; per node in HyperANF,
Boldi, Rosa and Vigna, WWW 2011).

- Address: md5(key) is the hash both engines compute identically. Hex
  chars 1-2 pick the register (mod m, for m <= 256) and the next
  56 bits' leading-zero count, read through length(bin(w)), gives ρ,
  capped at ``CAP`` so every 2^(CAP - ρ) term of the harmonic sum is an
  exact int64.
- Estimate: the harmonic denominator is that integer sum, and the one
  double constant α·m²·2^CAP (``num``) is computed here in Python and
  injected as a literal: Spark SQL folds float literal arithmetic in
  DECIMAL, so an expression would not match. The small-range
  linear-counting branch m·ln(m/V) has only m inputs, so its ln table
  is a literal too and no libm call can diverge between engines.

Oracles read ``WBITS``, ``CAP``, ``num`` and ``lntab`` and spell their
own SQL; the Spark side builds through ``register_address`` and
``estimate_sql``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

WBITS = 56  # md5 hex chars 3..16 -> 56-bit register payload
CAP = 48  # cap rho so 2^(CAP - rho) sums stay deep inside int64


def alpha(m: int) -> float:
    """Flajolet et al.'s bias constant: the small-m table's value for
    m = 64, else the m >= 128 formula."""
    return 0.709 if m == 64 else 0.7213 / (1.0 + 1.079 / m)


def num(m: int) -> float:
    """α·m²·2^CAP: the estimator's numerator over the integer-scaled
    harmonic denominator."""
    return alpha(m) * m * m * float(1 << CAP)


def lntab(m: int) -> list[float]:
    """ln(m / v) for v = 1..m: the linear-counting branch's table."""
    return [math.log(m / v) for v in range(1, m + 1)]


def register_address(key: Column, m: int) -> tuple[Column, Column]:
    """``(bucket, rho)`` of ``key`` in an m-register sketch."""
    hx = F.md5(key.cast("string"))
    bucket = F.pmod(F.conv(F.substring(hx, 1, 2), 16, 10).cast("long"), F.lit(m))
    w = F.conv(F.substring(hx, 3, 14), 16, 10).cast("long")
    rho = F.least(
        F.when(w == 0, F.lit(WBITS + 1)).otherwise(
            F.lit(WBITS + 1) - F.length(F.bin(w))
        ),
        F.lit(CAP),
    )
    return bucket, rho


def estimate_sql(denom_ne: str, v_cnt: str, m: int) -> str:
    """Spark SQL text of the HLL estimate (a double) from ``denom_ne``,
    the sum of 2^(CAP - ρ) over the ``v_cnt`` non-empty registers.

    One parsed expression, not a Column composition: a Column-built
    m-element literal array costs a py4j round trip per element on
    every call. Every double literal carries the ``D`` suffix, since a
    bare decimal literal parses as DECIMAL and would change the
    arithmetic."""
    v_empty = f"CAST({m} - {v_cnt} AS INT)"
    raw = f"{num(m)!r}D / ({denom_ne} + ({m} - {v_cnt}) * {1 << CAP})"
    tab = "array(" + ", ".join(f"{x!r}D" for x in lntab(m)) + ")"
    return (
        f"CASE WHEN {v_empty} > 0 AND {raw} <= {2.5 * m!r}D "
        f"THEN {float(m)!r}D * element_at({tab}, {v_empty}) ELSE {raw} END"
    )
