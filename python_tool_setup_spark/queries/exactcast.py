"""Deterministic, correctly-rounded integer->DOUBLE conversion text.

Mechanism (multi-seed catch #6, seed 2468, q505): DuckDB's native
HUGEINT/DECIMAL(38)->DOUBLE cast is NOT correctly rounded — on ~1.4%
of random integers above 2^53 it lands 1 ulp off the nearest double
(measured 54/4000; the reproducing value 46161679096899359540 casts
to 0x1.404f9d4823216p+65 instead of the correct ...217p+65).  Spark's
Decimal->double (java.math.BigDecimal.doubleValue) and BIGINT->double
are correctly rounded, so any oracle final whose double math consumes
a >2^53 exact-integer moment could differ from Spark by an ulp-scale
amount — invisible until a ROUND boundary sits inside the error band,
exactly how q505's var_ratio_micro flipped its last digits.

Fix: a TWO-LIMB conversion that both engines evaluate bit-identically
AND that equals the correctly-rounded cast for |x| < 2^101:

    hi = x div 2^48          (|hi| < 2^53  -> its cast is EXACT)
    lo = x mod 2^48          (|lo| < 2^48  -> its cast is EXACT)
    dbl(x) = CAST(hi) * 2^48 + CAST(lo)

Both engines truncate integer division toward zero and give the mod
the dividend's sign, so hi*2^48 + lo == x exactly; hi*2^48 is an
exact double (power-of-two scale), and the single IEEE addition
rounds the true value once — i.e. the result IS round-to-nearest of
x, independent of either engine's native cast path.  For |x| < 2^53
it degenerates to the exact cast, so converting a site can never
change a value that was already correct.

Dialect note: integer division spells `//` in DuckDB and `DIV` in
Spark SQL; everything else is shared text.

The module also owns the Spark side of the exact-cents rule the
oracles write as ``CAST(ROUND(100 * a * b) AS BIGINT)``: multiply by
100 first, then by each factor left to right, round half-up at scale
0, cast to BIGINT. ``cents`` builds that Column, ``cents_sql`` the
Spark SQL text; both keep the oracle's evaluation order, so the
double that gets rounded is bit-identical on both sides.

Pinned in tests/test_exactcast.py, which also holds the census of
converted sites (test_no_native_double_cast_of_hugeint_columns, the
anti-reversion lint) and of exact-cents sites outside this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

K = 281474976710656  # 2^48


def dd_duck(x: str) -> str:
    """DuckDB text: correctly-rounded (x)->DOUBLE for |x| < 2^101."""
    return (
        f"(CAST(({x}) // {K} AS DOUBLE) * {K}e0"
        f" + CAST(({x}) % {K} AS DOUBLE))"
    )


def dd_spark(x: str) -> str:
    """Spark SQL text: same two limbs via DIV (numerically a no-op —
    Spark's native cast is already correctly rounded — kept so shared
    expression text stays shared)."""
    return (
        f"(CAST(({x}) DIV {K} AS DOUBLE) * {K}e0"
        f" + CAST(({x}) % {K} AS DOUBLE))"
    )


def cents(*factors) -> Column:
    """``F.round(100 * f1 * f2 ...).cast("long")``, built left to right.

    Pass the factors as the oracle writes them: ``cents(x, 1 - d)`` is
    ``100 * x * (1 - d)``, which is a different double from
    ``cents(x * (1 - d))`` = ``100 * (x * (1 - d))``.
    """
    x = 100
    for f in factors:
        x = x * f
    return F.round(x).cast("long")


def cents_sql(*factors: str) -> str:
    """Spark SQL text of ``cents``: ``CAST(ROUND(100 * f1 ...) AS BIGINT)``."""
    return f"CAST(ROUND({' * '.join(('100', *factors))}) AS BIGINT)"
