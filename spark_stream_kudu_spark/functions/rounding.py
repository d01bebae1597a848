"""Cross-engine-deterministic rounding.

``ROUND(x, d)`` is NOT portable across engines at decimal tie points:
Spark rounds the double's shortest decimal representation (BigDecimal
HALF_UP on ``Double.toString``), while DuckDB rounds the binary value —
so the *same* double 66.55375 rounds to 66.5538 in Spark and 66.5537 in
DuckDB. Any oracle-compared output therefore uses floor-based rounding,

    fround(x, d) = floor(x * 10^d + 0.5) / 10^d

which is a pure function of the binary double and bit-identical in both
engines whenever both computed the same input double. (Semantics: round
half *toward +infinity*, which differs from ROUND's half-away-from-zero
for negative ties — a documented, deterministic choice.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fround(col: Column | str, d: int) -> Column:
    """Deterministic round-half-up to ``d`` decimals (DoubleType out).

    Safe whenever the input double is bit-identical across engines
    (raw columns, products of raw columns), or differs only by
    accumulation ulps while the true value is decimal-quantized coarser
    than ``d`` (e.g. 2-decimal money summed, rounded at d>=2: the tie
    point ``N + 0.5`` after the +0.5 shift floors to N from both sides).
    NOT safe for ``avg``-like values whose exact decimal expansion has
    d+1 digits — use :func:`favg` for those.
    """
    if isinstance(col, str):
        col = F.col(col)
    scale = 10**d
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def sql_fround(expr: str, d: int) -> str:
    """DuckDB fragment equivalent of :func:`fround`."""
    scale = 10**d
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def favg(sum_col: Column, count_col: Column, d: int, sum_decimals: int = 2) -> Column:
    """Cross-engine-deterministic average.

    ``avg()`` outputs land on rounding tie points constantly (a
    2-decimal sum over a power-of-two count has an exact decimal
    expansion ending in 5), and the two engines' sums differ in final
    ulps — so any direct rounding of avg() can flip. Instead: round the
    *sum* first (tie-free for quantized data), then divide by the
    count; both engines now round a bit-identical double, which is
    always deterministic.
    """
    snapped = fround(sum_col, sum_decimals)
    return fround(snapped / count_col, d)


def idiv(a: Column | int, b: Column | int) -> Column:
    """Integral division on longs (SQL ``div``) — exact by
    CONSTRUCTION, never routed through double (round-9/10 advisory
    class: ``floor(int / int)`` is exact only while operands stay
    below 2^53, a property a 100 TB rollup can silently outgrow).
    ``div`` truncates toward zero, so callers must pass NON-NEGATIVE
    operands where floor semantics are intended (every engine site
    does: epoch millis/micros, sizes, counts)."""
    if isinstance(a, int):
        a = F.lit(a)
    if isinstance(b, int):
        b = F.lit(b)
    return F.call_function("div", a.cast("long"), b.cast("long"))


def ceil_div(a: Column | int, b: Column | int) -> Column:
    """Ceiling division for NON-NEGATIVE integer operands:
    (a + b - 1) div b — the integral-exact form of ceil(a / b)."""
    if isinstance(a, int):
        a = F.lit(a)
    b_int = b if isinstance(b, int) else None
    if b_int is not None:
        return idiv(a + F.lit(b_int - 1), b_int)
    return idiv(a + b - F.lit(1), b)
