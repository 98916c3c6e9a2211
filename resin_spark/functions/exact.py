"""Engine-independent deterministic aggregation helpers.

Floating-point sums depend on accumulation order, which differs between
Spark (partial aggregation across partitions) and any oracle engine.
Casting each row to a fixed-scale decimal BEFORE summing makes the sum
exact integer arithmetic — order-independent and bit-identical across
engines — and the final cast back to double is exact for values well
under 2^53. Use these for every value that a correctness oracle will
hash-compare; plain F.sum/F.avg are fine for bench-only paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent sum: per-row decimal cast, exact sum, double out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent mean: exact decimal sum divided by count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")
        / F.count(c)
    )


def dravg(col: str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent mean ROUNDED half-away-from-zero to ``scale``,
    computed entirely in integer arithmetic.

    ``round(davg(...), s)`` rounds a DOUBLE, which diverges across
    engines on exact decimal ties: Java rounds the shortest-decimal
    representation half-up while DuckDB rounds the binary value, which
    sits just below the tie (deep-fuzz seed 7106 — a 2-token doc whose
    6-dp bit costs sum to an odd multiple of 1e-6). Here the tie is
    decided in exact integers instead: with S = Σ value·10^s (exact,
    inputs must already be s-dp decimals — every call site rounds
    upstream) and n = count, the half-away-from-zero mean is
    sign(S) · ((2·|S| + n) div (2·n)) / 10^s. Requires a string column
    name (built via F.expr for the integral ``div``); |2·S| must fit a
    BIGINT — true for every call site (values ≤ ~10^3 at scale ≤ 9).
    """
    unit = 10 ** scale
    s = (f"SUM(CAST(CAST({col} AS DECIMAL({precision},{scale}))"
         f" * {unit} AS BIGINT))")
    n = f"COUNT({col})"
    return F.expr(
        f"CASE WHEN {n} = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"CAST(SIGNUM({s}) AS DOUBLE) * "
        f"CAST((2 * ABS({s}) + {n}) DIV (2 * {n}) AS DOUBLE) / {unit} END"
    )


def dravg_sql(expr: str, scale: int = 2, precision: int = 18) -> str:
    """The matching DuckDB fragment for :func:`dravg` (``//`` is DuckDB's
    integer division; operands are non-negative, so it equals Spark's
    ``div``)."""
    unit = 10 ** scale
    s = (f"SUM(CAST(CAST(({expr}) AS DECIMAL({precision},{scale}))"
         f" * {unit} AS BIGINT))")
    n = f"COUNT({expr})"
    return (
        f"CASE WHEN {n} = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"CAST(SIGN({s}) AS DOUBLE) * "
        f"CAST((2 * ABS({s}) + {n}) // (2 * {n}) AS DOUBLE) / {unit} END"
    )


def dsum_sql(expr: str, scale: int = 2, precision: int = 18) -> str:
    """The matching ANSI-SQL fragment for :func:`dsum` (DuckDB oracle)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE)"
