"""Exact-integer monetary aggregation helpers (round-6 discipline).

TPC-H money columns carry exactly two decimals, so per-row
`price * (1 - discount)` is an exact integer in 1e-4-dollar units:
summing those integers is order-free in any engine (raw double sums
fold in engine- and partition-order; a half-boundary ulp flakes the
rounded column — the round-6 EWMA lesson). One double division at the
end runs on bit-identical operands in Spark and DuckDB.

Decimal(38,0)/HUGEINT accumulation avoids int64 wrap (ANSI-off Spark
wraps silently at ~9e14 dollars of 1e-4 units).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def disc_revenue_sum(prefix: str = "") -> Column:
    """Spark: round(sum(price * (1-disc)), 2) in exact integer units."""
    cents = F.round(F.col(f"{prefix}l_extendedprice") * 100, 0).cast("bigint")
    disc_c = F.round(F.col(f"{prefix}l_discount") * 100, 0).cast("bigint")
    return F.round(
        F.sum((cents * (100 - disc_c)).cast("decimal(38,0)")).cast("double")
        / 10000.0,
        2,
    )


def cents_sum(col: str) -> Column:
    """Spark: exact BIGINT-cents sum of a 2-decimal money column,
    DECIMAL(38,0)-accumulated (order-free)."""
    return F.sum(
        F.round(F.col(col) * 100, 0).cast("bigint").cast("decimal(38,0)")
    )


def cents_sum_sql(col: str) -> str:
    """DuckDB oracle text for the same exact cents sum (HUGEINT)."""
    return f"sum(CAST(round({col} * 100, 0) AS BIGINT))"


def money_sum(col: str) -> Column:
    """round(sum(money), 2) with an order-free integer-cents sum and a
    single double division — bit-identical across engines."""
    return F.round(cents_sum(col).cast("double") / 100.0, 2)


def money_sum_sql(col: str) -> str:
    return f"round(CAST({cents_sum_sql(col)} AS DOUBLE) / 100.0, 2)"


def money_avg(col: str) -> Column:
    """round(avg(money), 2): the mean is an ARBITRARY real (can sit a
    ulp from a .005 boundary), so the only safe form is exact-integer
    cents summed order-free, then ONE division both engines perform on
    identical operands."""
    return F.round(
        cents_sum(col).cast("double")
        / (F.count(F.lit(1)) * F.lit(100.0)),
        2,
    )


def money_avg_sql(col: str) -> str:
    return (
        f"round(CAST({cents_sum_sql(col)} AS DOUBLE)"
        " / (count(*) * 100.0), 2)"
    )


def micro_sum_sql(col: str, decimals: int = 2) -> str:
    """Oracle text: round(sum(x), d) for an ARBITRARY double column —
    quantize each addend to integer 1e-6 units first (a documented
    5e-7-per-row semantic quantization), so the sum is order-free; one
    final division. Use when addends are not fixed-decimal. The Spark
    twin lives at its call site (events_skew_salted splits the sum
    across salted partials, which a single Column helper can't)."""
    return (
        f"round(CAST(sum(CAST(round({col} * 1e6, 0) AS BIGINT)) AS DOUBLE)"
        f" / 1e6, {decimals})"
    )


def micro_avg_sql(col: str, decimals: int = 6) -> str:
    """Oracle text: round(avg(x), d) for an arbitrary double column via
    the same 1e-6 quantization (order-free sum, one division)."""
    return (
        f"round(CAST(sum(CAST(round({col} * 1e6, 0) AS BIGINT)) AS DOUBLE)"
        f" / (count(*) * 1e6), {decimals})"
    )
