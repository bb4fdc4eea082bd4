"""Mart aggregates — the reference's entire analytical workload, generalized.

``dbt/models/marts/fct_spacex_launches_by_year.sql:3-11`` (A1-A6 in
SURVEY.md §2.3):

    group by year                        -> groupBy (hash agg, partial+final)
    count(*) as launches                 -> F.count
    sum(case when success then 1 else 0) -> conditional sum; NULL -> else
    sum(case when success then 0 else 1) -> NULL success counts as FAILURE
    round(100.0*s/nullif(count,0), 2)    -> pct_rate (div-by-zero -> NULL)
    order by 1                           -> at the reader (see below)

The mart stores no row order. ``order by 1`` in a dbt model only orders
the SELECT that fills the table; neither Postgres nor parquet keeps that
order for a later reader. Here a global sort would also run its whole
child a second time to sample range bounds and add a shuffle, on every
build. So the order moves to whoever shows rows: the CLI's ``build``
prints the mart ``orderBy("year")``, and ``fct_orders_by_year`` carries
``order_by=("year",)`` in the query registry.

The null-as-failure CASE semantics are the reference's one genuine semantic
quirk (README.md:140) and are locked by golden tests.

:func:`by_period_conditional_rollup` is the generic form: any fact table,
any timestamp, any boolean "success" predicate. The groupBy key is a derived
low-cardinality year, so the shuffle moves one int key + partial counts —
map-side partial aggregation makes this scale linearly to 100 TB; no
further tuning needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import pct_rate


def conditional_counts(success: Column) -> list[Column]:
    """launches / successes / failures with the reference's NULL semantics."""
    return [
        F.count(F.lit(1)).alias("launches"),
        F.sum(F.when(success, 1).otherwise(0)).alias("successes"),
        F.sum(F.when(success, 0).otherwise(1)).alias("failures"),
    ]


def by_period_conditional_rollup(
    fact: DataFrame,
    ts_col: str,
    success: Column,
) -> DataFrame:
    """Generic fct_*_by_year: yearly conditional counts + null-safe rate."""
    return (
        fact.groupBy(F.year(F.col(ts_col)).cast("int").alias("year"))
        .agg(*conditional_counts(success))
        .withColumn(
            "success_rate_pct",
            pct_rate(F.col("successes"), F.col("launches")),
        )
    )


def fct_spacex_launches_by_year(stg: DataFrame) -> DataFrame:
    """The reference mart verbatim over the staging relation (which already
    carries ``year``; fct_spacex_launches_by_year.sql:3-11)."""
    return (
        stg.groupBy("year")
        .agg(*conditional_counts(F.col("success")))
        .withColumn("success_rate_pct", pct_rate(F.col("successes"), F.col("launches")))
    )
