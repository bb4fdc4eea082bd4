"""Materialization layer — what dbt does for the reference, collapsed.

The reference's dbt project materializes staging as a VIEW and marts as
TABLEs (dbt_project.yml:14-20, S6/S7 in SURVEY.md §2.1); ``ref()`` induces
the model DAG. Spark-native: a model is a function returning a DataFrame;
``ref()`` is function composition; a VIEW is a (temp) view over the logical
plan; a TABLE is a parquet CTAS. Lineage IS the logical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_view(df: DataFrame, name: str) -> DataFrame:
    """dbt ``materialized='view'`` — lazy, re-planned per query; views
    expand into consumers' logical plans so Catalyst prunes/pushes through
    them (SURVEY.md §4)."""
    df.createOrReplaceTempView(name)
    return df


def materialize_table(df: DataFrame, path: str, name: str | None = None) -> DataFrame:
    """dbt ``materialized='table'`` — eager CTAS to parquet; returns the
    re-read DataFrame so downstream models consume the materialized form.

    The re-read is pinned to ``df.schema``: the writer just produced that
    schema, so inferring it back would only cost a footer-merging job per
    call."""
    df.write.mode("overwrite").format("parquet").save(path)
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    if name:
        out.createOrReplaceTempView(name)
    return out

