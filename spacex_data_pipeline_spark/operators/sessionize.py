"""Gap-based sessionization — the canonical custom stateful operator.

The reference has no streaming/stateful surface (SURVEY.md §2.4); a
training-data / clickstream pipeline needs sessionization. Batch form is a
pure composition of window functions (lag → gap flag → running sum), which
keeps it SQL-expressible (DuckDB oracle) and shuffle-minimal: ONE shuffle
on user_id serves both windows and the final per-session aggregation —
Catalyst reuses the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum


def session_events(events: DataFrame) -> DataFrame:
    """Per-EVENT session assignment: lag → gap flag → running sum. Both
    windows and any downstream per-session aggregation share the single
    user_id shuffle (Catalyst reuses the partitioning)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = 30 * 60  # a new session after 30 idle minutes
    prev_ts = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev_ts)) > gap_s),
        1,
    ).otherwise(0)
    return (
        events.withColumn("__new", is_new)
        .withColumn(
            "session_id",
            F.sum("__new").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("__new")
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Assign session ids per user (new session when the gap from the
    previous event exceeds 30 minutes) and aggregate per session."""
    sessions = session_events(events)
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dsum("value", "total_value"),
        )
        .withColumn("session_id", F.col("session_id").cast("bigint"))
    )


def funnel_counts(events: DataFrame) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): how many users
    reach each stage, where stage i counts only events at/after the
    user's FIRST reach of stage i-1 (the strict-ordering semantics
    product funnels mean — a click before any view does not advance the
    funnel).

    Plan: one filtered min-aggregation per stage, each joined to the
    previous stage's reach times — all shuffles hash on the same user
    key, each stage's event scan is type-filtered at the source
    (predicate pushdown), and the per-stage counts are lazy 1-row
    aggregates unioned into the result (no driver-side count actions).
    At 100 TB this is one co-partitioned pass per stage over a
    type-pruned fraction of the events table.
    """
    reached = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t"))
    )
    out = reached.agg(
        F.lit(0).alias("stage_idx"),
        F.lit("view").alias("stage"),
        F.count(F.lit(1)).alias("users"),
    )
    for i, stage in enumerate(("click", "purchase"), start=1):
        nxt = (
            events.filter(F.col("event_type") == stage)
            .join(reached, "user_id")
            .filter(F.col("ts") >= F.col("__t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("__t"))
        )
        out = out.unionByName(
            nxt.agg(
                F.lit(i).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.count(F.lit(1)).alias("users"),
            )
        )
        reached = nxt
    return out.select(
        F.col("stage_idx").cast("int"), "stage", F.col("users").cast("long")
    )
