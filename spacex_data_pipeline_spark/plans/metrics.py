"""EXPLAIN ANALYZE for the engine: execute a DataFrame's EXACT physical
plan and read back the per-node SQLMetrics Spark accumulated while
running it — output rows, shuffle bytes/records, spill, peak memory,
codegen pipeline time. The observability layer a production pipeline
tunes against: plan ASSERTIONS (tests/test_plans.py) lock the shapes,
these metrics show what the shapes actually did at runtime ("measure,
don't guess" — the loop bench.py closes at query granularity, closed
here at operator granularity).

Two subtleties worth their own lines:

- ``df.write`` (and Python-side ``df.count()``) build a NEW
  QueryExecution, so inspecting ``df._jdf.queryExecution()`` after them
  reads a plan that never ran (every metric 0); and ``qe.toRdd().
  count()`` DOUBLE-runs the AQE result stage (stage materialization +
  RDD recompute), doubling its metrics. The JVM dataset's own
  ``collect()`` is the one action that executes exactly this
  QueryExecution exactly once — the result lands in JVM driver memory,
  so point this at aggregates/reports, not corpus dumps.
- Under AQE the executed tree nests QueryStageExec nodes whose subtrees
  hang off ``.plan()``, not ``.children()`` — the walk follows both, and
  ``AdaptiveSparkPlan.executedPlan()`` for the final (re-optimized)
  tree.

Reading the numbers: metrics are CUMULATIVE over every execution of a
node, and some operators legitimately execute children twice — the
canonical case is a global ``orderBy``, whose RangePartitioning runs a
boundary-SAMPLING pass over the child before the real exchange, so
everything below the sort shows doubled rows (locked as a test: the
hidden second pass is exactly why hot paths here prefer
TakeOrderedAndProject / two-level ranks over global sorts, and this
tool is how you catch one that slipped in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def run_with_metrics(df: DataFrame) -> list[dict]:
    """Execute ``df``'s physical plan and return the node tree with its
    runtime SQLMetrics: ``[{"depth", "node", "metrics": {name: value}},
    ...]`` in pre-order (root first). Zero-valued metrics are dropped —
    what remains is what happened."""
    qe = df._jdf.queryExecution()
    df._jdf.collect()

    out: list[dict] = []

    def walk(node, depth: int) -> None:
        name = node.nodeName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            v = kv._2().value()
            if v:
                metrics[kv._1()] = v
        out.append({"depth": depth, "node": name, "metrics": metrics})
        if "QueryStage" in name:
            walk(node.plan(), depth + 1)
            return
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), depth + 1)
            return
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next(), depth + 1)

    walk(qe.executedPlan(), 0)
    return out


def metrics_summary(nodes: list[dict]) -> dict:
    """Roll the node metrics up to the numbers a capacity review asks
    for first: total shuffle volume, spill (any spill on a sized job is
    a partitioning bug), peak single-operator memory, and the row counts
    at the scan and result ends of the plan."""
    total = lambda key: sum(n["metrics"].get(key, 0) for n in nodes)  # noqa: E731
    scans = [
        n["metrics"].get("numOutputRows", 0)
        for n in nodes
        if n["node"].startswith(("Scan", "Range", "BatchScan"))
    ]
    # the SHALLOWEST row-bearing node is the result operator (pre-order
    # "first" would land on a map-side partial aggregate in AQE trees,
    # whose row count is partials — not the answer)
    bearing = [n for n in nodes if "numOutputRows" in n["metrics"]]
    result_rows = (
        min(bearing, key=lambda n: n["depth"])["metrics"]["numOutputRows"]
        if bearing
        else 0
    )
    return {
        "shuffle_bytes_written": total("shuffleBytesWritten"),
        "shuffle_records_written": total("shuffleRecordsWritten"),
        "spill_size_bytes": total("spillSize"),
        "peak_operator_memory": max(
            (n["metrics"].get("peakMemory", 0) for n in nodes), default=0
        ),
        "rows_scanned": sum(scans),
        "rows_out": result_rows,
        "n_exchanges": sum(1 for n in nodes if n["node"] == "Exchange"),
    }


def format_metrics_tree(nodes: list[dict]) -> str:
    """Human-readable annotated tree (the CLI ``explain --analyze``
    rendering)."""
    lines = []
    for n in nodes:
        m = ", ".join(f"{k}={v}" for k, v in sorted(n["metrics"].items()))
        lines.append(f"{'  ' * n['depth']}{n['node']}" + (f"  [{m}]" if m else ""))
    return "\n".join(lines)
