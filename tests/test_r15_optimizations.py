"""Focused equivalence tests for the r15 optimization pass.

Same contract as tests/test_r14_optimizations.py: every r15 change is an
internals-only rewrite (shared materialized pass / fewer jobs / guarded
physical fan-out) with a bit-identical output contract; these pin each
rewrite against its unoptimized form ON THE SAME INPUT so a future edit
cannot silently turn an optimization into a behavior change. The oracle
parity suite re-proves the end results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacex_data_pipeline_spark import catalog
from spacex_data_pipeline_spark.operators.dedup import (
    connected_components,
    materialize,
)
from spacex_data_pipeline_spark.operators.text import (
    bm25_tf,
    bm25_topk,
    trigram_tf,
    trigram_typicality,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_trigram_typicality_shared_tf_model_equivalence(spark, sf_smoke):
    """trigram_typicality with pre-materialized tf=/model= handles returns
    exactly the rows of the self-built form (the r15 _doc_trigram_model
    sweep-share contract), including the keep=/with_sums= variant."""
    docs = catalog.table(spark, sf_smoke, "documents")
    tf = materialize(trigram_tf(docs))
    model = materialize(tf.groupBy("tri").agg(F.sum("tf").alias("c")))
    assert _rows(trigram_typicality(docs, tf=tf, model=model)) == _rows(
        trigram_typicality(docs)
    )
    assert _rows(
        trigram_typicality(
            docs, keep=("source",), with_sums=True, tf=tf, model=model
        )
    ) == _rows(trigram_typicality(docs, keep=("source",), with_sums=True))


def test_bm25_topk_shared_tf_equivalence(spark, sf_smoke):
    """bm25_topk with a pre-materialized tf= inverted-index base returns
    exactly the rows of the self-built form (the r15 _doc_bm25_tf
    sweep-share contract)."""
    docs = catalog.table(spark, sf_smoke, "documents")
    tf = materialize(bm25_tf(docs))
    assert _rows(bm25_topk(docs, [0, 1, 2], tf=tf)) == _rows(bm25_topk(docs, [0, 1, 2]))


def test_cc_matches_union_find_reference(spark):
    """connected_components labels every node with the minimum id of its
    component in a pure-Python union-find over the same edges, on a graph
    with a diameter-3 chain, a near-clique, singletons, and edges to an
    endpoint outside the node set, which neither bridges two nodes nor
    becomes a label."""
    node_ids = range(10)
    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain, diameter 3
        (5, 6), (6, 7), (5, 7),          # near-clique
        (8, 99), (99, 9),                # endpoint outside node set
    ]
    root = {n: n for n in node_ids}

    def find(x):
        while root[x] != x:
            x = root[x]
        return x

    for a, b in pairs:
        if a in root and b in root:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
    want = sorted((n, find(n)) for n in node_ids)

    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id long")
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = _rows(connected_components(nodes, edges))
    assert got == want
    comp = dict(got)
    assert comp[4] == 1 and comp[7] == 5 and comp[0] == 0
    assert comp[8] == 8 and comp[9] == 9 and 99 not in comp


def test_fanout_guard_never_fires_at_fixture_scale(spark, sf_smoke):
    """The bytes-guarded single-split fan-out must be a no-op on every
    local fixture (all far below the 1 GiB floor): no Repartition node
    in any bare table scan."""
    for name in catalog.TABLES:
        df = catalog.table(spark, sf_smoke, name)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Repartition" not in plan, name


def test_fanout_guard_treats_one_file_directory_like_a_file(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """A table directory holding exactly one data file (plus Spark's
    ``_SUCCESS`` marker) is guarded like the bare file; a second data file
    takes it out of the guard."""
    import os
    import shutil

    table_dir = tmp_path / "orders.parquet"
    catalog.table(spark, sf_smoke, "orders").coalesce(1).write.parquet(str(table_dir))
    parts = [f for f in os.listdir(table_dir) if f.endswith(".parquet")]
    assert len(parts) == 1 and os.path.exists(table_dir / "_SUCCESS")
    monkeypatch.setattr(catalog, "_FANOUT_MIN_BYTES", 1)
    fanned = catalog.table(spark, str(tmp_path), "orders")
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert _rows(fanned) == _rows(catalog.table(spark, sf_smoke, "orders"))
    shutil.copy(table_dir / parts[0], table_dir / ("copy-" + parts[0]))
    two = catalog.table(spark, str(tmp_path), "orders")
    assert "Repartition" not in two._jdf.queryExecution().optimizedPlan().toString()


def test_fanout_guard_fires_above_floor_and_keeps_pushdown(
    spark, sf_smoke, monkeypatch
):
    """With the floor lowered below fixture size, the guard repartitions
    the single-split scan to defaultParallelism AND Catalyst still pushes
    filters/pruning through the repartition into the parquet scan —
    values unchanged."""
    monkeypatch.setattr(catalog, "_FANOUT_MIN_BYTES", 1)
    fanned = catalog.table(spark, sf_smoke, "orders")
    monkeypatch.undo()
    plain = catalog.table(spark, sf_smoke, "orders")
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    q = fanned.filter(F.col("o_totalprice") > 100000).select(
        "o_orderkey", "o_totalprice"
    )
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan
    assert _rows(q) == _rows(
        plain.filter(F.col("o_totalprice") > 100000).select(
            "o_orderkey", "o_totalprice"
        )
    )


# -- the shared-pass store -------------------------------------------------

# Run in a child process: the store must be seen across a context restart,
# and the shared test session cannot be stopped.
_STORE_PROBE = r"""
import json, sys
from spacex_data_pipeline_spark import queries
from spacex_data_pipeline_spark.session import build_session

def keys_of(app):
    # every module-level dict in queries, so no hand-written store escapes
    return [
        repr(k)
        for v in vars(queries).values() if isinstance(v, dict)
        for k in v if isinstance(k, tuple) and app in k
    ]

sf_dir = sys.argv[1]
s = build_session(app_name="shared-pass-first")
sc = s.sparkContext
first_app = sc.applicationId
built = queries._doc_shingle_sizes(s, sf_dir)
first_rows = sorted(map(tuple, built.collect()))
sc.setJobGroup("again", "again")
again = queries._doc_shingle_sizes(s, sf_dir)
again_jobs = len(sc.statusTracker().getJobIdsForGroup("again"))
s.stop()

s = build_session(app_name="shared-pass-second")
sc = s.sparkContext
sc.setJobGroup("rebuild", "rebuild")
rebuilt = queries._doc_shingle_sizes(s, sf_dir)
rebuild_jobs = len(sc.statusTracker().getJobIdsForGroup("rebuild"))
second_rows = sorted(map(tuple, rebuilt.collect()))
print(json.dumps({
    "same_object": again is built,
    "again_jobs": again_jobs,
    "rebuild_jobs": rebuild_jobs,
    "rows_equal": first_rows == second_rows,
    "rows": len(second_rows),
    "dead_keys": keys_of(first_app),
    "live_keys": keys_of(sc.applicationId),
}))
s.stop()
"""


@pytest.fixture(scope="module")
def store_probe(sf_smoke, tmp_path_factory):
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", _STORE_PROBE, sf_smoke],
        cwd=tmp_path_factory.mktemp("store"), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


def test_shared_pass_reuses_within_a_context(store_probe):
    """A second call of a shared pass on the same context hands out the
    stored object and starts no job."""
    assert store_probe["same_object"]
    assert store_probe["again_jobs"] == 0


def test_shared_pass_rebuilds_and_evicts_after_restart(store_probe):
    """After ``spark.stop()`` and a new session, the pass is rebuilt (it
    runs jobs, and its rows equal the first build's), and no module-level
    dict in ``queries`` still holds an entry of the stopped application."""
    assert store_probe["rebuild_jobs"] > 0
    assert store_probe["rows_equal"] and store_probe["rows"] > 0
    assert store_probe["dead_keys"] == []
    # the sizes pass and the postings it builds on
    assert len(store_probe["live_keys"]) == 2


def test_queries_has_no_hand_written_cache_dict():
    """The shared-pass store is the only module-level empty dict in
    ``queries`` besides REGISTRY, so no hand-written cache can come back
    beside it."""
    import ast
    import inspect

    from spacex_data_pipeline_spark import queries

    empty = []
    for node in ast.parse(inspect.getsource(queries)).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "defaultdict")
        ):
            empty += [t.id for t in targets if isinstance(t, ast.Name)]
    assert sorted(empty) == ["REGISTRY", "_SHARED"]
