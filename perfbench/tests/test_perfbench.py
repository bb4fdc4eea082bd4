"""Tests of the benchmark itself: determinism of its inputs, the metric
list against BENCHMARK.json, the event-log parser on a real log, the span
tracer, and a smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import types

import pytest

import check
import datagen
import run
import tracing
from conftest import BENCH, ROOT


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_payloads():
    a = json.dumps(datagen.launch_snapshot(7, 3, 500, 5, 10), sort_keys=True)
    b = json.dumps(datagen.launch_snapshot(7, 3, 500, 5, 10), sort_keys=True)
    assert a == b
    assert a != json.dumps(datagen.launch_snapshot(8, 3, 500, 5, 10), sort_keys=True)
    snap = datagen.launch_snapshot(7, 3, 500, 5, 10)
    fixes = datagen.correction_batch(7, 3, snap, 50)
    assert json.dumps(fixes) == json.dumps(datagen.correction_batch(7, 3, snap, 50))


def test_snapshot_redelivers_every_launch():
    day0 = datagen.launch_snapshot(1, 0, 500, 5, 10)
    day2 = datagen.launch_snapshot(1, 2, 500, 5, 10)
    assert len(day2) == len(day0) + 10
    # a launch reads the same every day unless it left the upcoming window
    assert day2[:490] == day0[:490]
    assert all(r["upcoming"] and r["success"] is None for r in day2[-10:])
    assert any(not r["upcoming"] for r in day2[490:500])
    fixes = datagen.correction_batch(1, 2, day2, 50)
    assert len({r["id"] for r in fixes}) == 50


def test_same_seed_gives_byte_identical_tables(tmp_path):
    datagen.write_star_schema(str(tmp_path / "a"), 5, 0.001)
    datagen.write_star_schema(str(tmp_path / "b"), 5, 0.001)
    datagen.write_star_schema(str(tmp_path / "c"), 6, 0.001)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_shapes_do_not_depend_on_seed():
    a, b = datagen.star_schema(1, 0.001), datagen.star_schema(2, 0.001)
    assert {k: t.num_rows for k, t in a.items()} == {k: t.num_rows for k, t in b.items()}
    dups = [sum(t.endswith(" dup") for t in s["documents"]["text"].to_pylist()) for s in (a, b)]
    assert dups[0] == dups[1] > 0


def test_payload_exercises_the_coerce_rules():
    recs = datagen.launch_snapshot(1, 0, 2000, 5, 10)
    assert any(r["success"] is None for r in recs)
    assert any(r["success"] == "yes" for r in recs)  # non-bool, coerced to NULL
    assert any(isinstance(r["flight_number"], str) for r in recs)
    assert any(r["date_utc"] in ("", "TBD", "not-a-date") for r in recs)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert spec["paths"] == [os.path.basename(BENCH)]


def test_pinned_names_fail_loudly():
    import workloads

    assert workloads.pinned(workloads.REGISTRY_COLD) == workloads.REGISTRY_COLD
    with pytest.raises(KeyError, match="no_such_entry"):
        workloads.pinned(["fct_orders_by_year", "no_such_entry"])


def test_row_hash_ignores_row_and_column_order():
    a = check.row_hash(["b", "a"], [(1, "x"), (2.5, None)])
    b = check.row_hash(["a", "b"], [(None, 2.5), ("x", 1)])
    assert a == b
    assert a != check.row_hash(["a", "b"], [(None, 2.5), ("y", 1)])


def test_tracer_self_time_and_patching():
    mod = types.ModuleType("pkg_under_test")
    mod.inner = lambda: None
    sys.modules[mod.__name__] = mod
    try:
        tr = tracing.Tracer("pkg_under_test")
        tr.wrap_everywhere(mod, "inner", name="inner")
        outer = tr.open("outer")
        mod.inner()
        tr.close(outer)
        assert [s.name for s in tr.spans] == ["outer", "inner"]
        assert tr.spans[1].parent == 0
        dur = tr.spans[0].end - tr.spans[0].start
        child = tr.spans[1].end - tr.spans[1].start
        assert tr.self_time(0) == pytest.approx(dur - child)
        tr.restore()
        assert not hasattr(mod.inner, "__wrapped__")
    finally:
        del sys.modules[mod.__name__]


def test_event_log_parser_on_a_real_log(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log = tmp_path / "log"
    log.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log))
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    try:
        spark.sparkContext.setJobGroup("g:agg", "g:agg")
        spark.range(0, 1000, numPartitions=2).groupBy((F.col("id") % 7).alias("k")).count().collect()
        spark.sparkContext.setJobGroup("g:plain", "g:plain")
        spark.range(10, numPartitions=2).collect()
    finally:
        spark.stop()
    groups = tracing.parse_event_log(str(log))
    assert groups["g:plain"]["jobs"] == 1
    assert groups["g:plain"]["tasks"] == 2
    agg = groups["g:agg"]
    assert agg["jobs"] >= 1 and agg["stages"] >= 2 and agg["tasks"] >= 2
    assert agg["shuffle_write_bytes"] > 0 and agg["shuffle_read_bytes"] > 0
    both = tracing.rollup(groups, lambda g: g.startswith("g:"))
    assert both["tasks"] == agg["tasks"] + 2


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["registry_cold_sf0.001", "elt_daily_append"])
def test_workload_smoke(workload, trace):
    """One pass of each workload per loop (``--seconds`` below one pass),
    checked, printing exactly the metrics BENCHMARK.json lists."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1", "--seconds", "0.01", "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    if trace:
        assert set(out["metrics"]) == set(run.PER_LAYER)
        assert out["metrics"]["exec.jobs"]["value"] > 0
    else:
        assert set(out["metrics"]) == set(run.END_TO_END)
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_unknown_workload_fails():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "nope", "--seed", "1", "--seconds", "1"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
