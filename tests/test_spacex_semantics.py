"""Golden tests locking the reference's exact semantics (SURVEY.md §5 item 2).

Fixture characteristics required by FIXTURES.md §A: null ``success`` rows
(must count as FAILURES — fct_spacex_launches_by_year.sql:7, README.md:140),
a year with 0 successes and one with 0 failures, an unparsable ``date_utc``
(→ NULL after cast — spacex_api_dag.py:40 ``errors="coerce"``), multi-year
coverage, and duplicated ``launch_id`` across two simulated ingest batches
(the reference's append duplication, spacex_api_dag.py:49).
"""

from __future__ import annotations

import datetime as dt

import pytest

from spacex_data_pipeline_spark.operators.marts import fct_spacex_launches_by_year
from spacex_data_pipeline_spark.operators.staging import stg_spacex_launches
from spacex_data_pipeline_spark.sources import rest_api, sinks

BATCH_TS = dt.datetime(2024, 6, 1, 12, 0, 0)

PAYLOAD = [
    # 2020: 2 success, 1 failure -> 66.67
    {"id": "a1", "name": "L1", "date_utc": "2020-01-05T10:00:00.000Z", "success": True,
     "rocket": "r1", "details": None, "flight_number": 1, "upcoming": False},
    {"id": "a2", "name": "L2", "date_utc": "2020-03-05T10:00:00.000Z", "success": True,
     "rocket": "r1", "details": "ok", "flight_number": 2, "upcoming": False},
    {"id": "a3", "name": "L3", "date_utc": "2020-06-05T10:00:00.000Z", "success": False,
     "rocket": "r2", "details": "boom", "flight_number": 3, "upcoming": False},
    # 2021: all success (0 failures) -> 100.0
    {"id": "b1", "name": "L4", "date_utc": "2021-02-01T00:00:00.000Z", "success": True,
     "rocket": "r1", "details": None, "flight_number": 4, "upcoming": False},
    # 2022: success NULL + explicit failure -> 0 successes, 2 failures
    {"id": "c1", "name": "L5", "date_utc": "2022-07-01T00:00:00.000Z", "success": None,
     "rocket": "r2", "details": None, "flight_number": None, "upcoming": None},
    {"id": "c2", "name": "L6", "date_utc": "2022-08-01T00:00:00.000Z", "success": False,
     "rocket": "r2", "details": None, "flight_number": 6, "upcoming": False},
    # unparsable date -> NULL year group
    {"id": "d1", "name": "L7", "date_utc": "not-a-date", "success": True,
     "rocket": "r1", "details": None, "flight_number": 7, "upcoming": False},
]


@pytest.fixture(scope="module")
def mart_rows(spark):
    raw = rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS)
    fct = fct_spacex_launches_by_year(stg_spacex_launches(raw))
    return {r["year"]: r for r in fct.collect()}


def test_raw_schema_and_coercion(spark):
    raw = rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS)
    assert [f.name for f in raw.schema.fields] == [
        "launch_id", "name", "date_utc", "success", "rocket",
        "details", "flight_number", "upcoming", "load_ts",
    ]
    rows = {r["launch_id"]: r for r in raw.collect()}
    assert rows["c1"]["success"] is None
    assert rows["c1"]["flight_number"] is None
    assert all(r["load_ts"] == BATCH_TS for r in rows.values())  # one stamp per batch


def test_unparsable_date_coerces_to_null(spark):
    raw = rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS)
    stg = stg_spacex_launches(raw)
    bad = {r["launch_id"]: r for r in stg.collect()}["d1"]
    assert bad["date_utc"] is None and bad["year"] is None


def test_null_success_counts_as_failure(mart_rows):
    y2022 = mart_rows[2022]
    assert y2022["launches"] == 2
    assert y2022["successes"] == 0
    assert y2022["failures"] == 2  # NULL success -> CASE ELSE branch
    assert y2022["success_rate_pct"] == 0.0


def test_rate_rounding_and_invariants(mart_rows):
    assert mart_rows[2020]["success_rate_pct"] == 66.67  # round(200/3, 2)
    assert mart_rows[2021]["success_rate_pct"] == 100.0
    for r in mart_rows.values():
        assert r["successes"] + r["failures"] == r["launches"]


def test_zero_failure_and_null_year_groups(mart_rows):
    assert mart_rows[2021]["failures"] == 0
    assert None in mart_rows  # unparsable date row groups under NULL year
    assert mart_rows[None]["launches"] == 1


def test_append_duplication_and_dedup_on_read(spark, tmp_path):
    """The reference's daily append duplicates the full snapshot
    (SURVEY.md §2.4); dedup_on_read must restore one row per launch_id,
    keeping the newest batch."""
    path = str(tmp_path / "raw_launches")
    b1 = rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS)
    b2 = rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS + dt.timedelta(days=1))
    sinks.append(b1, path)
    sinks.append(b2, path)
    raw = spark.read.parquet(path)
    assert raw.count() == 2 * len(PAYLOAD)  # reference behavior: duplicated
    deduped = sinks.dedup_on_read(raw, "launch_id")
    assert deduped.count() == len(PAYLOAD)
    assert all(
        r["load_ts"] == BATCH_TS + dt.timedelta(days=1) for r in deduped.collect()
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"year", "launches", "successes", "failures", "success_rate_pct"} <= set(df.columns)


def test_full_pipeline_end_to_end(spark, tmp_path):
    """README.md:5 flow in one call: API fixture → raw → staging view →
    mart table; snapshot mode is idempotent across re-runs."""
    from spacex_data_pipeline_spark.plans.warehouse import Warehouse, run_spacex_pipeline

    wh = Warehouse(str(tmp_path / "wh"))
    mart1 = run_spacex_pipeline(spark, wh, fetch=lambda: PAYLOAD, load_ts=BATCH_TS)
    rows1 = {r["year"]: r for r in mart1.collect()}
    assert rows1[2020]["success_rate_pct"] == 66.67
    # re-run same snapshot: no duplication (unlike the reference's append)
    mart2 = run_spacex_pipeline(
        spark, wh, fetch=lambda: PAYLOAD, load_ts=BATCH_TS + dt.timedelta(days=1)
    )
    assert {r["year"]: r["launches"] for r in mart2.collect()} == {
        y: r["launches"] for y, r in rows1.items()
    }
    # the staging view is queryable by name (dbt ref() equivalent)
    assert spark.table("stg_spacex_launches").count() == len(PAYLOAD)
    # append mode reproduces the reference's duplication
    wh2 = Warehouse(str(tmp_path / "wh2"))
    run_spacex_pipeline(spark, wh2, fetch=lambda: PAYLOAD, load_ts=BATCH_TS, mode="append")
    mart3 = run_spacex_pipeline(
        spark, wh2, fetch=lambda: PAYLOAD,
        load_ts=BATCH_TS + dt.timedelta(days=1), mode="append",
    )
    assert {r["year"]: r["launches"] for r in mart3.collect()} == {
        y: 2 * r["launches"] for y, r in rows1.items()
    }


# One record per coerce rule: non-bool success/upcoming, malformed, float,
# string and NULL flight_number, a record without ``id`` that falls back to
# ``launch_id``, NULL and non-string details, a non-string name, and text
# that UTF-8 cannot encode.
COERCE_PAYLOAD = [
    {"id": "p1", "name": "ok", "date_utc": "2020-01-01T00:00:00.000Z", "success": True,
     "rocket": "r1", "details": None, "flight_number": 1, "upcoming": False},
    {"id": "p2", "name": 5, "date_utc": None, "success": "yes", "rocket": None,
     "details": {"k": 1}, "flight_number": "12", "upcoming": 1},
    {"launch_id": "p3", "name": "fallback", "success": None, "flight_number": "x",
     "upcoming": None},
    {"id": "p4", "success": 0, "flight_number": 3.9, "details": ["a"]},
    {"id": "p5", "success": False, "flight_number": None, "upcoming": True},
    {"id": None, "launch_id": None, "flight_number": [1]},
    # lone surrogate escapes, as json.loads returns them for "\ud800"
    {"id": "p7", "name": "a\ud800b", "rocket": "\udc00\ud800", "details": "\ud83d\ude00"},
]
COERCE_EXPECTED = [
    ("p1", "ok", "2020-01-01T00:00:00.000Z", True, "r1", None, 1, False, BATCH_TS),
    ("p2", "5", None, None, None, "{'k': 1}", 12, None, BATCH_TS),
    ("p3", "fallback", None, None, None, None, None, None, BATCH_TS),
    ("p4", None, None, None, None, "['a']", 3, None, BATCH_TS),
    ("p5", None, None, False, None, None, None, True, BATCH_TS),
    (None, None, None, None, None, None, None, None, BATCH_TS),
    ("p7", "a\ufffdb", None, None, "\ufffd\ufffd", "\ufffd\ufffd", None, None, BATCH_TS),
]


def test_normalize_pins_every_coerce_rule(spark):
    raw = rest_api.normalize(spark, COERCE_PAYLOAD, load_ts=BATCH_TS)
    assert raw.schema == rest_api.RAW_SCHEMA
    assert [tuple(r) for r in raw.collect()] == COERCE_EXPECTED


def test_normalize_flight_number_outside_int64_is_null(spark):
    """Cast-with-null-on-error covers integers that do not fit a LONG: one
    such record must not fail the whole batch."""
    lo, hi = -(1 << 63), (1 << 63) - 1
    payload = [
        {"id": "big", "flight_number": 2**70},
        {"id": "neg", "flight_number": -(2**64)},
        {"id": "inf", "flight_number": float("inf")},
        {"id": "str", "flight_number": str(2**63)},
        {"id": "hi", "flight_number": hi},
        {"id": "lo", "flight_number": lo},
    ]
    raw = rest_api.normalize(spark, payload, load_ts=BATCH_TS)
    got = {r["launch_id"]: r["flight_number"] for r in raw.collect()}
    assert got == {"big": None, "neg": None, "inf": None, "str": None, "hi": hi, "lo": lo}


def test_normalize_empty_payload_keeps_raw_schema(spark):
    raw = rest_api.normalize(spark, [], load_ts=BATCH_TS)
    assert raw.schema == rest_api.RAW_SCHEMA
    assert raw.collect() == []


def test_normalize_load_ts_is_process_local_instant(spark, tmp_path, monkeypatch):
    """A naive ``load_ts`` is wall time in the process's timezone, as
    Spark's own ``TimestampType.toInternal`` reads it; the session timezone
    (UTC) must not re-interpret it. Checked on the written parquet's raw
    epoch-micros, not through ``collect()``, which would convert back."""
    import glob
    import time

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        want = T.TimestampType().toInternal(BATCH_TS)
        path = str(tmp_path / "raw")
        sinks.append(rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS), path)
    finally:
        monkeypatch.undo()
        time.tzset()
    # the zone took effect: New York wall time is 4 h behind UTC in June
    assert want - T.TimestampNTZType().toInternal(BATCH_TS) == 4 * 3600 * 10**6
    micros = []
    for f in glob.glob(path + "/*.parquet"):
        col = pq.read_table(f, columns=["load_ts"]).column("load_ts")
        micros += col.cast("timestamp[us]").cast("int64").to_pylist()
    assert micros == [want] * len(PAYLOAD)


def test_append_pipeline_lands_batch_as_one_file_without_python_workers(
    spark, tmp_path, monkeypatch
):
    """The raw batch reaches the JVM as Arrow: its lineage has no
    ``PythonRDD`` (no job over it starts a Python worker), and a batch of
    at most 10,000 rows is one partition, so an append writes one file."""
    import os

    from spacex_data_pipeline_spark.plans.warehouse import Warehouse, run_spacex_pipeline

    payload = [
        {"id": f"k{i}", "name": f"n{i}", "date_utc": "2021-05-01T00:00:00.000Z",
         "success": i % 3 != 0, "flight_number": i, "upcoming": False}
        for i in range(10_000)
    ]
    seen = []
    real_append = sinks.append

    def spy(df, path):
        seen.append(df)
        real_append(df, path)

    monkeypatch.setattr(sinks, "append", spy)
    wh = Warehouse(str(tmp_path / "wh"))
    mart = run_spacex_pipeline(spark, wh, fetch=lambda: payload, load_ts=BATCH_TS, mode="append")
    assert {r["year"]: r["launches"] for r in mart.collect()} == {2021: 10_000}
    raw_dir = wh.path("raw", "spacex_launches")
    assert len([f for f in os.listdir(raw_dir) if f.endswith(".parquet")]) == 1
    (raw,) = seen
    lineage = raw._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
