"""Sinks and the catalog read path: compaction and upserts preserve the
data, sorted-bucket writes produce disjoint footers, and the schema memo
skips footer inference only while the files are unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacex_data_pipeline_spark import catalog


def _counting_jobs(spark, fn):
    """Run ``fn`` under a fresh job group -> (its result, jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _listing(path):
    """(name, size, mtime_ns) of every entry directly under ``path``."""
    import os

    return sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(path))


def _footer_rows(path):
    """Row count of each top-level parquet file under ``path``, by name."""
    import glob
    import os

    import pyarrow.parquet as pq

    return {
        os.path.basename(f): pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    }


def _write_files(path, sizes):
    """A table of one pyarrow-written file per entry of ``sizes``, holding
    that many rows of a unique ``v``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    start = 0
    for i, n in enumerate(sizes):
        pq.write_table(pa.table({"v": list(range(start, start + n))}), f"{path}/part-{i}.parquet")
        start += n


def test_compact_merges_small_files(spark, tmp_path):
    """Compaction rewrites append debris into ceil(rows/target) files,
    preserves the data exactly, and leaves no staging dirs behind. The
    row count and the schema come from the footers and a one-file target
    is a coalesce: the write job alone, no count or schema-inference job
    and no shuffle."""
    import os

    from spacex_data_pipeline_spark.sources.sinks import compact

    path = str(tmp_path / "frag")
    df = spark.range(0, 1000).withColumnRenamed("id", "v")
    df.repartition(8).write.mode("overwrite").parquet(path)  # 8-file debris
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before == 8

    after, jobs = _counting_jobs(spark, lambda: compact(spark, path, target_rows_per_file=1000))
    assert after == 1
    assert jobs == 1
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert sorted(r.v for r in back.collect()) == list(range(1000))
    assert not os.path.exists(path + ".__compact_tmp__")
    assert not os.path.exists(path + ".__compact_old__")


@pytest.mark.parametrize("sizes,target", [([1000], 1000), ([250, 250, 250, 250], 250)])
def test_compact_leaves_a_compact_table_alone(spark, tmp_path, sizes, target):
    """Files that already number ceil(rows/target), none over target:
    compact returns their count, starts no Spark job, and touches no
    file (same names, sizes and mtimes)."""
    from spacex_data_pipeline_spark.sources.sinks import compact

    path = str(tmp_path / "compact")
    _write_files(path, sizes)
    before = _listing(path)
    after, jobs = _counting_jobs(spark, lambda: compact(spark, path, target_rows_per_file=target))
    assert after == len(sizes)
    assert jobs == 0
    assert _listing(path) == before


def test_compact_rewrites_the_right_file_count_with_an_oversized_file(spark, tmp_path):
    """Two files for 160 rows at target 100 is the right count, but one
    file holds 150 rows: the table is rewritten into files of at most
    100 rows."""
    from spacex_data_pipeline_spark.sources.sinks import compact

    path = str(tmp_path / "lopsided")
    _write_files(path, [150, 10])
    assert compact(spark, path, target_rows_per_file=100) == 2
    rows = _footer_rows(path)
    assert len(rows) == 2 and max(rows.values()) <= 100
    assert sorted(r.v for r in spark.read.parquet(path).collect()) == list(range(160))


def test_compact_rewrites_partition_directories(spark, tmp_path):
    """A ``k=v`` table is never taken as compact, even when its one data
    file would pass the count and row checks: compaction rewrites it
    into a top-level file, ``k`` becoming a data column."""
    import os

    from spacex_data_pipeline_spark.sources.sinks import compact

    path = str(tmp_path / "parted")
    spark.range(0, 100).withColumn("k", F.lit(1)).coalesce(1).write.partitionBy("k").parquet(path)
    assert os.path.isdir(os.path.join(path, "k=1"))
    assert compact(spark, path, target_rows_per_file=1000) == 1
    assert not os.path.exists(os.path.join(path, "k=1"))
    assert list(_footer_rows(path).values()) == [100]
    back = spark.read.parquet(path)
    assert sorted((r.id, r.k) for r in back.collect()) == [(i, 1) for i in range(100)]


def test_compact_of_an_unlistable_path_counts_and_rewrites(spark, tmp_path, monkeypatch):
    """Where ``os`` cannot list the path (an object store), compact has no
    footers: it counts the rows with a Spark job and rewrites, even a
    table that is already compact."""
    from spacex_data_pipeline_spark.sources.sinks import compact

    path = str(tmp_path / "remote")
    _write_files(path, [1000])
    before = _listing(path)
    monkeypatch.setattr(catalog, "_data_files", lambda p: None)
    after, jobs = _counting_jobs(spark, lambda: compact(spark, path, target_rows_per_file=1000))
    assert after == 1
    # schema inference, the count (a job per AQE stage) and the write
    assert jobs >= 3
    assert {n for n, _, _ in _listing(path)}.isdisjoint(n for n, _, _ in before)
    assert sorted(r.v for r in spark.read.parquet(path).collect()) == list(range(1000))


@pytest.mark.parametrize("target", [None, 300])
def test_upsert_writes_right_sized_files(spark, tmp_path, monkeypatch, target):
    """An upsert into an 8-file table leaves ceil(existing rows /
    TARGET_ROWS_PER_FILE) files holding the merged rows; at the default
    target that is one file, which a following compact leaves alone
    without a Spark job."""
    import math

    from spacex_data_pipeline_spark.sources import sinks

    if target is not None:
        monkeypatch.setattr(sinks, "TARGET_ROWS_PER_FILE", target)
    path = str(tmp_path / "upsert_sized")
    base = spark.range(0, 1000).withColumn("s", F.lit("old"))
    base.repartition(8).write.parquet(path)
    assert len(_footer_rows(path)) == 8
    incoming = spark.createDataFrame([(5, "new"), (2000, "new")], "id long, s string")

    files = sinks.upsert_by_key(spark, incoming, path, "id")
    want = math.ceil(1000 / sinks.TARGET_ROWS_PER_FILE)
    assert files == want and len(_footer_rows(path)) == want
    got = sorted((r.id, r.s) for r in spark.read.parquet(path).collect())
    assert got == sorted([(i, "old") for i in range(1000) if i != 5] + [(5, "new"), (2000, "new")])
    if target is None:
        before = _listing(path)
        assert _counting_jobs(spark, lambda: sinks.compact(spark, path)) == (1, 0)
        assert _listing(path) == before


def _plain_read(spark, path, footers):
    return spark.read.parquet(path)


def test_upsert_starts_no_schema_inference_job(spark, tmp_path, monkeypatch):
    """Reading the existing rows with the footers' Spark schema saves
    exactly the one job a plain read spends inferring it: the same upsert
    into a twin table with the plain read starts one job more, and both
    leave the same rows."""
    from spacex_data_pipeline_spark.sources import sinks

    base = spark.range(0, 200).withColumn("s", F.lit("old"))
    incoming = spark.createDataFrame([(5, "new"), (900, "new")], "id long, s string")
    pinned, plain = str(tmp_path / "pinned"), str(tmp_path / "plain")
    for p in (pinned, plain):
        base.repartition(4).write.parquet(p)
    _, pinned_jobs = _counting_jobs(
        spark, lambda: sinks.upsert_by_key(spark, incoming, pinned, "id")
    )
    monkeypatch.setattr(sinks, "_read_table", _plain_read)
    _, plain_jobs = _counting_jobs(
        spark, lambda: sinks.upsert_by_key(spark, incoming, plain, "id")
    )
    assert plain_jobs - pinned_jobs == 1
    assert sorted(map(str, spark.read.parquet(pinned).collect())) == sorted(
        map(str, spark.read.parquet(plain).collect())
    )


def test_footer_schema_equals_inferred_schema_on_a_raw_table(spark, tmp_path):
    """On the raw SpaceX table (two appended batches, then an upsert
    rewrite) the schema pinned from the footers is the schema a plain
    read infers, and pinning it starts no job."""
    import datetime as dt

    from spacex_data_pipeline_spark.sources import rest_api, sinks
    from tests.test_spacex_semantics import BATCH_TS, PAYLOAD

    path = str(tmp_path / "raw")
    for day in range(2):
        sinks.append(
            rest_api.normalize(spark, PAYLOAD, load_ts=BATCH_TS + dt.timedelta(days=day)),
            path,
        )

    def check():
        footers = sinks._file_rows(path)
        assert len({s for _, _, s in footers}) == 1
        pinned, jobs = _counting_jobs(spark, lambda: sinks._read_table(spark, path, footers))
        assert jobs == 0
        assert pinned.schema == spark.read.parquet(path).schema
        assert sorted(map(str, pinned.collect())) == sorted(
            map(str, spark.read.parquet(path).collect())
        )

    check()
    batch = rest_api.normalize(spark, PAYLOAD[:1], load_ts=BATCH_TS + dt.timedelta(days=2))
    sinks.upsert_by_key(spark, batch, path, "launch_id")
    check()


@pytest.mark.parametrize("layout", ["pyarrow", "mixed", "summary"])
def test_read_falls_back_to_inference_unless_footers_agree(spark, tmp_path, layout):
    """Files without Spark's schema string (pyarrow-written), files whose
    strings differ, or a ``_common_metadata`` summary file (which Spark's
    inference reads first) get a plain read, which infers with a job."""
    from spacex_data_pipeline_spark.sources import sinks

    path = str(tmp_path / layout)
    if layout == "pyarrow":
        _write_files(path, [10, 10])
    else:
        spark.range(0, 10).withColumnRenamed("id", "v").write.parquet(path)
        if layout == "mixed":  # nullable v: a different schema string
            spark.createDataFrame([(10,)], "v long").write.mode("append").parquet(path)
        else:
            import glob

            import pyarrow.parquet as pq

            part = glob.glob(f"{path}/*.parquet")[0]
            pq.write_metadata(pq.read_schema(part), f"{path}/_common_metadata")
    footers = sinks._file_rows(path)
    df, jobs = _counting_jobs(spark, lambda: sinks._read_table(spark, path, footers))
    assert jobs == 1
    assert len({s for _, _, s in footers}) == (1 if layout != "mixed" else 2)


def test_interrupted_swap_backup_is_never_deleted(spark, tmp_path, monkeypatch):
    """A crash between the swap's two renames leaves the table only at
    the ``.__upsert_old__`` backup. An append then recreates the path;
    the next upsert must refuse to run, naming the backup, and leave the
    backup's files byte-identical."""
    import os
    import re

    from spacex_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    old = path + ".__upsert_old__"
    spark.range(0, 100).withColumn("s", F.lit("old")).write.parquet(path)
    batch = spark.createDataFrame([(1, "new")], "id long, s string")

    real_rename = os.rename

    def crash_on_swap_in(src, dst):
        if str(src).endswith(".__upsert_tmp__"):
            raise OSError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(OSError, match="crash between the renames"):
        sinks.upsert_by_key(spark, batch, path, "id")
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path) and os.path.isdir(old)

    def contents(d):
        return {e.name: open(e.path, "rb").read() for e in os.scandir(d)}

    backup = contents(old)
    sinks.append(batch, path)
    with pytest.raises(FileExistsError, match=re.escape(old)):
        sinks.upsert_by_key(spark, batch, path, "id")
    assert contents(old) == backup
    assert sorted(r.id for r in spark.read.parquet(old).collect()) == list(range(100))


def test_upsert_by_key_replaces_and_inserts(spark, sf_oracle, tmp_path):
    """upsert: matched keys replaced (no duplicates on re-delivery),
    unmatched inserted, untouched rows survive byte-for-byte; staging
    dirs are gone afterward."""
    import os

    from spacex_data_pipeline_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "upsert_tbl")
    catalog.table(spark, sf_oracle, "orders").limit(1000).write.parquet(path)
    # derive incoming from the WRITTEN table, not a re-evaluated limit()
    # (limit without ORDER BY has no cross-action determinism guarantee)
    base = spark.read.parquet(path)

    # materialize incoming OFF the table files: every upsert swaps the
    # directory, so a lazy DataFrame over the old listing dies on re-use
    # (the path-based staleness hazard compact's contract documents)
    incoming_rows = (
        base.orderBy("o_orderkey").limit(10)
        .withColumn("o_orderstatus", F.lit("UPDATED"))
        .unionByName(
            base.orderBy("o_orderkey").limit(1)
            .withColumn("o_orderkey", F.lit(999_999_999).cast("long"))
            .withColumn("o_orderstatus", F.lit("INSERTED"))
        )
        .collect()
    )
    incoming = spark.createDataFrame(incoming_rows, base.schema)
    upsert_by_key(spark, incoming, path, "o_orderkey")
    got = spark.read.parquet(path)
    assert got.count() == 1001  # 10 replaced in place + 1 new
    assert got.filter(F.col("o_orderstatus") == "UPDATED").count() == 10
    assert got.filter(F.col("o_orderstatus") == "INSERTED").count() == 1
    # keys never duplicate
    assert got.select("o_orderkey").distinct().count() == 1001
    # idempotent: re-delivering the same batch changes nothing
    upsert_by_key(spark, incoming, path, "o_orderkey")
    again = spark.read.parquet(path)
    assert again.count() == 1001
    assert again.filter(F.col("o_orderstatus") == "UPDATED").count() == 10
    assert not os.path.exists(path + ".__upsert_tmp__")
    assert not os.path.exists(path + ".__upsert_old__")
    # null keys behave as one more key value: re-delivery replaces, never
    # duplicates (null-safe anti-join). Materialize the incoming rows off
    # the table files first: each swap replaces the directory, so a lazy
    # DataFrame over the OLD listing would die mid-upsert (the path-based
    # staleness hazard compact's contract documents).
    rows = [
        r.asDict() | {"o_orderkey": None, "o_orderstatus": "NULLKEY"}
        for r in incoming_rows[:1]
    ]
    null_row = spark.createDataFrame(
        [tuple(r[f.name] for f in base.schema.fields) for r in rows], base.schema
    )
    upsert_by_key(spark, null_row, path, "o_orderkey")
    upsert_by_key(spark, null_row, path, "o_orderkey")
    final = spark.read.parquet(path)
    assert final.filter(F.col("o_orderkey").isNull()).count() == 1
    assert final.count() == 1002
    # intra-batch duplicate keys collapse to ONE row (ADVICE r5: SQL
    # MERGE would reject such a source; the sink dedupes — deterministic
    # min-row-hash survivor) and the table keeps exactly one row per key
    dup_rows = [
        incoming_rows[0].asDict() | {"o_orderstatus": "DUPA"},
        incoming_rows[0].asDict() | {"o_orderstatus": "DUPB"},
    ]
    dup_batch = spark.createDataFrame(
        [tuple(r[f.name] for f in base.schema.fields) for r in dup_rows],
        base.schema,
    )
    upsert_by_key(spark, dup_batch, path, "o_orderkey")
    after = spark.read.parquet(path)
    key0 = incoming_rows[0].o_orderkey
    assert after.filter(F.col("o_orderkey") == key0).count() == 1
    assert after.filter(
        F.col("o_orderstatus").isin("DUPA", "DUPB")
    ).count() == 1
    # deterministic: re-running the same dup batch picks the same winner
    winner = after.filter(F.col("o_orderkey") == key0).collect()[0]
    upsert_by_key(spark, dup_batch, path, "o_orderkey")
    again2 = spark.read.parquet(path).filter(F.col("o_orderkey") == key0)
    assert again2.collect() == [winner]


def test_upsert_by_canonical_url_key(spark, tmp_path):
    """Canonical-URL-keyed ingest (VERDICT r6 next #7): spelling variants
    of one resource — case, www (repeated), :443, utm params (any case),
    fragments, trailing slashes — must land on ONE table row across
    upserts, because the key is canonicalize_url(raw), not the raw URL.
    Idempotence of the canonicalizer is what makes re-canonicalizing an
    already-ingested key a no-op."""
    from spacex_data_pipeline_spark.functions.urls import canonicalize_url
    from spacex_data_pipeline_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "url_tbl")

    def batch(rows):
        return (
            spark.createDataFrame(rows, "raw_url string, title string")
            .withColumn("url_key", canonicalize_url(F.col("raw_url")))
        )

    batch(
        [
            ("https://example.com/a", "v1"),
            ("https://other.com/x", "keep"),
        ]
    ).write.parquet(path)

    # every row here is a re-spelling of https://example.com/a
    incoming = batch(
        [
            ("HTTPS://WWW.Example.com:443/a", "v2"),
            ("https://www.www.example.com/a/#frag", "v2"),
            ("https://example.com/a?UTM_SOURCE=feed", "v2"),
        ]
    ).collect()
    upsert_by_key(spark, spark.createDataFrame(
        incoming, "raw_url string, title string, url_key string"
    ), path, "url_key")

    got = spark.read.parquet(path)
    assert got.count() == 2  # one canonical row replaced, one untouched
    assert got.select("url_key").distinct().count() == 2
    a = got.filter(F.col("url_key") == "https://example.com/a").collect()
    assert len(a) == 1 and a[0].title == "v2"
    assert got.filter(F.col("title") == "keep").count() == 1


def test_write_sorted_buckets_footers_are_disjoint(spark, sf_oracle, tmp_path):
    """The deterministic sorted-bucket writer's on-disk footers must show
    the skippable layout it promises: one file per bucket, bucket key
    ranges non-overlapping except possibly at a shared boundary value
    (a tie split across adjacent buckets by the ntile), and every row
    accounted for."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.sources.sinks import write_sorted_buckets

    li = catalog.table(spark, sf_oracle, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    path = str(tmp_path / "sorted_li")
    n_files = write_sorted_buckets(
        li,
        path,
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        grain=F.date_trunc("month", F.col("l_shipdate")),
        n_buckets=8,
    )
    assert n_files == 8  # one file per bucket
    spans = []
    total = 0
    for d in sorted(
        glob.glob(f"{path}/__bucket=*"), key=lambda p: int(p.rsplit("=", 1)[1])
    ):
        (fpath,) = glob.glob(f"{d}/*.parquet")
        pf = pq.ParquetFile(fpath)
        idx = pf.schema_arrow.get_field_index("l_shipdate")
        md = pf.metadata
        total += md.num_rows
        st = md.row_group(0).column(idx).statistics
        mn, mx = st.min, st.max
        for rg in range(1, md.num_row_groups):
            s = md.row_group(rg).column(idx).statistics
            mn, mx = min(mn, s.min), max(mx, s.max)
        spans.append((mn, mx))
    assert total == li.count()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo  # disjoint up to a shared boundary value


def test_write_sorted_buckets_more_buckets_than_rows(spark, tmp_path):
    """n_buckets > |rows| degrades gracefully: NTILE hands each row its
    own bucket, only non-empty bucket dirs are written, and the data
    round-trips sorted and complete."""
    import glob

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.sources.sinks import write_sorted_buckets

    df = spark.createDataFrame([(3, 30), (1, 10), (2, 20)], "k long, v long")
    path = str(tmp_path / "tiny_sorted")
    n_files = write_sorted_buckets(
        df, path, ["k"], grain=F.col("k"), n_buckets=8
    )
    assert n_files == 3  # one file per occupied bucket, empties skipped
    dirs = sorted(
        int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{path}/__bucket=*")
    )
    assert dirs == [0, 1, 2]
    back = spark.read.parquet(path)
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, 10), (2, 20), (3, 30)]


# -- catalog.table schema memo ---------------------------------------------

# Run in a child process: the memo must serve a SparkContext started after
# the one that inferred, and the shared test session cannot be stopped.
_FRESH_CONTEXT_PROBE = r"""
import json, sys
from spacex_data_pipeline_spark import catalog
from spacex_data_pipeline_spark.session import build_session

sf_dir, nanos_dir = sys.argv[1:3]
s = build_session(app_name="schema-memo-first")
inferred = {n: catalog.table(s, sf_dir, n).schema.json() for n in catalog.TABLES}
healed = catalog.table(s, nanos_dir, "events")
first_rows = sorted(map(tuple, healed.collect()))
want_rows = sorted(map(tuple, catalog.table(s, sf_dir, "events").collect()))
s.stop()

s = build_session(app_name="schema-memo-second")
sc = s.sparkContext
sc.setJobGroup("memo", "memo")
pinned = {n: catalog.table(s, sf_dir, n).schema.json() for n in catalog.TABLES}
healed = catalog.table(s, nanos_dir, "events")
jobs = len(sc.statusTracker().getJobIdsForGroup("memo"))
second_rows = sorted(map(tuple, healed.collect()))
s.stop()
print(json.dumps({
    "jobs": jobs,
    "schemas_equal": pinned == inferred,
    "ts_type": healed.schema["ts"].dataType.simpleString(),
    "rows_equal": first_rows == second_rows == want_rows,
    "rows": len(second_rows),
}))
"""


def test_schema_memo_fresh_context_runs_no_footer_job(sf_smoke, tmp_path):
    """Once a process has inferred a table's schema, a read on a later
    SparkContext pins it and starts no job: all 10 fixture tables keep
    their inferred schemas, and a TIMESTAMP(NANOS) events file still
    heals to ``timestamp`` with the same rows."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(sf_smoke, "events.parquet"))
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev.column("ts").cast(pa.timestamp("ns")))
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(ev, nanos_dir / "events.parquet", version="2.6")
    assert pq.read_schema(nanos_dir / "events.parquet").field("ts").type.unit == "ns"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", _FRESH_CONTEXT_PROBE, sf_smoke, str(nanos_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    assert got["jobs"] == 0
    assert got["schemas_equal"]
    assert got["ts_type"] == "timestamp"
    assert got["rows_equal"] and got["rows"] > 0


def _read_counting_jobs(spark, sf_dir, name):
    """catalog.table under a fresh job group -> (df, jobs it started)."""
    return _counting_jobs(spark, lambda: catalog.table(spark, sf_dir, name))


def test_schema_memo_sees_a_rewritten_file(spark, tmp_path):
    """Rewriting the file at the same path with an extra column is a new
    file version: the column shows up instead of the recorded schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "part.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert catalog.table(spark, str(tmp_path), "part").columns == ["k"]
    assert _read_counting_jobs(spark, str(tmp_path), "part")[1] == 0

    pq.write_table(pa.table({"k": [1, 2], "extra": ["a", "b"]}), path)
    df = catalog.table(spark, str(tmp_path), "part")
    assert df.columns == ["k", "extra"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def test_schema_memo_misses_when_a_directory_gains_a_part_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "orders.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1]}), d / "part-0.parquet")
    df, jobs = _read_counting_jobs(spark, str(tmp_path), "orders")
    assert jobs >= 1  # the first read infers
    df, jobs = _read_counting_jobs(spark, str(tmp_path), "orders")
    assert jobs == 0  # a hit pins the recorded schema

    pq.write_table(pa.table({"k": [2]}), d / "part-1.parquet")
    df, jobs = _read_counting_jobs(spark, str(tmp_path), "orders")
    assert jobs >= 1
    assert sorted(r.k for r in df.collect()) == [1, 2]


def test_schema_memo_keys_on_binary_as_string(spark, tmp_path):
    """A conf the parquet schema converter reads is part of the key:
    flipping spark.sql.parquet.binaryAsString changes the read type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"b": pa.array([b"x", b"y"], pa.binary())}),
        tmp_path / "part.parquet",
    )

    def read_type():
        df = catalog.table(spark, str(tmp_path), "part")
        return df.schema["b"].dataType.simpleString(), sorted(r.b for r in df.collect())

    assert read_type() == ("binary", [bytearray(b"x"), bytearray(b"y")])
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert read_type() == ("string", ["x", "y"])
    finally:
        spark.conf.set(key, prev)
    assert read_type()[0] == "binary"
