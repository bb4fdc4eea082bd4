"""Scale-pattern correctness: salting and bucketing change the PLAN, never
the RESULT — and the plan change is the one we want."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacex_data_pipeline_spark import catalog
from spacex_data_pipeline_spark.operators.relational import salted_join
from tests.test_plans import plan_of


def test_salted_join_matches_plain_join(spark, sf_oracle):
    li = catalog.table(spark, sf_oracle, "lineitem").select("l_orderkey", "l_quantity")
    o = catalog.table(spark, sf_oracle, "orders").select("o_orderkey", "o_orderstatus")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(li, o, "l_orderkey", "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_oracle):
    # default warehouse dir (./spark-warehouse, gitignored) — the
    # warehouse.dir conf is static and can't be pointed at a tmpdir
    import os
    import shutil

    li = catalog.table(spark, sf_oracle, "lineitem").select("l_orderkey", "l_extendedprice")
    o = catalog.table(spark, sf_oracle, "orders").select("o_orderkey", "o_custkey")
    # a crashed prior session leaves the table DIRECTORY while the
    # in-memory catalog forgets the table: DROP TABLE is then a no-op and
    # saveAsTable dies on LOCATION_ALREADY_EXISTS (the r4 stale-state
    # setup error) — clear the physical location too
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for df, name, key in ((li, "li_bucketed", "l_orderkey"), (o, "o_bucketed", "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    yield "li_bucketed", "o_bucketed"
    for name in ("li_bucketed", "o_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_is_shuffle_free(spark, sf_oracle, bucketed_tables):
    """Co-located join: both sides bucketed on the join key with the same
    bucket count ⇒ SortMergeJoin with NO Exchange on either side — the
    pre-partitioning pattern that removes the fact⋈fact shuffle at 100 TB."""
    li_b, o_b = bucketed_tables
    # disable broadcast so the planner must consider the bucketed layout
    # (at real scale neither fact side broadcasts anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(li_b).join(
            spark.table(o_b), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        # no shuffle before the join on either input — buckets ARE the
        # partitioning
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan
        # and it still computes the right thing
        li = catalog.table(spark, sf_oracle, "lineitem")
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_shingle_df_cap_bounds_boilerplate_blowup(spark):
    """Adversarial stopword/boilerplate corpus: every doc shares one hot
    phrase. Uncapped, the shared-shingle join materializes all C(n,2)
    pairs; with a df cap the hot shingles drop out and the join
    materializes nothing (the docs share nothing else)."""
    from spacex_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply to all users of this site"
    rows = [
        (i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = ngram_jaccard_pairs(df, threshold=0.0).count()
    assert uncapped == 60 * 59 // 2  # every pair collides on boilerplate
    capped = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=10).count()
    assert capped == 0  # hot shingles gone -> no candidate explosion


def test_minhash_bucket_cap_bounds_degenerate_buckets(spark):
    """Near-identical boilerplate docs all land in the same LSH buckets;
    the bucket cap drops those buckets whole before pair expansion."""
    from spacex_data_pipeline_spark.operators.dedup import minhash_lsh_candidates

    boiler = " ".join(f"w{j}" for j in range(30))
    rows = [(i, boiler) for i in range(40)]  # 40 identical docs
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = minhash_lsh_candidates(df).count()
    assert uncapped == 40 * 39 // 2
    capped = minhash_lsh_candidates(df, max_bucket_size=10).count()
    assert capped == 0


def test_skew_guards_are_noops_at_loose_caps(spark, sf_oracle):
    """With caps no real bucket/shingle reaches, guarded and unguarded
    runs must be identical on the fixture corpus — the guard changes the
    blowup behavior, never the default results (oracle mode stays exact)."""
    from spacex_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = catalog.table(spark, sf_oracle, "documents")
    base = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    guarded = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.2, max_shingle_df=10**6).collect()
    }
    assert guarded == base
    mh_base = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_candidates(docs).collect()
    }
    mh_guarded = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_candidates(docs, max_bucket_size=10**6).collect()
    }
    assert mh_guarded == mh_base


def test_connected_components_warns_when_unconverged(spark, monkeypatch):
    """A path graph of diameter d needs ~d rounds of min-label
    propagation; with CC_MAX_ITER below that the operator must WARN
    rather than silently return under-merged labels (ADVICE r2)."""
    import warnings

    from spacex_data_pipeline_spark.operators import dedup
    from spacex_data_pipeline_spark.operators.dedup import connected_components

    n = 8
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        monkeypatch.setattr(dedup, "CC_MAX_ITER", 2)
        out = connected_components(nodes, chain).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    assert len({r.component for r in out}) > 1  # visibly under-merged

    # and with enough rounds: converged, one component, no warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        monkeypatch.setattr(dedup, "CC_MAX_ITER", n)
        out = connected_components(nodes, chain).collect()
    assert not any("did not converge" in str(w.message) for w in caught)
    assert {r.component for r in out} == {0}


def test_caps_drop_only_hot_key_pairs(spark):
    """Mixed corpus (genuine near-dups + boilerplate-linked docs): a df
    cap may only REMOVE candidates, and every removed pair must owe at
    least one shared shingle to the hot set — pairs connected purely by
    non-hot shingles survive with their jaccard untouched or lowered,
    never invented (VERDICT r2 'next round' #4 property)."""
    from spacex_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_docs,
    )

    boiler = "subscribe to our newsletter for updates today"
    rows = []
    for i in range(30):  # boilerplate-linked: share ONLY the hot phrase
        rows.append((i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i}"))
    # genuine near-dup pair with no boilerplate
    rows.append((100, "the quick brown fox jumps over the lazy dog tonight"))
    rows.append((101, "the quick brown fox jumps over the lazy dog today"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=10).collect()
    }
    # capped ⊆ uncapped, and no pair's jaccard ever increases
    assert set(capped) <= set(uncapped)
    assert all(capped[p] <= uncapped[p] for p in capped)
    # the genuine pair survives exactly (it shares no hot shingle)
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # every dropped pair is hot-connected: both docs carry a hot shingle
    sh = shingle_docs(df)
    from pyspark.sql import functions as SF

    hot_docs = {
        r.doc_id
        for r in sh.join(
            sh.groupBy("shingle").count().filter(SF.col("count") > 10),
            "shingle",
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    dropped = set(uncapped) - set(capped)
    assert dropped  # the boilerplate pairs did get dropped
    assert all(a in hot_docs and b in hot_docs for a, b in dropped)


def test_hof_cosine_confined_to_sanctioned_call_sites():
    """cosine_sim's aggregate/zip_with form is CodegenFallback —
    interpreted per row — so it may only score SMALL candidate sets: the
    exact re-score after a BLAS prefilter, bounded probe/cell scans, or
    the clearly-labeled brute-force test baseline. AST-scan every call
    site in the package against the allowlist so a future query can't
    quietly reintroduce per-corpus HOF scoring (VERDICT r2 #7)."""
    import ast
    import pathlib

    import spacex_data_pipeline_spark as pkg_mod

    allow = {
        # exact re-score of BLAS-tile candidates (bounded by tiles*k)
        ("operators/similarity.py", "_exact_rescore_topk"),
        # brute-force O(n^2) TEST BASELINE, never registered
        ("operators/dedup.py", "embedding_cosine_pairs"),
        # exact re-score of the BLAS tile prefilter's candidates
        ("operators/dedup.py", "embedding_cosine_pairs_blocked"),
        # in-cell scoring, bounded by cell size (SemDeDup shape)
        ("operators/dedup.py", "embedding_cosine_pairs_ivf"),
        # quantization fidelity AUDIT: two folds per row over the
        # vector's own pair (original, dequantized) — linear diagnostic
        # pass, not a pairwise scorer; zero-norm edge needs cosine_sim's
        # NaN instead of an ANSI DIVIDE_BY_ZERO
        ("queries.py", "embedding_quantization_error"),
        # final scoring of the SELECTED pairs only — |queries|·4 rows
        # (one positive + three negatives per query), never the corpus
        ("queries.py", "contrastive_pairs_embeddings"),
        # exact LTR rescore of the BLAS-tile max's survivors — ~1 bench
        # row per corpus row (ties within 1e-9), never corpus×bench
        ("operators/similarity.py", "bench_max_cosine"),
    }
    pkg = pathlib.Path(pkg_mod.__file__).parent
    found = set()

    class Visitor(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel = rel
            self.stack = []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            fn = node.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            if name == "cosine_sim":
                found.add((self.rel, self.stack[-1] if self.stack else "<module>"))
            self.generic_visit(node)

    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg))
        Visitor(rel).visit(ast.parse(py.read_text()))

    assert found <= allow, f"unsanctioned HOF-cosine call sites: {found - allow}"


def test_connected_components_respects_the_node_set(spark):
    """Contract: components OF THE GIVEN NODE SET. An edge endpoint
    outside `nodes` must neither become a component label nor bridge two
    in-set nodes (the r5 touched-nodes optimization must not widen the
    semantics: callers legitimately pass a filtered node subset with a
    pre-filter edge list)."""
    from spacex_data_pipeline_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(2,), (3,), (5,), (6,)], "doc_id long")
    # 1 is OUTSIDE the node set; 2-1 and 1-3 would bridge 2 and 3 through
    # it; 5-6 is a normal in-set edge
    edges = spark.createDataFrame(
        [(2, 1), (1, 3), (5, 6)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in connected_components(nodes, edges).collect()}
    assert set(comp) == {2, 3, 5, 6}          # only the given nodes
    assert comp[2] == 2 and comp[3] == 3      # NOT bridged through 1
    assert comp[5] == 5 and comp[6] == 5      # in-set edge still merges
    assert not any(c == 1 for c in comp.values())  # 1 never a label


def test_winnowing_fp_cap_drops_only_boilerplate_pairs(spark):
    """max_fp_df on the winnowing pair search mirrors the shingle join's
    guard: boilerplate docs (one shared page, all fingerprints hot) stop
    producing pairs under the cap, while genuine near-dup pairs — whose
    fingerprints are rare — survive untouched."""
    from spacex_data_pipeline_spark.operators.text import winnowing_near_pairs

    boiler = " ".join(f"terms{i} of service apply here now" for i in range(4))
    rows = [(i, boiler) for i in range(30)]  # 30 identical boilerplate docs
    # two genuine near-dups sharing a long unique run
    run = " ".join(f"unique{i}" for i in range(20))
    rows += [(100, run + " alpha beta"), (101, "gamma " + run)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {
        (r.doc_a, r.doc_b) for r in winnowing_near_pairs(df).collect()
    }
    assert (100, 101) in uncapped
    assert len(uncapped) > 30 * 29 // 2  # boilerplate all-pairs present
    capped = {
        (r.doc_a, r.doc_b)
        for r in winnowing_near_pairs(df, max_fp_df=10).collect()
    }
    assert (100, 101) in capped          # rare-fp pair survives
    assert not any(a < 100 for a, _ in capped)  # hot boilerplate pairs gone


def test_prefix_filtered_jaccard_equals_equijoin_exact(spark, sf_oracle):
    """PPJoin prefix filtering must reproduce the equi-join path's exact
    pairs — on the clean fixture AND on the boilerplate-skewed corpus
    where the equi-join needs a df cap (prefix filtering's whole claim is
    exactness without that cap)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_prefix_filtered,
        ngram_jaccard_pairs,
    )

    docs = catalog.table(spark, sf_oracle, "documents").limit(200)
    boiler = " ".join(f"boilerplate{i} legal notice terms apply" for i in range(9))
    skewed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit(boiler)).otherwise(F.col("text")),
    )
    for corpus in (docs, skewed):
        want = {
            (r.doc_a, r.doc_b): round(r.jaccard, 9)
            for r in ngram_jaccard_pairs(corpus, threshold=0.2).collect()
        }
        got = {
            (r.doc_a, r.doc_b): round(r.jaccard, 9)
            for r in jaccard_pairs_prefix_filtered(corpus, threshold=0.2).collect()
        }
        assert got == want and len(want) > 0


def test_containment_df_cap_is_monotone_and_bounded(spark, monkeypatch):
    """The containment skew cap mirrors the Jaccard cap's contract:
    capped pairs ⊆ uncapped pairs, reported containment never
    increases under the cap, and a genuine embedded pair sharing no
    hot shingle survives exactly. Every pair sharing a shingle counts
    here (threshold 0, no size floor)."""
    from spacex_data_pipeline_spark.operators import dedup
    from spacex_data_pipeline_spark.operators.dedup import containment_pairs

    monkeypatch.setattr(dedup, "CONTAINMENT_PCT", 0)
    monkeypatch.setattr(dedup, "CONTAINMENT_MIN_SHINGLES", 1)

    boiler = "subscribe to our newsletter for updates today"
    rows = []
    for i in range(30):  # boilerplate-linked: share ONLY the hot phrase
        rows.append((i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i}"))
    small = "the quick brown fox jumps over the lazy dog"
    rows.append((100, small))
    rows.append((101, small + " again tonight with extra trailing words here"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {
        (r.doc_a, r.doc_b): r.containment_pct
        for r in containment_pairs(df).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.containment_pct
        for r in containment_pairs(df, max_shingle_df=10).collect()
    }
    assert set(capped) <= set(uncapped)
    assert all(capped[p] <= uncapped[p] for p in capped)
    assert capped[(100, 101)] == uncapped[(100, 101)] == 100.0
    dropped = set(uncapped) - set(capped)
    assert dropped  # the boilerplate-only pairs did get dropped
    assert all(a < 100 and b < 100 for a, b in dropped)


def test_default_driver_heap_never_exceeds_physical_memory(monkeypatch):
    """session.default_driver_memory is half of physical memory, capped
    at 16g, so an unset SPARK_GRAFT_DRIVER_MEM cannot size the heap to
    the whole host."""
    import os

    from spacex_data_pipeline_spark import session

    def heap_bytes() -> int:
        v = session.default_driver_memory()
        return int(v[:-1]) << {"m": 20, "g": 30}[v[-1]]

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < heap_bytes() <= min(phys // 2, 16 << 30)
    for host in (1 << 30, 16 << 30, 1 << 40):  # 1 GiB, 16 GiB, 1 TiB
        sizes = {"SC_PHYS_PAGES": host // 4096, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
        assert heap_bytes() <= min(host // 2, 16 << 30)
    assert session.default_driver_memory() == "16384m"  # the 1 TiB host
