"""Focused equivalence tests for the r14 optimization pass.

Every r14 change is an internals-only rewrite (fewer passes / cheaper
expressions) with a bit-identical output contract; these tests pin each
rewrite against the unoptimized form ON THE SAME INPUT so a future edit
cannot silently turn an optimization into a behavior change. The oracle
parity suite re-proves the end results; these prove the EQUIVALENCES the
optimizations rely on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spacex_data_pipeline_spark import catalog
from spacex_data_pipeline_spark.functions.hashing import band_keys
from spacex_data_pipeline_spark.operators.dedup import (
    containment_pairs,
    duplicate_span_docs,
    jaccard_pairs_prefix_filtered,
    materialize,
    ngram_jaccard_pairs,
    shingle_postings,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_band_keys_collide_iff_band_rows_equal(spark):
    """The r14 band_keys hashes the band's signature longs directly
    (no string concat). The property the LSH banding relies on: equal
    band rows ⇒ equal bucket key, and differing band rows get distinct
    keys (up to the 2^-64 collision floor, absent in this fixture)."""
    sigs = [
        (1, [10, 20, 30, 40]),
        (2, [10, 20, 99, 40]),   # band 0 equal to sig 1, band 1 differs
        (3, [11, 20, 30, 40]),   # band 0 differs, band 1 equal to sig 1
    ]
    df = spark.createDataFrame(sigs, "id long, sig array<long>")
    out = {
        (r["id"], r["bk"]["band"]): r["bk"]["key"]
        for r in df.select(
            "id", F.explode(band_keys(F.col("sig"), 2, 2)).alias("bk")
        ).collect()
    }
    assert out[(1, 0)] == out[(2, 0)]      # shared band 0 collides
    assert out[(1, 1)] != out[(2, 1)]      # differing band 1 does not
    assert out[(1, 0)] != out[(3, 0)]
    assert out[(1, 1)] == out[(3, 1)]
    # band index is part of the key: identical values in different bands
    # must not cross-collide (sig 1 has distinct values per band anyway;
    # pin it with a symmetric signature)
    sym = spark.createDataFrame([(9, [7, 8, 7, 8])], "id long, sig array<long>")
    ks = [
        r["bk"]["key"]
        for r in sym.select(F.explode(band_keys(F.col("sig"), 2, 2)).alias("bk")).collect()
    ]
    assert ks[0] != ks[1]


def test_pair_generators_shared_sizes_equivalence(spark, sf_smoke):
    """ngram_jaccard_pairs / containment_pairs with a pre-aggregated
    sizes= table return exactly the rows of the in-plan aggregate
    (the r14 sweep-share contract)."""
    docs = catalog.table(spark, sf_smoke, "documents")
    sh = shingle_postings(docs)
    sz = materialize(sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    assert _rows(
        ngram_jaccard_pairs(docs, threshold=0.2, postings=sh, sizes=sz)
    ) == _rows(ngram_jaccard_pairs(docs, threshold=0.2, postings=sh))
    assert _rows(containment_pairs(docs, postings=sh, sizes=sz)) == _rows(
        containment_pairs(docs, postings=sh)
    )


def test_prefix_filtered_shared_postings_equivalence(spark, sf_smoke):
    """jaccard_pairs_prefix_filtered with postings= returns exactly the
    rows of the self-built posting list (r14 sweep-share contract)."""
    docs = catalog.table(spark, sf_smoke, "documents")
    sh = shingle_postings(docs)
    assert _rows(
        jaccard_pairs_prefix_filtered(docs, threshold=0.8, postings=sh)
    ) == _rows(jaccard_pairs_prefix_filtered(docs, threshold=0.8))


def test_span_surgery_base_materialization_is_value_neutral(
    spark, sf_smoke, monkeypatch
):
    """duplicate_span_docs' r14 token-table materialization returns
    exactly the rows of the fully-lazy plan (dedup.materialize patched to
    the identity skips both the gram AND the base materialization)."""
    from spacex_data_pipeline_spark.operators import dedup

    docs = catalog.table(spark, sf_smoke, "documents").limit(60)
    got = _rows(duplicate_span_docs(docs))
    monkeypatch.setattr(dedup, "materialize", lambda df: df)
    assert got == _rows(duplicate_span_docs(docs))
