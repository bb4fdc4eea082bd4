"""Cross-method invariants for the LLM-pipeline extension operators.

The oracle parity suite pins exact results; these tests pin the *relations
between* methods (approximate finds what exact finds, plumbing invariants
hold) — the properties that must survive any future tuning.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacex_data_pipeline_spark import catalog
from spacex_data_pipeline_spark.operators import dedup, multimodal, similarity
from spacex_data_pipeline_spark.operators.sessionize import sessionize


@pytest.fixture(scope="module")
def docs(spark, sf_oracle):
    return catalog.table(spark, sf_oracle, "documents")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }


def test_minhash_recovers_strong_near_dups(docs, exact_pairs):
    strong = {p for p, j in exact_pairs.items() if j >= 0.8}
    assert strong, "fixture should contain planted near-dups"
    mh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    recovered = strong & mh
    assert len(recovered) / len(strong) >= 0.9


def test_simhash_close_for_strong_near_dups(docs, exact_pairs):
    strong = {p for p, j in exact_pairs.items() if j >= 0.9}
    sh = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_near_pairs(docs).collect()}
    hit = [p for p in strong if p in sh and sh[p] <= 8]
    assert len(hit) / max(len(strong), 1) >= 0.8


def test_exact_dedup_matches_distinct_count(spark, sf_oracle, docs):
    n_distinct = docs.select("text").distinct().count()
    assert dedup.exact_dedup_first(docs).count() == n_distinct
    assert dedup.exact_dedup_rows(docs).count() == n_distinct


def test_ann_recall_floor(spark, sf_oracle):
    emb = catalog.table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=10).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(emb, qids).collect()
    }
    # uniform-random fixture embeddings are LSH's worst case; clustered
    # real embeddings concentrate far harder. Floor, not target.
    assert len(exact & ann) / len(exact) >= 0.3


def test_ann_results_subset_of_exact_cosine(spark, sf_oracle):
    """Every ANN hit must carry the same cosine the exact path computes."""
    emb = catalog.table(spark, sf_oracle, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, [0, 1], k=500).collect()
    }
    for r in similarity.ann_lsh_topk(emb, [0, 1]).collect():
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine


def test_multimodal_decode_invariants(docs):
    media = multimodal.documents_as_media(docs)
    decoded = multimodal.decode_image_meta(media)
    bad = decoded.filter(
        (F.col("n_pixels") != F.col("width").cast("long") * F.col("height"))
        | (F.col("width") <= 0)
        | (F.col("height") <= 0)
    )
    assert bad.count() == 0
    assert decoded.count() == docs.count()


def test_frame_sample_plan(docs):
    media = multimodal.documents_as_media(docs)
    frames = multimodal.frame_sample_plan(media)
    assert frames.filter(F.col("frame_idx") % 10 != 0).count() == 0
    assert frames.count() > 0


def test_sessionize_invariants(spark, sf_oracle):
    ev = catalog.table(spark, sf_oracle, "events")
    sess = sessionize(ev)
    assert sess.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    assert sess.filter(F.col("session_start") > F.col("session_end")).count() == 0
    # session ids are 1..k contiguous per user
    per_user = sess.groupBy("user_id").agg(
        F.min("session_id").alias("lo"),
        F.max("session_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    assert per_user.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0


def test_zscore_grouped_map(spark, sf_oracle):
    import statistics

    from spacex_data_pipeline_spark.operators.similarity import zscore_mean_per_label

    emb = catalog.table(spark, sf_oracle, "embeddings")
    rows = zscore_mean_per_label(emb).collect()
    assert len(rows) == emb.count()
    per: dict[int, list[float]] = {}
    for r in rows:
        per.setdefault(r.label, []).append(r.z)
    for zs in per.values():
        assert abs(statistics.mean(zs)) < 1e-12
        assert abs(statistics.stdev(zs) - 1) < 1e-9
    # deterministic across shuffles
    again = zscore_mean_per_label(emb).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_recall_and_probe_monotonicity(spark, sf_oracle, monkeypatch):
    """IVF probing every cell must equal exact brute force; the default
    IVF_PROBE trades recall for partition pruning."""
    emb = catalog.table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=10).collect()
    }
    monkeypatch.setattr(similarity, "IVF_PROBE", similarity.IVF_CENTROIDS)
    full_probe = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, qids).collect()
    }
    assert full_probe == exact  # probing every cell == exact search
    monkeypatch.undo()
    partial = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, qids).collect()
    }
    assert len(exact & partial) / len(exact) >= 0.3


@pytest.mark.slow
def test_blocked_cosine_pairs_match_brute_force(spark, sf_oracle, monkeypatch):
    """The balanced block-pair join is a pure execution-strategy change:
    its output must equal the crossJoin baseline exactly (same LTR cosine
    bits, same pairs) at the registered threshold and a looser one."""
    emb = catalog.table(spark, sf_oracle, "embeddings")
    for t in (0.35, 0.25):
        brute = {
            (r.id_a, r.id_b, r.cosine)
            for r in dedup.embedding_cosine_pairs(emb, threshold=t).collect()
        }
        blocked = {
            (r.id_a, r.id_b, r.cosine)
            for r in dedup.embedding_cosine_pairs_blocked(emb, threshold=t).collect()
        }
        assert blocked == brute
    # block count must not change results (task tiling only)
    monkeypatch.setattr(dedup, "COSINE_BLOCKS", 3)
    few = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_cosine_pairs_blocked(emb, threshold=0.35).collect()
    }
    assert few == {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_cosine_pairs(emb, threshold=0.35).collect()
    }


def test_ivf_dedup_pairs_subset_of_brute_force(spark, sf_oracle):
    """Cluster-then-dedup never invents pairs: every in-cell pair it emits
    must appear in the exact all-pairs result with the identical cosine."""
    emb = catalog.table(spark, sf_oracle, "embeddings")
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_cosine_pairs(emb, threshold=0.35).collect()
    }
    ivf = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_cosine_pairs_ivf(emb, threshold=0.35).collect()
    }
    assert set(ivf) <= set(brute)
    for pair, cos in ivf.items():
        assert cos == brute[pair]  # bit-identical, not approx


@pytest.mark.slow
def test_text_oracles_handle_blank_docs(spark, tmp_path):
    """Regression for the empty-text guard (ADVICE r1): a blank / 
    whitespace-only document must not diverge Spark (tokens → []) from
    the DuckDB oracle (string_split('') → ['']). Runs every text-family
    registered query on a tiny fixture containing blank docs and compares
    with the same strictness as the parity suite."""
    import duckdb

    from spacex_data_pipeline_spark.queries import REGISTRY
    from tests.test_oracle_parity import _canon_rows

    rows = [
        (0, "", "en", "synthetic", 0),
        (1, "   ", "en", "synthetic", 3),
        (2, "the quick brown fox jumps over the lazy dog", "en", "synthetic", 43),
        (3, "the quick brown fox jumps over the lazy dog", "en", "synthetic", 43),
        (
            4,
            "mail bob.smith+x@corp.example.co or call 415-555-0199 from 10.0.0.1 today",
            "en",
            "synthetic",
            74,
        ),
    ]
    sdf = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    path = str(tmp_path / "documents.parquet")
    sdf.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    for name in (
        "text_stats_docs",
        "text_quality_docs",
        "text_langid_docs",
        "text_term_frequencies",
        "text_tfidf_top_terms",
        "udtf_chunk_documents",
        "text_redact_pii",  # doc 4 plants an email + phone + IPv4
        "pack_documents_token_bins",  # blank doc -> 0-token bin entry
        "split_documents_train_val_test",
    ):
        q = REGISTRY[name]
        res = q.fn(spark, str(tmp_path))
        cols = [c.lower() for c in res.columns]
        s = _canon_rows(cols, [tuple(r) for r in res.collect()])
        rel = con.execute(q.oracle)
        d = _canon_rows([x[0].lower() for x in rel.description], rel.fetchall())
        assert s == d, f"{name} diverges on blank docs: {s[:3]} vs {d[:3]}"


def test_sampling_determinism_and_append_stability(spark, sf_oracle):
    """Sample membership must be a pure function of the key: invariant
    under repartitioning (unlike Spark's native Bernoulli sample) and
    stable under appends (a row's membership never flips as data grows)."""
    from spacex_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
        split_assign,
    )

    docs = catalog.table(spark, sf_oracle, "documents").select("doc_id")
    n_docs = docs.count()
    s1 = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.1).collect()}
    s2 = {
        r.doc_id
        for r in deterministic_sample(docs.repartition(7), "doc_id", 0.1).collect()
    }
    assert s1 == s2  # layout-invariant
    half = docs.filter(F.col("doc_id") < 250)
    sh = {r.doc_id for r in deterministic_sample(half, "doc_id", 0.1).collect()}
    assert sh == {d for d in s1 if d < 250}  # append-stable
    assert 0.03 < len(s1) / n_docs < 0.25  # roughly the asked rate

    sp = split_assign(docs, "doc_id", val_pct=0.05, test_pct=0.05)
    counts = {
        r["split"]: r["n"]
        for r in sp.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(counts.values()) == n_docs  # exhaustive + disjoint
    assert counts.get("train", 0) > counts.get("val", 0)


@pytest.mark.slow
def test_zero_vector_cosine_edge(spark):
    """A zero-norm embedding must neither crash (ANSI divide-by-zero) nor
    leak into near-dup results via NaN's above-everything comparison
    semantics (both Spark and DuckDB evaluate NaN >= t as TRUE — the
    operators filter NaN explicitly). All three execution paths agree."""
    rows = [(0, [0.0] * 64), (1, [1.0] + [0.0] * 63), (2, [1.0] + [0.0] * 63), (3, [0.5] + [0.0] * 63)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    want = [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)]
    brute = sorted(
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in dedup.embedding_cosine_pairs(df, threshold=0.9).collect()
    )
    tile = sorted(
        (r.id_a, r.id_b, round(r.cosine, 9))
        for r in dedup.embedding_cosine_pairs_blocked(df, threshold=0.9).collect()
    )
    assert brute == tile == want
    ivf = sorted(
        (r.id_a, r.id_b)
        for r in dedup.embedding_cosine_pairs_ivf(df, threshold=0.9).collect()
    )
    assert ivf == [(1, 2), (1, 3), (2, 3)]


def test_unique_check_ignores_null_keys(spark):
    """dbt ``unique`` semantics (ADVICE r2): NULL keys are excluded from
    both sides of the total−distinct count, so the violation count equals
    SQL's COUNT(col) − COUNT(DISTINCT col) — the exact expression the
    data_quality_orders oracle uses. NULL presence is not_null's job."""
    import duckdb

    from spacex_data_pipeline_spark.functions.checks import (
        check_results,
        not_null,
        unique,
    )

    rows = [(1,), (1,), (2,), (None,), (None,), (None,)]
    df = spark.createDataFrame(rows, "k int")
    got = {
        r.check_name: (r.n_violations, r.passed)
        for r in check_results(df, [unique("k"), not_null("k")]).collect()
    }
    # 3 non-null rows, 2 distinct non-null keys -> 1 duplicate violation;
    # the 3 NULLs do NOT count as duplicates of each other (the old
    # struct-wrapper counting would have reported 3: NULLs collapsed
    # into one distinct key)
    assert got["unique:k"] == (1, False)
    assert got["not_null:k"] == (3, False)

    duck = duckdb.sql(
        "SELECT COUNT(k) - COUNT(DISTINCT k) FROM (VALUES (1),(1),(2),"
        "(NULL),(NULL),(NULL)) t(k)"
    ).fetchone()[0]
    assert got["unique:k"][0] == duck

    # multi-column: a key with ANY null field is skipped entirely
    rows2 = [(1, "a"), (1, "a"), (1, None), (1, None), (2, "b")]
    df2 = spark.createDataFrame(rows2, "k int, s string")
    got2 = {
        r.check_name: r.n_violations
        for r in check_results(df2, [unique("k", "s")]).collect()
    }
    assert got2["unique:k,s"] == 1  # only the (1,'a') dup counts


def test_asof_direction_validation_and_tolerance_edge(spark):
    """Bad direction fails fast; a forward match just past the tolerance
    nulls out while one inside it survives."""
    from spacex_data_pipeline_spark.operators.relational import as_of_join

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00")], "lid long, k long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(100, 10, "2024-01-01 00:30:00"), (101, 10, "2024-01-01 02:00:00")],
        "rid long, k long, rts string",
    ).withColumn("rts", F.to_timestamp("rts"))
    with pytest.raises(ValueError, match="direction"):
        as_of_join(left, right, "k", "k", "ts", "rts", ["rid"], direction="sideways")

    inside = as_of_join(
        left, right, "k", "k", "ts", "rts", ["rid"],
        direction="forward", tolerance_seconds=3600,
    ).collect()[0]
    assert inside.asof_rid == 100  # 00:30 is within the hour

    tight = as_of_join(
        left, right, "k", "k", "ts", "rts", ["rid"],
        direction="forward", tolerance_seconds=60,
    ).collect()[0]
    assert tight.asof_rid is None  # nearest forward match is outside 60s


def test_contamination_flags_empty_benchmark(spark):
    """No benchmark docs -> nothing can be contaminated (and no crash on
    the empty broadcast side)."""
    from spacex_data_pipeline_spark.operators.dedup import contamination_flags

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    empty = docs.filter("doc_id < 0")
    out = contamination_flags(docs, empty).collect()
    assert [(r.doc_id, r.contaminated) for r in out] == [(1, False)]


def test_resize_plan_payload_and_meta_invariants(spark, sf_oracle):
    """The resized payload's LENGTH must equal out_bytes exactly, output
    dims never exceed max_side, aspect handling is exact-integer, and
    already-small images pass through untouched (same dims, same
    byte count)."""
    from spacex_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
        resize_image_plan,
    )

    media = documents_as_media(
        catalog.table(spark, sf_oracle, "documents").limit(50)
    )
    rows = resize_image_plan(media).collect()
    assert rows
    for r in rows:
        assert len(r.media) == r.out_bytes
        assert max(r.out_width, r.out_height) <= max(64, min(r.width, r.height))
        if max(r.width, r.height) <= 64:
            assert (r.out_width, r.out_height) == (r.width, r.height)
        else:
            side = max(r.width, r.height)
            assert r.out_width == max(1, r.width * 64 // side)
            assert r.out_height == max(1, r.height * 64 // side)


def test_byte_features_match_python_reference(spark):
    """extract_byte_features is REAL compute: its histogram must equal a
    plain-Python reference over the same bytes, L1-normalize to 1, and
    identical payloads must produce identical features (the property the
    near-dup composition depends on)."""
    from spacex_data_pipeline_spark.operators.multimodal import extract_byte_features

    payloads = [
        (0, bytes(range(256))),
        (1, b"\x00" * 100),
        (2, b"hello world"),
        (3, b"hello world"),
        (4, b""),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], "doc_id long, media binary"
    )
    got = {r.doc_id: r.features for r in extract_byte_features(media).collect()}

    def ref(p):
        if not p:
            return [0.0] * 16
        counts = [0] * 16
        for b in p:
            counts[b // 16] += 1
        return [c / len(p) for c in counts]

    for i, p in payloads:
        assert got[i] == pytest.approx(ref(p), abs=1e-12)
    assert got[2] == got[3]
    assert abs(sum(got[0]) - 1.0) < 1e-12
    assert got[0] == pytest.approx([1 / 16] * 16, abs=1e-12)


def test_bloom_prefilter_matches_exact_operator(spark, sf_oracle, monkeypatch):
    """contamination_flags_bloom must produce byte-identical flags to the
    broadcast-exact operator — the bloom admits false positives but the
    confirm join removes them, and the no-false-negative guarantee means
    nothing true is lost. Checked at the default sizing AND at an
    absurdly small bitmap (m=256 bits for ~2k shingles → FPR ≈ 1) where
    ONLY the confirm join keeps the answer right."""
    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.dedup import (
        contamination_flags,
        contamination_flags_bloom,
    )

    docs = catalog.table(spark, sf_oracle, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    exact = {
        (r.doc_id, r.contaminated)
        for r in contamination_flags(train, bench).collect()
    }
    assert exact == {
        (r.doc_id, r.contaminated)
        for r in contamination_flags_bloom(train, bench).collect()
    }
    # an undersized filter admits more false positives, never a wrong flag
    monkeypatch.setattr(dedup, "BLOOM_M_BITS", 256)
    monkeypatch.setattr(dedup, "BLOOM_K_HASHES", 2)
    assert exact == {
        (r.doc_id, r.contaminated)
        for r in contamination_flags_bloom(train, bench).collect()
    }


def test_bloom_build_and_probe_guarantees(spark):
    """Structural bloom invariants: every word index lies in
    [0, m/64); every INSERTED key passes might-contain (zero false
    negatives, the property the exact-confirm design rests on); and a
    generously-sized filter rejects most absent keys (FPR sanity, not
    exactness — absent keys may collide)."""
    from spacex_data_pipeline_spark.operators.dedup import (
        bloom_build,
        bloom_might_contain,
    )

    m, kh = 1 << 14, 5
    keys = spark.range(500).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    bloom = bloom_build(keys, "k", m, kh)
    words = bloom.collect()[0]["__bloom"]
    assert all(0 <= w < m // 64 for w in words)
    assert any(bits != 0 for bits in words.values())

    members = keys.join(F.broadcast(bloom)).filter(
        bloom_might_contain("k", m, kh)
    )
    assert members.count() == 500  # no false negatives, ever

    absent = spark.range(500, 1500).select(
        F.concat(F.lit("other-"), F.col("id")).alias("k")
    )
    fp = (
        absent.join(F.broadcast(bloom))
        .filter(bloom_might_contain("k", m, kh))
        .count()
    )
    # 500 keys in 16384 bits ≈ 3.7 bits set per key · 5 probes → FPR ≪ 10%
    assert fp < 100


def test_reference_forms_agree_with_production_paths(spark, sf_oracle):
    """The documented 'readable reference forms' must actually agree with
    the optimized production paths they document — otherwise the
    reference form is a lie the next reader builds on.

    - lsh_bucket (interpreted HOF expression) vs lsh_buckets_blas
      (matmul per Arrow batch): bit-identical buckets, by construction
      of the near-zero re-fold.
    - word_shingles (convenience form) vs the projected
      shingles_from_words it wraps: identical shingle sets.
    - minhash_signature (per-row expression family): its banding
      estimate must track exact Jaccard on a known pair (its hash family
      differs from the production agg path by design — string-seeded vs
      rehashed-long — so sanity is value-level, not bit-level)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog as cat
    from spacex_data_pipeline_spark.functions.hashing import (
        minhash_signature,
        word_shingles,
    )
    from spacex_data_pipeline_spark.operators.similarity import (
        lsh_bucket,
        lsh_buckets_blas,
    )

    emb = cat.table(spark, sf_oracle, "embeddings").limit(256)
    expr_b = emb.select(
        "vec_id", lsh_bucket(F.col("embedding"), 64, n_planes=5).alias("b_expr")
    )
    blas_b = lsh_buckets_blas(emb, dim=64, n_planes=5).select(
        "vec_id", F.col("bucket").alias("b_blas")
    )
    diff = expr_b.join(blas_b, "vec_id").filter(F.col("b_expr") != F.col("b_blas"))
    assert diff.count() == 0

    docs = cat.table(spark, sf_oracle, "documents").limit(64)
    from spacex_data_pipeline_spark.functions.hashing import (
        normalize_text,
        shingles_from_words,
    )

    both = docs.select(
        F.sort_array(word_shingles(F.col("text"), 3)).alias("a"),
        F.sort_array(
            shingles_from_words(F.split(normalize_text(F.col("text")), " "), 3)
        ).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0

    # two near-identical texts: signature agreement rate ≈ exact Jaccard
    pair = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        ],
        "doc_id long, text string",
    )
    sigs = pair.select(
        "doc_id", minhash_signature(word_shingles(F.col("text"), 3), 64).alias("sig")
    ).collect()
    s0, s1 = (dict((r.doc_id, r.sig) for r in sigs)[i] for i in (0, 1))
    # the 64 positions must be DISTINCT hash families (the bug this test
    # caught: an (element, index) lambda collapsed all 64 to one value)
    assert len(set(s0)) > 1
    est = sum(int(x == y) for x, y in zip(s0, s1)) / 64.0
    # exact J = 7 shared / 9 union 3-shingles ≈ 0.778; 64 hashes ⇒ σ ≈ 0.05
    assert abs(est - 7.0 / 9.0) < 0.2


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing theorem: two documents sharing a run of at least
    window + k - 1 tokens share at least one fingerprint (k=4, w=4 ⇒
    any shared 7-token run). Also: a doc shorter than k tokens emits no
    fingerprints, and fingerprint density is far below the k-gram count."""
    from spacex_data_pipeline_spark.operators.text import winnowing_fingerprints

    shared = "one two three four five six seven"  # exactly w+k-1 tokens
    docs = spark.createDataFrame(
        [
            (0, f"alpha beta {shared} gamma delta epsilon"),
            (1, f"zeta eta theta iota {shared} kappa"),
            (2, "completely different words with nothing in common here"),
            (3, "tiny doc"),  # < k tokens: no k-grams, no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared 7-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc.get(2, set()))
    assert 3 not in by_doc


def test_columnar_chunker_matches_udtf_and_overlap_covers_boundaries(
    spark, docs, monkeypatch
):
    """The pure-column chunker must reproduce the UDTF chunker exactly at
    overlap=0 (same chunks, indices, casing), and with overlap > 0 every
    overlap-long token run must appear whole in at least one chunk (the
    boundary-coverage property RAG windowing exists for)."""
    from spacex_data_pipeline_spark.operators import text
    from spacex_data_pipeline_spark.operators.text import (
        chunk_documents,
        chunk_documents_columnar,
    )

    sample = docs.limit(40)
    udtf_rows = sorted(map(tuple, chunk_documents(sample).collect()))
    col_rows = sorted(map(tuple, chunk_documents_columnar(sample, overlap=0).collect()))
    assert udtf_rows == col_rows

    # edge tabs/newlines must not produce phantom empty tokens (review
    # catch: F.trim strips spaces only — normalize ALL whitespace first)
    edgy = spark.createDataFrame(
        [(1, "\tfoo bar baz"), (2, "a b\n"), (3, "\n"), (4, "x  \t y")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text, "CHUNK_SIZE", 4)
    u = sorted(map(tuple, chunk_documents(edgy).collect()))
    c = sorted(map(tuple, chunk_documents_columnar(edgy, overlap=0).collect()))
    assert u == c

    # overlap: with size=8, overlap=4 (stride 4), any 4-token run lies
    # fully inside some chunk
    corpus = " ".join(f"w{i}" for i in range(30))
    one = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    monkeypatch.setattr(text, "CHUNK_SIZE", 8)
    chunks = [r.chunk.split() for r in chunk_documents_columnar(one, overlap=4).collect()]
    words = corpus.split()
    for start in range(len(words) - 3):
        run = words[start : start + 4]
        assert any(
            run == c[j : j + 4] for c in chunks for j in range(len(c) - 3)
        ), f"run at {start} not covered"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents_columnar(one, overlap=8)



def test_quantization_fidelity_survives_zero_vectors(spark):
    """A dead (all-zero) embedding must yield NaN fidelity, not an ANSI
    DIVIDE_BY_ZERO crash (review catch: raw division instead of
    cosine_sim's pinned zero-norm edge)."""
    import math

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.similarity import (
        cosine_sim,
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    q = quantize_embeddings(emb)
    j = emb.join(q, "vec_id").select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("deq"),
    )
    rows = {
        r.vec_id: r.cos
        for r in j.select(
            "vec_id", cosine_sim(F.col("embedding"), F.col("deq")).alias("cos")
        ).collect()
    }
    assert math.isnan(rows[1])
    assert rows[2] > 0.999


def test_line_dedup_semantics(spark):
    """line_dedup_flags/line_dedup_docs contract on a real multi-line
    corpus: first (doc_id, line_no) occurrence survives, later copies
    (cross-doc AND within-doc) are dropped, comparison is on the
    normalized line (case/whitespace-insensitive), blank lines are
    always kept, and reassembly preserves original line order."""
    from spacex_data_pipeline_spark.operators.dedup import (
        line_dedup_docs,
        line_dedup_flags,
    )

    docs = spark.createDataFrame(
        [
            ("a", "Home\nunique alpha\n\nfooter text"),
            ("b", "home\nunique beta\n\nFooter   Text\nunique beta"),
        ],
        "doc_id string, text string",
    )
    flags = {
        (r.doc_id, r.line_no): r.keep
        for r in line_dedup_flags(docs).collect()
    }
    assert flags[("a", 0)] and not flags[("b", 0)]  # 'Home' vs 'home'
    assert flags[("a", 2)] and flags[("b", 2)]  # blanks always kept
    assert flags[("a", 3)] and not flags[("b", 3)]  # whitespace-insensitive
    assert flags[("b", 1)] and not flags[("b", 4)]  # within-doc repeat
    out = {r.doc_id: r for r in line_dedup_docs(docs).collect()}
    assert out["a"].text_dedup == "Home\nunique alpha\n\nfooter text"
    assert (out["a"].n_lines, out["a"].n_kept, out["a"].n_kept_nonblank) == (4, 4, 3)
    assert out["b"].text_dedup == "unique beta\n"
    # b keeps 2 lines but only 1 CONTENT line — n_kept_nonblank is the
    # column that distinguishes an emptied doc from a live one (ADVICE r6)
    assert (out["b"].n_lines, out["b"].n_kept, out["b"].n_kept_nonblank) == (5, 2, 1)
    # with_norm exposes the operator's own blank/norm definition
    flagged = line_dedup_flags(docs, with_norm=True)
    assert {"norm", "is_blank"} <= set(flagged.columns)
    r = {(x.doc_id, x.line_no): x for x in flagged.collect()}
    assert r[("a", 2)].is_blank and r[("a", 2)].norm == ""
    assert r[("b", 3)].norm == "footer text"
    # a doc whose every content line is a duplicate keeps only blanks:
    # n_kept > 0 but n_kept_nonblank == 0
    emptied = spark.createDataFrame(
        [("a", "Home\nfooter text"), ("c", "home\n\nFooter  Text")],
        "doc_id string, text string",
    )
    oc = {r.doc_id: r for r in line_dedup_docs(emptied).collect()}
    assert oc["c"].n_kept == 1 and oc["c"].n_kept_nonblank == 0


def test_url_canonicalization_rules(spark):
    """canonicalize_url folds the standard crawl spellings: case, www,
    scheme-default ports (and ONLY those), utm params (all of them, any
    position), fragments, trailing slash; path case and real query
    params survive."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.functions.urls import (
        canonicalize_url,
        url_domain,
    )

    cases = [
        ("HTTPS://WWW.Example.COM:443/A/b?x=1#frag", "https://example.com/A/b?x=1"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),  # non-default
        ("https://example.com:80/a", "https://example.com:80/a"),  # wrong scheme
        (
            "https://e.com/p?utm_source=x&utm_medium=y&id=3&utm_campaign=z",
            "https://e.com/p?id=3",
        ),
        ("https://e.com/p?utm_source=x", "https://e.com/p"),
        ("https://wwwx.com/a", "https://wwwx.com/a"),  # www. only as prefix label
        ("https://example.com/a/", "https://example.com/a"),
        # utm removal is query-scoped and position-independent
        ("https://e.com/p?utm_a=1&utm_b=2&id=3", "https://e.com/p?id=3"),
        ("https://e.com/p?utm_a=1&utm_b=2", "https://e.com/p"),
        ("https://e.com/xutm_a=1&b/q", "https://e.com/xutm_a=1&b/q"),  # path safe
        ("https://e.com/p?xutm_a=1", "https://e.com/p?xutm_a=1"),  # not utm_*
        ("https://e.com/a/?id=1", "https://e.com/a?id=1"),  # slash before query
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]
    dom = (
        spark.createDataFrame(
            [("https://sub.example.com:8080/a?b=1",)], "c string"
        )
        .select(url_domain(F.col("c")).alias("d"))
        .collect()[0]
        .d
    )
    assert dom == "sub.example.com"


def test_line_dedup_two_level_equals_window_form(spark):
    """The skew-bounded aggregate+join form must produce byte-identical
    keep flags to the default window form — on the synthetic multi-line
    corpus AND on a corpus with a corpus-wide hot line (the skew case
    the variant exists for)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.dedup import line_dedup_flags

    hot = "\n".join(["Home"] * 50 + ["unique tail"])
    docs = spark.createDataFrame(
        [
            ("a", "Home\nunique alpha\n\nfooter text"),
            ("b", "home\nunique beta\n\nFooter   Text\nunique beta"),
            ("c", hot),
            ("d", hot),
        ],
        "doc_id string, text string",
    )

    def flags(two_level):
        return sorted(
            (r.doc_id, r.line_no, r.keep)
            for r in line_dedup_flags(docs, two_level=two_level).collect()
        )

    assert flags(False) == flags(True)
    # and the winner really is the global first occurrence
    kept = {
        (r.doc_id, r.line_no)
        for r in line_dedup_flags(docs, two_level=True).collect()
        if r.keep and r.line == "Home"
    }
    assert kept == {("a", 0)}


def test_dedup_reports_matches_standalone_entries(spark, sf_oracle):
    """The composed one-run dedup_reports must reproduce each standalone
    report entry exactly — same savings rows, same per-source rates,
    same histogram, and the multi-doc subset of representatives — so the
    cheap composed form can substitute for the four separate runs."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rep = REGISTRY["dedup_reports"].fn(spark, sf_oracle).collect()
    by = {}
    for r in rep:
        by.setdefault(r.report, []).append(r)

    sav = REGISTRY["dedup_savings_report"].fn(spark, sf_oracle).collect()
    assert sorted(
        (r.key, r.n_docs, r.chars_total, r.chars_kept, r.chars_saved)
        for r in by["savings"]
    ) == sorted(
        (str(r.component), r.n_docs, r.chars_total, r.chars_kept, r.chars_saved)
        for r in sav
    )

    rates = REGISTRY["dedup_rates_by_source"].fn(spark, sf_oracle).collect()
    assert sorted(
        (r.key, r.n_docs, r.n_dup_docs, r.dup_pct) for r in by["rates_by_source"]
    ) == sorted((r.source, r.n_docs, r.n_dup_docs, r.dup_pct) for r in rates)

    hist = REGISTRY["dedup_group_size_histogram"].fn(spark, sf_oracle).collect()
    assert sorted(
        (r.key, r.n_groups, r.n_docs) for r in by["size_histogram"]
    ) == sorted((str(r.size_bucket_lo), r.n_groups, r.n_docs) for r in hist)

    reps = REGISTRY["dedup_cluster_representatives"].fn(spark, sf_oracle).collect()
    assert sorted(
        (r.key, r.rep_doc_id, r.n_docs, r.rep_quality)
        for r in by["representatives"]
    ) == sorted(
        (str(r.component), str(r.rep_doc_id), r.group_size, r.rep_quality)
        for r in reps
        if r.group_size > 1
    )


def test_contrastive_two_level_negatives_equal_direct_rank(spark, sf_oracle):
    """The distributed top-k identity behind the r7 reshape (VERDICT r6
    #1): ranking each (query, bucket)'s top-3 then re-ranking the
    survivors selects EXACTLY the rows the direct full-pool per-query
    rank selects — for this corpus and any other, since every global
    top-3 row is its own bucket's top-≤3. Compares the registered
    entry's negative rows against an independently computed direct
    single-window rank over the same pool."""
    from pyspark.sql import Window

    from spacex_data_pipeline_spark.queries import REGISTRY

    out = REGISTRY["contrastive_pairs_embeddings"].fn(spark, sf_oracle)
    got = {
        (r.query_id, r.rnk, r.vec_id)
        for r in out.filter(F.col("role") == "negative").collect()
    }

    emb = catalog.table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    topk = similarity.cosine_topk(emb, qids, k=10).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    pool = (
        emb.select("vec_id")
        .crossJoin(
            F.broadcast(
                emb.filter(F.col("vec_id").isin(qids)).select(
                    F.col("vec_id").alias("query_id")
                )
            )
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(topk), ["query_id", "vec_id"], "left_anti")
    )
    h = F.md5(
        F.concat(
            F.col("query_id").cast("string"),
            F.lit(":"),
            F.col("vec_id").cast("string"),
            F.lit(":neg"),
        )
    )
    direct = (
        pool.withColumn("h", h)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("h", "vec_id")
            ),
        )
        .filter(F.col("rnk") <= 3)
    )
    want = {(r.query_id, r.rnk, r.vec_id) for r in direct.collect()}
    assert got == want


def test_bm25_two_level_rank_matches_direct(spark, sf_oracle, monkeypatch):
    """The bucketed two-level top-k is EXACT: (score DESC, doc_id) is a
    total order, so the direct single-window rank — recomputed here from
    the same scored table — selects the identical (query, doc, rank)
    set. (No self-retrieval assertion: the fixture's query terms are
    corpus-common, so BM25's dl normalization can legitimately rank
    short matching docs above the long query doc itself.)"""
    from pyspark.sql import Window

    from spacex_data_pipeline_spark.operators import text
    from spacex_data_pipeline_spark.operators.text import bm25_topk
    from spacex_data_pipeline_spark.queries import _t

    docs = _t(spark, sf_oracle, "documents")
    monkeypatch.setattr(text, "BM25_BUCKETS", 7)
    got = bm25_topk(docs, [0, 1, 2]).collect()
    # direct form: one bucket collapses level 1, making level 2 the
    # plain global rank
    monkeypatch.setattr(text, "BM25_BUCKETS", 1)
    direct = bm25_topk(docs, [0, 1, 2]).collect()
    assert sorted(((r.query_id, r.rank, r.doc_id, r.score) for r in got)) == sorted(
        (r.query_id, r.rank, r.doc_id, r.score) for r in direct
    )
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    for q in (0, 1, 2):
        assert len(by_q[q]) == 10
    assert all(r.score > 0 for r in got)


def test_duplicate_ngram_spans_interval_union(spark):
    """Hand-built corpus: two docs share one 8-token phrase; doc 2
    repeats its own phrase internally (self-repeat counts — it IS
    removable duplication); doc 3 is unique and short docs (<8 tokens)
    have zero grams. Coverage is the interval UNION: overlapping dup
    grams must not double-count tokens."""
    from spacex_data_pipeline_spark.operators.dedup import duplicate_ngram_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, shared + " unique0 tail0"),               # grams 1-3; gram 1 dup
        (1, "lead1 " + shared + " unique1"),          # gram 2 of 3 dup
        (2, shared + " mid " + shared),               # self-repeat, 2 dup hits
        (3, "totally different words with no repeats here at all ok"),
        (4, "tiny doc"),                              # < 8 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicate_ngram_spans(docs).collect()}

    assert got[0].n_tokens == 10 and got[0].n_grams == 3
    # only the leading 8-gram of doc 0 is duplicated → 8 covered tokens
    assert got[0].n_dup_grams == 1 and got[0].n_dup_tokens == 8
    assert got[0].dup_token_pct == 80.0
    assert got[1].n_dup_grams == 1 and got[1].n_dup_tokens == 8
    # doc 2: 17 tokens, shared phrase at positions 1-8 and 10-17 → both
    # occurrences dup (vs each other and docs 0/1): union covers 16
    assert got[2].n_tokens == 17
    assert got[2].n_dup_grams == 2 and got[2].n_dup_tokens == 16
    assert got[3].n_dup_grams == 0 and got[3].n_dup_tokens == 0
    assert got[3].dup_token_pct == 0.0
    assert got[4].n_grams == 0 and got[4].n_dup_tokens == 0


def test_trigram_typicality_flags_garbage(spark):
    """A mojibake/garbage doc must score strictly below every normal doc
    of the same corpus; sub-3-char docs score NULL with 0 trigrams; and
    the score equals a plain Python reference model exactly (the
    integer-sum algebra makes it deterministic, not approximate)."""
    from collections import Counter

    from spacex_data_pipeline_spark.operators.text import trigram_typicality

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "web"),
        (1, "the quick brown cat naps under the warm sun", "web"),
        (2, "a quick brown dog runs over the green hill", "web"),
        (3, "ï¿½x91Ã¢zqÂ§kj ðw9v", "crawl"),
        (4, "ab", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.doc_id: r for r in trigram_typicality(docs).collect()}

    # python reference: same normalization (lower + collapse ws + trim)
    import re

    norm = {i: re.sub(r"\s+", " ", t.lower()).strip() for i, t, _ in rows}
    tris = {i: [s[j : j + 3] for j in range(len(s) - 2)] for i, s in norm.items()}
    model = Counter(t for ts in tris.values() for t in ts)
    tt = sum(model.values())
    for i, ts in tris.items():
        if not ts:
            assert got[i].typicality is None and got[i].n_trigrams == 0
            continue
        num = sum(model[t] for t in ts)
        assert got[i].n_trigrams == len(ts)
        assert got[i].typicality == num / (float(tt) * float(len(ts)))
    normals = [got[i].typicality for i in (0, 1, 2)]
    assert all(got[3].typicality < t for t in normals), "garbage not in the tail"


def test_pq_encode_self_and_recall(spark, sf_oracle):
    """Codebook-source vectors (ids 0..15) must encode to their OWN code
    in every subspace (their L2 distance to themselves is exactly 0);
    every vector gets exactly m codes in [0, n_codes); and ADC top-10
    must recover a sane fraction of the exact cosine top-10 (floor, not
    target — uniform random embeddings are PQ's worst case)."""
    emb = catalog.table(spark, sf_oracle, "embeddings")
    codes = similarity.pq_encode(emb).collect()
    per_vec: dict[int, dict[int, int]] = {}
    for r in codes:
        per_vec.setdefault(r.vec_id, {})[r.subspace] = r.code
    n = emb.count()
    assert len(per_vec) == n
    for vid, by_sub in per_vec.items():
        assert sorted(by_sub) == [0, 1, 2, 3]
        assert all(0 <= c < 16 for c in by_sub.values())
    for vid in range(16):
        assert per_vec[vid] == {0: vid, 1: vid, 2: vid, 3: vid}

    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=10).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(emb, qids).collect()
    }
    assert len(exact & pq) / len(exact) >= 0.2


def test_temperature_sampling_invariants(spark, docs):
    """τ=0.5 flattens the mixture: every source's target share must sit
    strictly between uniform (1/S) and its raw share when those differ;
    realized counts respect thresholds; and membership is append-stable
    (resampling a grown corpus never evicts previously kept docs of an
    unchanged-threshold source)."""
    from spacex_data_pipeline_spark.operators.sampling import (
        temperature_sample_plan,
    )

    rows = temperature_sample_plan(docs).collect()
    n_total = sum(r.n_docs for r in rows)
    n_src = len(rows)
    assert abs(sum(r.p_target for r in rows) - 1.0) < 1e-12
    for r in rows:
        raw = r.n_docs / n_total
        uni = 1.0 / n_src
        lo, hi = min(raw, uni), max(raw, uni)
        if abs(raw - uni) > 1e-9:
            assert lo < r.p_target < hi, (r.source, raw, r.p_target, uni)
        assert r.n_sampled <= r.n_docs
        assert 0 <= r.threshold <= 10000
    # budget respected within per-source floor slack
    assert sum(r.target_docs for r in rows) <= n_total // 2


def test_scd2_invariants(spark, sf_oracle):
    """SCD2 output: per customer, intervals are chronologically chained
    (valid_to == next valid_from), exactly one current row, and no two
    CONSECUTIVE versions carry the same attribute (change compression)."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["scd2_customer_priority"].fn(spark, sf_oracle).collect()
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(r.o_custkey, []).append(r)
    for cust, vs in per.items():
        vs.sort(key=lambda r: (r.valid_from, r.valid_to is None, r.valid_to))
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].valid_to is None and vs[-1].is_current
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from
            assert a.priority != b.priority


def test_ivfpq_full_probe_equals_adc(spark, sf_oracle, monkeypatch):
    """Probing every IVF cell makes IVF-PQ score exactly the ADC set:
    pq_ivf_topk(IVF_PROBE == IVF_CENTROIDS) must equal pq_adc_topk row for
    row (both exclude self) — the PQ twin of the IVF==exact full-probe
    identity. Fewer probes must return a subset-consistent ADC score
    for every (query, neighbor) it keeps."""
    emb = catalog.table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    monkeypatch.setattr(similarity, "IVF_PROBE", similarity.IVF_CENTROIDS)
    full = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.adc)
        for r in similarity.pq_ivf_topk(emb, qids).collect()
    )
    monkeypatch.undo()
    adc = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.adc)
        for r in similarity.pq_adc_topk(emb, qids).collect()
    )
    assert full == adc
    adc_scores = {(q, n): s for q, n, _, s in adc}
    pruned = similarity.pq_ivf_topk(emb, qids).collect()
    for r in pruned:
        if (r.query_id, r.neighbor_id) in adc_scores:
            assert adc_scores[(r.query_id, r.neighbor_id)] == r.adc


def test_rrf_fusion_invariants(spark, sf_oracle):
    """RRF: every fused row's score is the sum of its two rank terms;
    docs present in BOTH lists outrank docs present in neither... and
    the max possible score is 2/61 (rank 1 in both)."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["hybrid_retrieval_rrf"].fn(spark, sf_oracle).collect()
    assert rows
    for r in rows:
        expect = 0.0
        if r.bm25_rank is not None:
            expect += 1.0 / (60 + r.bm25_rank)
        if r.vector_rank is not None:
            expect += 1.0 / (60 + r.vector_rank)
        assert r.rrf == expect
        assert r.rrf <= 2.0 / 61.0 + 1e-15
        assert (r.bm25_rank is not None) or (r.vector_rank is not None)
    # per query: rrf_rank is 1..n and ordered by (rrf desc, doc_id)
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(r.query_id, []).append(r)
    for q, vs in per.items():
        vs.sort(key=lambda r: r.rrf_rank)
        assert [r.rrf_rank for r in vs] == list(range(1, len(vs) + 1))
        assert all(
            (a.rrf, -a.doc_id) >= (b.rrf, -b.doc_id) for a, b in zip(vs, vs[1:])
        )


def test_span_surgery_idempotent_and_exact(spark):
    """Surgery keeps the first occurrence of every duplicated 8-gram and
    removes non-owner-covered tokens; re-running on the rewritten corpus
    removes NOTHING (the dup grams are gone) — the idempotence contract.
    Checked on a hand-built corpus with a cross-doc shared phrase and a
    doc-internal repeat."""
    from spacex_data_pipeline_spark.operators.dedup import duplicate_span_docs

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, shared + " unique0"),
        (1, "lead1 " + shared),
        (2, "totally different words with no repeats here at all"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_span_docs(docs).collect()}

    # doc 0 owns the shared gram (min doc_id): keeps everything
    assert out[0].n_removed_tokens == 0
    assert out[0].text_dedup == shared + " unique0"
    # doc 1's occurrence is non-owner: its 8 covered tokens go
    assert out[1].n_removed_tokens == 8
    assert out[1].text_dedup == "lead1"
    assert out[2].n_removed_tokens == 0
    assert out[3].n_tokens == 0 and out[3].text_dedup == ""

    rewritten = spark.createDataFrame(
        [(i, out[i].text_dedup) for i in range(4)], "doc_id long, text string"
    )
    again = {r.doc_id: r for r in duplicate_span_docs(rewritten).collect()}
    for i in range(4):
        assert again[i].n_removed_tokens == 0
        assert again[i].text_dedup == out[i].text_dedup

    # savings agreement: removal count == the stats pass's coverage for
    # non-owner docs... globally, removed tokens <= duplicated tokens
    from spacex_data_pipeline_spark.operators.dedup import duplicate_ngram_spans

    stats = {r.doc_id: r for r in duplicate_ngram_spans(docs).collect()}
    for i in range(4):
        assert out[i].n_removed_tokens <= stats[i].n_dup_tokens


def test_text_clean_strips_invisibles(spark):
    """Planted control chars and zero-width code points are removed,
    whitespace collapses, counts are exact, and clean text is a no-op
    fixed point (idempotent)."""
    from spacex_data_pipeline_spark.queries import REGISTRY, _t  # noqa: F401

    rows = [
        (0, "hello​world\x07 and‍ more﻿"),
        (1, "  already   spaced  "),
        (2, "clean text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import spacex_data_pipeline_spark.queries as Q

    fn = Q.REGISTRY["text_clean_docs"].fn
    import unittest.mock as um

    with um.patch.object(Q, "_t", lambda s, d, n: docs):
        got = {r.doc_id: r for r in fn(spark, "ignored").collect()}
    assert got[0].text_clean == "helloworld and more"
    assert got[0].n_chars_removed == 4 and got[0].changed
    assert got[1].text_clean == "already spaced" and got[1].changed
    assert got[1].n_chars_removed == 0
    assert got[2].text_clean == "clean text" and not got[2].changed

    again = spark.createDataFrame(
        [(i, got[i].text_clean) for i in range(3)], "doc_id long, text string"
    )
    with um.patch.object(Q, "_t", lambda s, d, n: again):
        rep = {r.doc_id: r for r in fn(spark, "ignored").collect()}
    for i in range(3):
        assert not rep[i].changed


def test_event_rate_anomaly_detects_planted_spike(spark):
    """A synthetic steady stream with one 20x-spike hour: the spike is
    the ONLY anomaly; warm-up hours carry NULL z."""
    import datetime as dt

    import spacex_data_pipeline_spark.queries as Q
    import unittest.mock as um

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for h in range(48):
        n = 200 if h == 40 else (10 + (h % 3))  # mild variation, one spike
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), 1, "view"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    with um.patch.object(Q, "_t", lambda s, d, n: ev):
        got = sorted(
            Q.REGISTRY["event_rate_anomalies"].fn(spark, "x").collect(),
            key=lambda r: r.hour,
        )
    flagged = [r.hour.hour + 24 * (r.hour.day - 1) for r in got if r.is_anomaly]
    assert flagged == [40]
    assert all(r.z is None for r in got[:12])  # warm-up
    assert got[40].z > 3.0


def test_bpe_pair_counts_overlap_and_weights(spark):
    """'aaa' contributes TWO (aa) occurrences (trainer-style overlap
    counting), counts are weighted by word frequency, and 1-char words
    contribute nothing."""
    from spacex_data_pipeline_spark.operators.text import bpe_pair_counts

    vocab = spark.createDataFrame(
        [("aaa", 5), ("ab", 3), ("a", 100)], "word string, wcount int"
    )
    got = {r.pair: (r.pair_count, r.n_words) for r in bpe_pair_counts(vocab).collect()}
    assert got == {"aa": (10, 1), "ab": (3, 1)}


def test_blocked_fuzzy_pairs_finds_planted_typos(spark):
    """Substitution and single-insertion typos within the edit bound
    are matched; unrelated names and over-the-bound names are not;
    names are compared case-insensitively and pair order is canonical
    (a_key < b_key)."""
    from spacex_data_pipeline_spark.operators.linkage import blocked_fuzzy_pairs

    recs = spark.createDataFrame(
        [
            (1, "Jonathan Smith"),
            (2, "Jonathan Smyth"),      # 1 substitution
            (3, "JONATHAN SMITH"),      # case-only -> dist 0
            (4, "Jonathans Smith"),     # 1 insertion (prefix grams align)
            (5, "Gertrude Blanchard"),  # unrelated
            (6, "Jon Smith"),           # 6 deletions: over the bound
        ],
        "k long, name string",
    )
    got = {
        (r.a_key, r.b_key): r.dist
        for r in blocked_fuzzy_pairs(recs, "k", "name").collect()
    }
    assert got == {(1, 2): 1, (1, 3): 0, (2, 3): 1, (1, 4): 1, (2, 4): 2, (3, 4): 1}


def test_blocked_fuzzy_pairs_hot_gram_cap_bounds_candidates(spark):
    """A gram key shared by more records than max_gram_df is dropped
    from blocking: identical names in a corpus-wide boilerplate block
    produce NO pairs once every discriminating gram is hot — the
    D² safeguard, at the cost of recall on records whose only shared
    grams are hot (documented)."""
    from spacex_data_pipeline_spark.operators.linkage import blocked_fuzzy_pairs

    recs = spark.createDataFrame(
        [(i, "aaaaaa") for i in range(12)], "k long, name string"
    )
    assert blocked_fuzzy_pairs(recs, "k", "name", max_gram_df=5).count() == 0
    # under the cap the same corpus matches all-pairs at dist 0
    n = blocked_fuzzy_pairs(recs, "k", "name", max_gram_df=50).count()
    assert n == 12 * 11 // 2


def test_key_skew_report_flags_planted_hot_key(spark):
    """A corpus with one 50x hot key and some null keys: the report's
    max/avg/hot-key/null accounting is exact."""
    from spacex_data_pipeline_spark.functions.checks import key_skew_report

    rows = [(1,)] * 100 + [(k,) for k in range(2, 102)] + [(None,)] * 5
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_report(df, "k").collect()[0]
    # the null rows form one key group of their own (they hash to one
    # reducer in a shuffle — the report counts them as a key AND calls
    # them out separately)
    assert (r.n_rows, r.n_keys, r.max_freq) == (205, 102, 100)
    # avg ~2.0; only key 1 exceeds 10x the average
    assert r.n_hot_keys == 1
    assert r.null_rows == 5
    assert r.skew_ratio == 100 / (205 / 102)


def test_heavy_hitters_share_and_order(spark):
    from spacex_data_pipeline_spark.functions.checks import heavy_hitters

    rows = [("a",)] * 60 + [("b",)] * 30 + [("c",)] * 10
    df = spark.createDataFrame(rows, "k string")
    got = [(r.k, r.freq, r.share_pct) for r in heavy_hitters(df, "k").collect()]
    assert got == [("a", 60, 60.0), ("b", 30, 30.0), ("c", 10, 10.0)]


def test_weighted_sample_two_level_equals_direct_rank(spark, sf_oracle):
    """The bucketed two-level per-group top-k returns EXACTLY the rows
    and ranks of a direct per-group window over the same priorities."""
    from pyspark.sql import Window

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.sampling import (
        weighted_priority,
        weighted_sample_per_group,
    )

    docs = catalog.table(spark, sf_oracle, "documents").select(
        "doc_id",
        "source",
        F.least(
            F.lit(32), F.greatest(F.floor(F.col("n_chars") / F.lit(400.0)), F.lit(1))
        ).alias("weight"),
    )
    got = {
        (r.source, r.doc_id): r.sample_rank
        for r in weighted_sample_per_group(
            docs, "doc_id", "weight", "source", k=25
        ).collect()
    }
    direct = docs.withColumn(
        "priority", weighted_priority(F.col("doc_id"), F.col("weight"), "ws")
    )
    w = Window.partitionBy("source").orderBy(F.col("priority").desc(), "doc_id")
    want = {
        (r.source, r.doc_id): r.rk
        for r in direct.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
        .collect()
    }
    assert got == want


def test_weighted_sample_is_weight_proportional(spark):
    """A-ES law check: with weights 8 vs 1 and a 200-of-2000 sample,
    heavy keys should win ~8/9 of the slots (deterministic draw — the
    band is wide enough to be stable, tight enough to catch a uniform
    sampler, which would give ~100)."""
    from spacex_data_pipeline_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(i, "g", 8 if i < 1000 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, g string, w int")
    picked = weighted_sample_per_group(df, "k", "w", "g", k=200).collect()
    assert len(picked) == 200
    heavy = sum(1 for r in picked if r.k < 1000)
    assert 150 <= heavy <= 195  # E[heavy] ≈ 178


def test_phrase_search_equals_direct_array_scan(spark, sf_oracle):
    """The posting-intersection phrase plan returns exactly the result
    of a direct token-array scan (match counts AND first positions),
    including overlapping matches ('a a a' contains 'a a' twice)."""
    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.text import phrase_search, tokens

    docs = catalog.table(spark, sf_oracle, "documents")
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(docs, "value table").collect()
    }
    toks = {r.doc_id: r.t for r in docs.select("doc_id", tokens(F.col("text")).alias("t")).collect()}
    want = {}
    for did, ts in toks.items():
        hits = [i for i in range(len(ts) - 1) if ts[i] == "value" and ts[i + 1] == "table"]
        if hits:
            want[did] = (len(hits), hits[0])
    assert got == want


def test_phrase_search_three_terms_and_overlap(spark):
    from spacex_data_pipeline_spark.operators.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "big red fox big red fox"),
            (2, "big red herring"),
            (3, "a a a a"),
            (4, "red fox big"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(docs, "big red fox").collect()
    }
    assert got == {1: (2, 0)}
    overlap = {
        r.doc_id: r.n_matches for r in phrase_search(docs, "a a").collect()
    }
    assert overlap == {3: 3}


def test_centroid_confusion_separable_clusters(spark):
    """Two well-separated clusters classify perfectly (diagonal
    confusion matrix); a vector planted at the other cluster's centroid
    shows up as that off-diagonal cell."""
    import random

    from spacex_data_pipeline_spark.operators.similarity import (
        nearest_centroid_confusion,
    )

    rng = random.Random(7)
    rows = []
    for i in range(20):
        rows.append((i, [1.0 + rng.uniform(-0.01, 0.01)] * 64, 0))
    for i in range(20, 40):
        rows.append((i, [-1.0 + rng.uniform(-0.01, 0.01)] * 64, 1))
    rows.append((99, [-1.0] * 64, 0))  # label-0 point sitting in cluster 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.label, r.pred): r.n for r in nearest_centroid_confusion(df).collect()}
    assert got == {(0, 0): 20, (1, 1): 20, (0, 1): 1}


def test_text_index_persist_serve_matches_bm25(spark, sf_oracle, tmp_path):
    """Index-once/serve-many: search_text_index over the persisted
    posting table returns bit-identical (rank, score) to the in-memory
    bm25_topk for the same query terms, and the serve plan reads ONLY
    the query terms' bucket directories (PartitionFilters present)."""
    import re

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.text import (
        bm25_topk,
        persist_text_index,
        search_text_index,
        tokens,
    )

    docs = catalog.table(spark, sf_oracle, "documents")
    path = str(tmp_path / "tix")
    persist_text_index(docs, path)

    # replicate bm25_topk's query-term derivation for doc 0 in Python
    toks0 = docs.filter(F.col("doc_id") == 0).select(
        tokens(F.col("text")).alias("t")
    ).collect()[0].t
    seen, terms = set(), []
    for t in toks0:
        if t not in seen:
            seen.add(t)
            terms.append(t)
        if len(terms) == 3:
            break

    served = search_text_index(spark, path, terms, k=10)
    got = {r.doc_id: (r.rank, r.score) for r in served.collect()}
    want = {
        r.doc_id: (r.rank, r.score)
        for r in bm25_topk(docs, [0]).collect()
    }
    assert got == want

    plan = served._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*term_bucket", plan)
    assert m, "serve read is not partition-pruned by term bucket"


def test_text_index_incremental_update_equals_rebuild(spark, sf_oracle, tmp_path):
    """Appending a doc batch with update_text_index must serve results
    BIT-IDENTICAL to an index rebuilt from the union — df is derived at
    serve time and the stats table is summed, so no score can drift.
    Re-appending the same ids must refuse (the double-count guard)."""
    import pytest as _pytest

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.text import (
        persist_text_index,
        search_text_index,
        tokens,
        update_text_index,
    )

    docs = catalog.table(spark, sf_oracle, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    inc_path, full_path = str(tmp_path / "inc"), str(tmp_path / "full")
    persist_text_index(old, inc_path)
    update_text_index(spark, new, inc_path)
    persist_text_index(docs, full_path)

    toks0 = docs.filter(F.col("doc_id") == 0).select(
        tokens(F.col("text")).alias("t")
    ).collect()[0].t
    terms = list(dict.fromkeys(toks0))[:2]

    got = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, inc_path, terms, k=10).collect()
    }
    want = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, full_path, terms, k=10).collect()
    }
    assert got == want and got

    with _pytest.raises(ValueError, match="already indexed"):
        update_text_index(spark, new.limit(3), inc_path)


@pytest.mark.slow
def test_text_index_tombstones_equal_rebuild(spark, sf_oracle, tmp_path):
    """Tombstoned docs must vanish from served results with df/n_docs/
    avgdl corrections EXACTLY matching an index rebuilt without them —
    same ranks, bit-identical scores. Unknown ids refuse; re-adding a
    tombstoned id refuses (it would be invisible behind the anti-join)."""
    import pytest as _pytest

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.text import (
        persist_text_index,
        search_text_index,
        tokens,
        tombstone_text_index,
        update_text_index,
    )

    docs = catalog.table(spark, sf_oracle, "documents")
    dead_ids = [0, 7, 64]
    live = docs.filter(~F.col("doc_id").isin(dead_ids))
    tomb_path, rebuilt_path = str(tmp_path / "tomb"), str(tmp_path / "rebuilt")
    persist_text_index(docs, tomb_path)
    tombstone_text_index(spark, tomb_path, dead_ids)
    persist_text_index(live, rebuilt_path)

    toks1 = docs.filter(F.col("doc_id") == 1).select(
        tokens(F.col("text")).alias("t")
    ).collect()[0].t
    terms = list(dict.fromkeys(toks1))[:2]

    got = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, tomb_path, terms, k=10).collect()
    }
    want = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, rebuilt_path, terms, k=10).collect()
    }
    assert got == want and got
    assert not set(dead_ids) & set(got)

    with _pytest.raises(ValueError, match="not in index"):
        tombstone_text_index(spark, tomb_path, [10**12])
    with _pytest.raises(ValueError, match="tombstoned"):
        update_text_index(spark, docs.filter(F.col("doc_id") == 7), tomb_path)

    # compaction: served results unchanged, tombstones gone, dead ids
    # re-addable — the full lifecycle closes
    from spacex_data_pipeline_spark.operators.text import compact_text_index

    assert compact_text_index(spark, tomb_path) == len(dead_ids)
    import os

    assert not os.path.isdir(tomb_path + "/tombstones")
    after = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, tomb_path, terms, k=10).collect()
    }
    assert after == want
    update_text_index(spark, docs.filter(F.col("doc_id") == 7), tomb_path)
    assert compact_text_index(spark, tomb_path) == 0  # no-op without tombstones
    readded = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, tomb_path, terms, k=10).collect()
    }
    # doc 7 is back: results match an index over live + doc 7
    live7_path = str(tmp_path / "live7")
    persist_text_index(
        docs.filter(~F.col("doc_id").isin([0, 64])), live7_path
    )
    want7 = {
        r.doc_id: (r.rank, r.score)
        for r in search_text_index(spark, live7_path, terms, k=10).collect()
    }
    assert readded == want7


def test_text_index_compaction_failed_swap_leaves_whole_old_index(
    spark, tmp_path, monkeypatch
):
    """compact_text_index swaps the whole index directory. When the second
    rename fails, the old index is found whole — at the path, or at the
    backup — with every file it had and the same served results, never
    a mix of compacted and uncompacted tables. A retry then compacts and
    leaves no staging directory behind."""
    import os

    from spacex_data_pipeline_spark.operators import text
    from spacex_data_pipeline_spark.operators.text import (
        compact_text_index,
        persist_text_index,
        search_text_index,
        tombstone_text_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i} tok{i % 3}") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ix")
    monkeypatch.setattr(text, "TERM_BUCKETS", 4)
    persist_text_index(docs, path)
    tombstone_text_index(spark, path, [2, 5])

    def files(p):
        return sorted(
            os.path.relpath(os.path.join(d, f), p)
            for d, _, fs in os.walk(p)
            for f in fs
        )

    def served(p):
        return sorted(
            tuple(r)
            for r in search_text_index(spark, p, ["alpha", "tok2"], k=10).collect()
        )

    before_files, before = files(path), served(path)
    real_rename, calls = os.rename, []

    def second_rename_fails(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("second rename failed")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", second_rename_fails)
    with pytest.raises(OSError, match="second rename failed"):
        compact_text_index(spark, path)
    monkeypatch.setattr(os, "rename", real_rename)

    whole = path if os.path.isdir(path) else path + ".__compact_old__"
    assert files(whole) == before_files
    assert "tombstones" in os.listdir(whole)
    assert served(whole) == before

    if whole != path:
        real_rename(whole, path)
    assert compact_text_index(spark, path) == 2
    assert sorted(os.listdir(path)) == ["doclens", "postings", "stats"]
    assert served(path) == before
    assert sorted(os.listdir(tmp_path)) == ["ix"]


def test_text_index_compaction_never_deletes_a_leftover_backup(spark, tmp_path):
    """A crash between compact_text_index's two renames leaves the whole
    old index only at ``.__compact_old__``. A later compaction of an
    index rebuilt at the path must refuse to run, naming the backup, and
    leave the backup's files byte-identical."""
    import os
    import re
    import shutil

    from spacex_data_pipeline_spark.operators.text import (
        compact_text_index,
        persist_text_index,
        tombstone_text_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i}") for i in range(4)], "doc_id long, text string"
    )
    path = str(tmp_path / "ix")
    old = path + ".__compact_old__"
    persist_text_index(docs, path)
    shutil.copytree(path, old)  # the backup a crash left behind
    tombstone_text_index(spark, path, [1])

    def contents(d):
        out = {}
        for root, _, names in os.walk(d):
            for n in names:
                f = os.path.join(root, n)
                with open(f, "rb") as fh:
                    out[os.path.relpath(f, d)] = fh.read()
        return out

    backup = contents(old)
    with pytest.raises(FileExistsError, match=re.escape(old)):
        compact_text_index(spark, path)
    assert contents(old) == backup
    assert not os.path.exists(path + ".__compact_tmp__")
    assert "tombstones" in os.listdir(path)


def test_blocking_report_accounts_for_planted_corpus(spark):
    """On a corpus of 3 near-identical names + 1 outlier: candidates
    equal the verified matches (precision 100), no hot keys at a high
    cap, and records/keys counts are exact."""
    from spacex_data_pipeline_spark.operators.linkage import blocking_report

    recs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdex"), (3, "abcdey"), (4, "zzzzzz")],
        "k long, name string",
    )
    r = blocking_report(recs, "k", "name").collect()[0]
    assert r.n_records == 4
    assert r.n_hot_keys == 0
    assert r.n_candidates == 3  # (1,2),(1,3),(2,3) share positional grams
    assert r.n_matched == 3     # all within dist 2
    assert r.verify_precision_pct == 100.0


def test_label_compactness_tight_vs_loose(spark):
    """A tight cluster scores avg_cos ~1; an antipodal pair's centroid
    cosines are symmetric and far below; singleton labels score exactly
    1.0 (vector == its centroid up to quantization)."""
    from spacex_data_pipeline_spark.operators.similarity import label_compactness

    rows = (
        [(i, [1.0] * 32 + [0.01 * (i % 3)] * 32, 0) for i in range(12)]
        + [(100, [1.0] * 64, 1), (101, [-0.8] * 64, 1)]  # opposed directions
        + [(200, [0.5] * 64, 2)]
        + [(300, [0.0] * 64, 3)]  # zero vector: NaN cosine, excluded from avg
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.label: r for r in label_compactness(df).collect()}
    assert got[0].n_vecs == 12 and got[0].avg_cos > 0.99
    assert got[1].n_vecs == 2 and abs(got[1].avg_cos) < 0.05  # +1 and -1 average out
    assert got[2].n_vecs == 1 and got[2].avg_cos > 0.999999
    assert got[3].n_vecs == 1 and got[3].avg_cos is None and got[3].min_cos is None


def test_word_graph_triangle_census_hand_built(spark):
    """K3 plus a pendant edge: 1 triangle, 4 nodes, 4 edges, 5 wedges,
    clustering 3/5 — counted from a corpus engineered to produce that
    graph."""
    import unittest.mock as um

    import spacex_data_pipeline_spark.queries as Q

    # adjacencies: aaa-bbb, bbb-ccc, ccc-aaa (triangle), ccc-ddd (pendant)
    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc aaa"), (2, "ccc ddd")],
        "doc_id long, text string",
    )
    with um.patch.object(Q, "_t", lambda s, d, n: docs):
        r = Q.REGISTRY["word_graph_stats"].fn(spark, "x").collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 4, 1, 5)
    assert r.global_clustering == 3.0 / 5.0


def test_bench_max_cosine_semantics(spark):
    """Planted-geometry lock for the packed-broadcast argmax tile:
    exact argmax and value, deterministic tie-break to the GREATEST bid
    (struct-max), zero-norm corpus vectors vanish (all-NaN row), and
    zero-norm bench vectors never win."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.similarity import bench_max_cosine

    # bench: b0 = +x, b1 = +y, b2 = zero (NaN vs everything),
    #        b3 = +x scaled (cosine-identical to b0 — a true tie)
    bench = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [2.0, 0.0, 0.0, 0.0]),
        ],
        "bid long, bv array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (10, "a", [3.0, 0.0, 0.0, 0.0]),   # ties b0/b3 at 1.0 -> bid 3
            (11, "b", [0.0, 5.0, 0.1, 0.0]),   # clearly b1
            (12, "c", [0.0, 0.0, 0.0, 0.0]),   # zero-norm: must vanish
            (13, "d", [-1.0, 0.0, 0.0, 0.0]),  # max is still defined (-? b1=0 beats b0=-1)
        ],
        "vec_id long, tag string, embedding array<float>",
    )
    got = {
        r.vec_id: (r.tag, r.top_bench_id, round(r.max_cosine, 9))
        for r in bench_max_cosine(corpus, bench, carry=["tag"]).collect()
    }
    assert set(got) == {10, 11, 13}  # 12 vanished (all-NaN)
    assert got[10] == ("a", 3, 1.0)  # tie -> greatest bid
    assert got[11][1] == 1 and got[11][2] < 1.0
    assert got[13][1] == 1 and got[13][2] == 0.0  # orthogonal beats opposite


def test_range_join_binned_boundary_semantics(spark):
    """[start, end) containment at exact bin boundaries, multi-bin
    intervals, key scoping, and the no-duplicate-pairs guarantee."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.relational import range_join_binned

    points = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 08:00:00"),  # == start: IN
            (2, "a", "2024-01-01 15:59:59"),  # just inside: IN
            (3, "a", "2024-01-01 16:00:00"),  # == end: OUT
            (4, "a", "2024-01-01 07:59:59"),  # before: OUT
            (5, "b", "2024-01-01 12:00:00"),  # wrong key: OUT
            (6, "a", "2024-01-01 12:00:00"),  # mid-interval: IN
        ],
        "pid long, k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    iv = spark.createDataFrame(
        [("a", "2024-01-01 08:00:00", "2024-01-01 16:00:00")],
        "k string, ws string, we string",
    ).withColumn("ws", F.to_timestamp("ws")).withColumn("we", F.to_timestamp("we"))
    out = range_join_binned(points, iv, "ts", "ws", "we", keys=["k"], bin_seconds=3600)
    got = sorted(r.pid for r in out.collect())
    assert got == [1, 2, 6]  # each exactly once: no bin-duplicate pairs


def test_quantile_sketch_bins_contain_exact_percentiles(spark, sf_oracle):
    """The docstring's bound made concrete: for each q, the EXACT
    disc-percentile of o_totalprice (computed here, driver-side, over the
    small fixture — never part of the registered plan) falls inside the
    claimed [est_lo, est_hi) bin, and rank bookkeeping is consistent."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = {
        r.q: r
        for r in REGISTRY["quantile_sketch_store_orders"].fn(spark, sf_oracle).collect()
    }
    import duckdb

    con = duckdb.connect()
    exact = {
        q: con.execute(
            f"SELECT quantile_disc(o_totalprice, {q}) FROM '{sf_oracle}/orders.parquet'"
        ).fetchone()[0]
        for q in (0.5, 0.9, 0.99)
    }
    assert set(rows) == {0.5, 0.9, 0.99}
    for q, r in rows.items():
        assert r.est_lo <= exact[q] < r.est_hi, (q, exact[q], r)
        assert r.rank_needed <= r.n_total and r.bin_n >= 1


def test_cms_estimates_dominate_exact_and_merge_is_additive(spark, sf_oracle):
    """CMS invariants: est >= exact for every audited key (no-deletion
    count-min guarantee), and the per-day cell store really is the merge
    grain — summing stored daily cells equals the one-shot global grid."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.queries import REGISTRY, _CMS_D, _CMS_W

    out = REGISTRY["cms_mergeable_user_counts"].fn(spark, sf_oracle).collect()
    assert len(out) == 20
    assert all(r.est_ok and r.cms_est >= r.exact_n and r.overcount >= 0 for r in out)
    # w < |users| forces collisions: at least one audited key overcounts
    ev = catalog.table(spark, sf_oracle, "events")
    n_users = ev.select("user_id").distinct().count()
    if n_users > _CMS_W:
        assert any(r.overcount > 0 for r in out)


def test_global_running_sum_equals_single_window(spark):
    """The two-phase prefix scan must equal the naive global window on a
    frame with ties, bucket boundaries, and a bucket containing one row."""
    from pyspark.sql import Window

    from spacex_data_pipeline_spark.operators.relational import global_running_sum

    df = spark.createDataFrame(
        [(k, d, v) for k, (d, v) in enumerate([
            ("2024-01-05", 10), ("2024-01-05", 5), ("2024-01-31", 1),
            ("2024-02-01", 7), ("2024-02-14", 2), ("2024-04-09", 20),
        ])],
        "k long, d string, v long",
    ).withColumn("d", F.to_date("d"))
    got = {
        r.k: (r.running_n, r.running_sum)
        for r in global_running_sum(
            df,
            grain=F.date_trunc("month", F.col("d")),
            order=[F.col("d"), F.col("k")],
            value=F.col("v"),
        ).collect()
    }
    w = (
        Window.orderBy("d", "k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r.k: (r.n, r.s)
        for r in df.select(
            "k", F.count(F.lit(1)).over(w).alias("n"), F.sum("v").over(w).alias("s")
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("n_rows,k", [(1, 4), (3, 4), (7, 4), (8, 4), (23, 5), (40, 10)])
def test_global_row_number_and_ntile_equal_single_window(spark, n_rows, k):
    """The two-phase global row_number + arithmetic NTILE must equal the
    naive unpartitioned window for every (n, k) split shape: n < k
    (one-row tiles), n % k == 0 (even), n % k != 0 (remainder tiles),
    plus ties in the order prefix and single-row buckets."""
    from pyspark.sql import Window

    from spacex_data_pipeline_spark.operators.relational import (
        global_row_number,
        ntile_from_rank,
    )

    # values with ties (v repeats) and a unique tiebreaker k-column
    rows = [(i, (i * 7) % 5) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r.id: (r.rn, r.tile, r.pr, r.cd)
        for r in global_row_number(
            df,
            grain=F.col("v"),
            order=[F.col("v"), F.col("id")],
            alias="rn",
            total_alias="n",
        )
        .select(
            "id",
            "rn",
            ntile_from_rank(F.col("rn"), F.col("n"), k).cast("int").alias("tile"),
            F.when(F.col("n") == 1, F.lit(0.0))
            .otherwise(
                (F.col("rn") - 1).cast("double") / (F.col("n") - 1).cast("double")
            )
            .alias("pr"),
            (F.col("rn").cast("double") / F.col("n").cast("double")).alias("cd"),
        )
        .collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r.id: (r.rn, r.tile, r.pr, r.cd)
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.ntile(k).over(w).alias("tile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        ).collect()
    }
    assert got == want


def test_global_row_number_descending_order_via_negated_grain(spark):
    """DESC orderings use a negated grain: floor(-x/w) ascends exactly
    when x descends, and equal x share a grain — rank must still equal
    the naive DESC window."""
    from pyspark.sql import Window

    from spacex_data_pipeline_spark.operators.relational import global_row_number

    rows = [(i, float((i * 37) % 11) * 13.5) for i in range(29)]
    df = spark.createDataFrame(rows, "id long, x double")
    got = {
        r.id: r.rn
        for r in global_row_number(
            df,
            grain=F.floor(-F.col("x") / F.lit(20.0)),
            order=[F.col("x").desc(), F.col("id")],
            alias="rn",
        ).collect()
    }
    w = Window.orderBy(F.col("x").desc(), "id")
    want = {
        r.id: r.rn
        for r in df.select("id", F.row_number().over(w).cast("long").alias("rn")).collect()
    }
    assert got == want


def test_gram_matrix_quantized_matches_naive_on_negatives(spark, monkeypatch):
    """floor() rounds toward -inf in numpy, Spark and DuckDB alike — the
    quantized Gram must agree with a naive per-pair computation on
    vectors with negative components and zero vectors."""
    import math

    from spacex_data_pipeline_spark.operators.similarity import (
        covariance_matrix_quantized,
        gram_matrix_quantized,
    )

    dim = 4
    monkeypatch.setattr(similarity, "EMBED_DIM", dim)
    vecs = [
        [0.5, -0.5, 0.000001, -0.000001],
        [-1.0, 1.0, -0.3333333, 0.25],
        [0.0, 0.0, 0.0, 0.0],
        [0.1, 0.2, -0.7, 0.9999999],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    # reference: quantize exactly like the operator (float32 -> float64
    # -> *1e6 -> floor) and sum products in Python ints (exact)
    import numpy as np

    qs = [
        [int(math.floor(float(np.float32(x)) * 1_000_000)) for x in v] for v in vecs
    ]
    want = {
        (i, j): sum(q[i] * q[j] for q in qs)
        for i in range(dim)
        for j in range(i, dim)
    }
    got = {
        (r.i, r.j): r.g
        for r in gram_matrix_quantized(df).collect()
    }
    assert got == want
    # covariance composition: centering identity vs the direct formula
    n = len(vecs)
    s = [sum(q[i] for q in qs) for i in range(dim)]
    want_cov = {
        (i, j): float(n * want[(i, j)] - s[i] * s[j]) / n / n / 1e6 / 1e6
        for (i, j) in want
    }
    got_cov = {
        (r.i, r.j): r.cov
        for r in covariance_matrix_quantized(df).collect()
    }
    assert got_cov == want_cov


def test_hashed_features_invariants(spark):
    """Hashing-trick invariants on a hand corpus: unsigned weights sum to
    the token count; the signed table is the unsigned one with per-token
    signs applied (|weight| ≤ tf); empty docs vanish; extra columns ride
    through; buckets stay inside [0, dims)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.text import hashed_features

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma", "en"),
            (2, "beta beta beta", "fr"),
            (3, "", "en"),
            (4, "   ", "es"),
            (5, "delta", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    tf = hashed_features(docs, signed=False, extra=["lang"])
    rows = tf.collect()
    assert sum(r.weight for r in rows) == 4 + 3 + 0 + 0 + 1
    assert {r.doc_id for r in rows} == {1, 2, 5}  # blank docs drop
    assert all(0 <= r.bucket < 32 for r in rows)
    assert all(r.lang in {"en", "fr"} for r in rows)

    signed = hashed_features(docs, signed=True).collect()
    tf_by_key = {(r.doc_id, r.bucket): r.weight for r in rows}
    for r in signed:
        assert r.weight != 0  # cancellations are filtered
        assert abs(r.weight) <= tf_by_key[(r.doc_id, r.bucket)]
    # same token always hashes to the same (bucket, sign): a doc with one
    # distinct token has |weight| == tf exactly
    beta_only = [r for r in signed if r.doc_id == 2]
    assert len(beta_only) == 1 and abs(beta_only[0].weight) == 3


def test_hashed_classifier_confusion_is_complete_and_exact(spark, sf_oracle):
    """The confusion matrix covers every non-empty doc exactly once, and
    a planted perfectly-separable corpus classifies perfectly."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.queries import REGISTRY

    out = REGISTRY["hashed_nb_lang_classifier"].fn(spark, sf_oracle).collect()
    n_docs = sum(r.n_docs for r in out)
    from spacex_data_pipeline_spark import catalog

    docs = catalog.table(spark, sf_oracle, "documents")
    nonempty = docs.filter(F.trim(F.col("text")) != "").count()
    assert n_docs == nonempty
    # planted separable corpus: en docs say only "cat", others only "chien"
    from spacex_data_pipeline_spark.operators.text import hashed_features

    planted = spark.createDataFrame(
        [(i, "cat cat cat", "en") for i in range(10)]
        + [(i + 10, "chien chien", "fr") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    tf = hashed_features(planted, signed=False, extra=["lang"]).select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("is_en"),
        "bucket",
        F.col("weight").alias("w"),
    )
    model = tf.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_en") == 1, F.col("w")).otherwise(0)).alias("pos_b"),
        F.sum(F.when(F.col("is_en") == 0, F.col("w")).otherwise(0)).alias("neg_b"),
    )
    tot = model.agg(F.sum("pos_b").alias("t_pos"), F.sum("neg_b").alias("t_neg"))
    wt = model.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("pos_b") * F.col("t_neg") - F.col("neg_b") * F.col("t_pos"))
        .cast("long")
        .alias("w_b"),
    )
    sc = (
        tf.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id", "is_en")
        .agg(F.sum(F.col("w") * F.col("w_b")).cast("long").alias("score"))
        .collect()
    )
    for r in sc:
        assert (r.score > 0) == (r.is_en == 1)


def test_dsir_importance_favors_target_like_docs(spark):
    """Docs written in the target source's vocabulary outscore docs written
    in a disjoint vocabulary, and target docs themselves score positive."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.text import hashed_features

    rows = (
        [(i, "good clean prose text", "src0") for i in range(20)]
        + [(100 + i, "good clean prose text", "srcA") for i in range(5)]
        + [(200 + i, "zz yy xx ww vv uu", "srcB") for i in range(20)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    tf = hashed_features(docs, signed=False, extra=["source"]).select(
        "doc_id", "source", "bucket", F.col("weight").alias("w")
    )
    model = tf.groupBy("bucket").agg(
        F.sum(F.when(F.col("source") == "src0", F.col("w")).otherwise(0)).alias(
            "t_b"
        ),
        F.sum("w").alias("r_b"),
    )
    tot = model.agg(F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot"))
    wt = model.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("t_b") * F.col("r_tot") - F.col("r_b") * F.col("t_tot"))
        .cast("long")
        .alias("w_b"),
    )
    sc = {
        r.doc_id: r.importance
        for r in tf.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("w") * F.col("w_b")).cast("long").alias("importance"))
        .collect()
    }
    assert sc[100] > sc[200]  # target-vocab doc beats off-vocab doc
    assert sc[0] > 0  # target docs are target-enriched
    assert sc[200] < 0  # disjoint-vocab docs are target-depleted


def test_bloom_prefilter_semi_join_exact_and_pruning(spark):
    """The bloom-prefiltered semi join equals the plain left-semi result,
    and the pre-filter alone prunes most non-matching probe rows (no
    false negatives; bounded false positives)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.functions.hashing import md5_int60
    from spacex_data_pipeline_spark.operators.relational import (
        bloom_prefilter_semi_join,
    )

    probe = spark.range(0, 2000).select(F.col("id").alias("k"))
    build = spark.range(0, 100).select((F.col("id") * 20).alias("k"))  # 5% match
    got = sorted(r.k for r in bloom_prefilter_semi_join(probe, build, "k").collect())
    want = sorted(r.k for r in probe.join(build, "k", "left_semi").collect())
    assert got == want and len(want) == 100

    # measure the pre-filter's survivor count (re-derive the filter stage)
    from spacex_data_pipeline_spark.operators.dedup import (
        bloom_build,
        bloom_might_contain,
    )

    m, k = 1 << 16, 4
    bf = bloom_build(build, "k", m_bits=m, k_hashes=k)
    survivors = (
        probe.crossJoin(F.broadcast(bf))
        .filter(bloom_might_contain("k", m_bits=m, k_hashes=k))
        .count()
    )
    # 100 true + FP: with n=100 keys, m=65536, k=4 the FP rate is ~1e-9 —
    # allow a loose bound so the assertion is about pruning, not exact FP
    assert 100 <= survivors <= 120


def test_group_kfold_keeps_dup_clusters_together(spark, sf_oracle):
    """Every dedup component lands in exactly one fold, and fold counts
    cover the whole corpus."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from spacex_data_pipeline_spark.operators.sampling import hash_bucket
    from spacex_data_pipeline_spark.queries import REGISTRY

    docs = catalog.table(spark, sf_oracle, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    comp = connected_components(docs.select("doc_id"), pairs)
    folded = comp.select(
        "component", hash_bucket(F.col("component"), "kfold", 5).alias("fold")
    )
    straddlers = (
        folded.groupBy("component")
        .agg(F.countDistinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    assert straddlers == 0
    report = REGISTRY["group_kfold_components"].fn(spark, sf_oracle).collect()
    assert sum(r.n_docs for r in report) == docs.count()
    assert {r.fold for r in report} <= {0, 1, 2, 3, 4}


def test_mad_outlier_semantics_planted(spark):
    """A planted extreme value is flagged by the 3·MAD rule while the rest
    of a tight cluster is not, and MAD itself ignores the outlier (robust
    breakdown — the mean±3σ rule on the same data would NOT flag it as
    cleanly because σ is dragged)."""
    from pyspark.sql import functions as F

    vals = [100.0 + i for i in range(-5, 6)] + [10_000.0]
    df = spark.createDataFrame(
        [("P", float(v)) for v in vals], "o_orderpriority string, o_totalprice double"
    )
    med = df.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    d = df.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority", F.abs(F.col("o_totalprice") - F.col("med")).alias("dev")
    )
    mad = d.groupBy("o_orderpriority").agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    flagged = (
        d.join(F.broadcast(mad), "o_orderpriority")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .count()
    )
    assert flagged == 1  # only the planted 10_000


def test_gini_hand_cases(spark):
    """Gini = 0 for perfectly uniform spend; (n-1)/n when one customer has
    everything (the rank-formula closed forms)."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.relational import global_row_number

    def gini_of(cents_list):
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents_list)], "o_custkey long, cents long"
        )
        r = global_row_number(
            df,
            grain=F.floor(F.col("cents") / F.lit(1000)),
            order=[F.col("cents"), F.col("o_custkey")],
            alias="i",
        )
        row = r.agg(
            (
                (
                    F.sum(2 * F.col("i") * F.col("cents"))
                    - (F.count(F.lit(1)) + 1) * F.sum("cents")
                ).cast("double")
                / (F.count(F.lit(1)) * F.sum("cents"))
            ).alias("g")
        ).collect()[0]
        return row.g

    assert gini_of([500] * 10) == 0.0
    n = 8
    assert gini_of([0] * (n - 1) + [9999]) == (n - 1) / n


def test_bm25_self_retrieval_mrr_planted(spark):
    """On a corpus of unique-vocabulary docs every query retrieves itself
    at rank 1 (MRR = 1); duplicating a query doc pushes self to a
    rank ≤ 2 tie broken by doc_id, degrading MRR deterministically."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.text import bm25_topk

    uniq = [(i, f"tok{i}a tok{i}b tok{i}c") for i in range(6)]
    docs = spark.createDataFrame(uniq, "doc_id long, text string")
    ranked = bm25_topk(docs, [0, 1, 2])
    selfr = {r.query_id: r.rank for r in ranked.collect() if r.doc_id == r.query_id}
    assert selfr == {0: 1, 1: 1, 2: 1}

    # doc 99 is a verbatim copy of doc 0: identical score, doc_id tiebreak
    # keeps 0 first (0 < 99), so self still ranks 1 — but 99 now occupies
    # rank 2 of query 0's list
    dup = docs.union(spark.createDataFrame([(99, uniq[0][1])], "doc_id long, text string"))
    r0 = {r.rank: r.doc_id for r in bm25_topk(dup, [0]).collect()}
    assert r0[1] == 0 and r0[2] == 99


def test_lorenz_curve_monotone_and_consistent_with_gini(spark, sf_oracle):
    """Lorenz shares are monotone in decile, end at 100%, and decile
    spends sum to the Gini entry's total."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["lorenz_curve_customer_spend"].fn(spark, sf_oracle).collect()
    shares = [r.cum_share_pct for r in sorted(rows, key=lambda r: r.decile)]
    assert all(a <= b for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 100.0) < 1e-9
    g = REGISTRY["gini_customer_spend"].fn(spark, sf_oracle).collect()[0]
    assert abs(sum(r.decile_spend for r in rows) - g.total_spend) < 1e-6
    assert sum(r.n_customers for r in rows) == g.n_customers


def test_vocab_growth_curve_totals(spark, sf_oracle):
    """The final vocab_size equals the corpus' distinct-term count, and
    new_terms are non-negative with a monotone cumulative sum."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark import catalog
    from spacex_data_pipeline_spark.operators.text import tokens
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["vocab_growth_curve"].fn(spark, sf_oracle).collect(),
        key=lambda r: r.decile,
    )
    docs = catalog.table(spark, sf_oracle, "documents")
    n_vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert rows[-1].vocab_size == n_vocab
    assert all(r.new_terms >= 0 for r in rows)
    assert [r.vocab_size for r in rows] == [
        sum(x.new_terms for x in rows[: i + 1]) for i in range(len(rows))
    ]


def test_model_curation_report_consistent_with_standalone_models(spark, sf_oracle):
    """The composed report's per-gate counts equal what the standalone
    classifier and DSIR entries imply — the materialize-once composition
    changes the pass count, never the decisions."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.queries import REGISTRY

    report = REGISTRY["model_curation_report"].fn(spark, sf_oracle).collect()
    dsir = REGISTRY["dsir_importance_scores"].fn(spark, sf_oracle).collect()
    n_target_like = sum(1 for r in dsir if r.importance > 0)
    assert sum(r.n_target_like for r in report) == n_target_like
    cls = REGISTRY["hashed_nb_lang_classifier"].fn(spark, sf_oracle).collect()
    n_pred_en = sum(r.n_docs for r in cls if r.pred_en == 1)
    assert sum(r.n_pred_en for r in report) == n_pred_en
    assert all(r.n_selected <= min(r.n_pred_en, r.n_target_like) for r in report)


def test_cusum_finds_planted_level_shift(spark):
    """A stream whose rate doubles halfway through has its |CUSUM| peak
    exactly at the last pre-shift hour, and the deviations provably sum
    to zero (the exact-integer cross-multiplication)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(48):
        n = 2 if h < 24 else 4  # rate doubles at hour 24
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, minutes=i)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")

    hc = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = hc.agg(F.sum("c").alias("t"), F.count(F.lit(1)).cast("long").alias("h_n"))
    d = hc.crossJoin(F.broadcast(tot)).select(
        "hour", (F.col("c") * F.col("h_n") - F.col("t")).cast("long").alias("dev")
    )
    assert d.agg(F.sum("dev")).collect()[0][0] == 0
    from pyspark.sql import Window

    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    s = d.select("hour", F.sum("dev").over(w).alias("cusum")).collect()
    peak = max(s, key=lambda r: (abs(r.cusum), -r.hour.timestamp()))
    assert peak.hour == base + dt.timedelta(hours=23)  # last pre-shift hour


def test_interval_overlap_join_binned_semantics(spark):
    """Closed-bound overlap semantics and the exactly-once
    responsibility-bin guarantee across multi-bin overlaps."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.relational import (
        interval_overlap_join_binned,
    )

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 08:30:00", "2024-01-01 11:30:00"),  # 3-bin overlap: once
            (2, "2024-01-01 09:00:00", "2024-01-01 09:10:00"),  # contained: once
            (3, "2024-01-01 10:00:00", "2024-01-01 10:00:00"),  # zero-length inside: once
            (4, "2024-01-01 12:00:00", "2024-01-01 12:30:00"),  # l_start == r_end: IN (closed)
            (5, "2024-01-01 12:00:01", "2024-01-01 13:00:00"),  # past end: OUT
            (6, "2024-01-01 07:00:00", "2024-01-01 07:59:59"),  # before start: OUT
        ],
        "lid long, s string, e string",
    ).select("lid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    right = spark.createDataFrame(
        [("2024-01-01 08:00:00", "2024-01-01 12:00:00")],
        "rs string, re string",
    ).select(F.to_timestamp("rs").alias("rs"), F.to_timestamp("re").alias("re"))
    out = interval_overlap_join_binned(left, right, "s", "e", "rs", "re")
    got = sorted(r.lid for r in out.collect())
    assert got == [1, 2, 3, 4]  # each exactly once, no bin duplicates


def test_experiment_statistics_match_pure_python_reference(spark, sf_oracle):
    """Third-implementation check for the experiment/drift statistics:
    an independent pure-Python computation (pandas read of the same
    parquet, the same exact-integer-then-scalar-float discipline)
    reproduces the Spark answers BIT-FOR-BIT — the expression trees are
    written identically, so agreement is exact equality, not tolerance.
    This guards the class of error the DuckDB oracle cannot: a formula
    transcribed wrong the same way in both SQL and Spark."""
    import hashlib
    import math

    import pandas as pd

    from spacex_data_pipeline_spark.queries import REGISTRY

    ev = pd.read_parquet(f"{sf_oracle}/events.parquet")

    def arm(uid: int) -> int:
        return int(hashlib.md5(f"{uid}ab".encode()).hexdigest()[:8], 16) % 2

    # --- ab_test_purchase_conversion ---
    conv = ev.assign(p=(ev.event_type == "purchase").astype(int)).groupby("user_id")[
        "p"
    ].max()
    n = [0, 0]
    c = [0, 0]
    for uid, cv in conv.items():
        g = arm(uid)
        n[g] += 1
        c[g] += int(cv)
    p0, p1 = c[0] / n[0], c[1] / n[1]
    phat = (c[0] + c[1]) / (n[0] + n[1])
    se = math.sqrt(phat * (1.0 - phat) * (1.0 / n[0] + 1.0 / n[1]))
    z = (p1 - p0) / se if se != 0 else None
    row = REGISTRY["ab_test_purchase_conversion"].fn(spark, sf_oracle).collect()[0]
    assert (row.n_control, row.conv_control, row.n_treat, row.conv_treat) == (
        n[0],
        c[0],
        n[1],
        c[1],
    )
    assert row.rate_control == p0 and row.rate_treat == p1
    assert row.z_score == z

    # --- chi_square_arm_event_mix ---
    cells: dict[tuple[int, str], int] = {}
    for uid, et in zip(ev.user_id, ev.event_type):
        k = (arm(uid), et)
        cells[k] = cells.get(k, 0) + 1
    ntot = sum(cells.values())
    r = {}
    col = {}
    for (a, e), o in cells.items():
        r[a] = r.get(a, 0) + o
        col[e] = col.get(e, 0) + o
    chi2 = 0.0
    for a, e in sorted(cells):  # same LTR order as the sorted-array fold
        o = cells[(a, e)]
        t = float(ntot * o - r[a] * col[e])
        chi2 = chi2 + t * t / (float(ntot) * float(r[a]) * float(col[e]))
    row = REGISTRY["chi_square_arm_event_mix"].fn(spark, sf_oracle).collect()[0]
    assert row.n_events == ntot and row.n_cells == len(cells)
    assert row.dof == (len(r) - 1) * (len(col) - 1)
    assert row.chi2 == chi2

    # --- mann_whitney_spend_by_arm (exact integer parts) ---
    orders = pd.read_parquet(f"{sf_oracle}/orders.parquet")
    cents = (
        orders.assign(
            c=(orders.o_totalprice.map(lambda v: round(v * 100)))
        )
        .groupby("o_custkey")["c"]
        .sum()
    )
    vals: dict[int, list[int]] = {}
    for uid, v in cents.items():
        g = arm(uid)
        vals.setdefault(int(v), [0, 0])[g] += 1
    n0 = sum(a for a, _ in vals.values())
    n1 = sum(b for _, b in vals.values())
    cum = 0
    r2_1 = 0
    tie3 = 0
    for v in sorted(vals):
        cnt = sum(vals[v])
        r2_1 += vals[v][1] * (2 * cum + cnt + 1)
        tie3 += cnt**3 - cnt
        cum += cnt
    row = REGISTRY["mann_whitney_spend_by_arm"].fn(spark, sf_oracle).collect()[0]
    assert (row.n_control, row.n_treat) == (n0, n1)
    assert row.u_stat == float(r2_1 - n1 * (n1 + 1)) / 2.0

    # --- ks_drift_order_prices (exact integer max) ---
    early: dict[int, int] = {}
    late: dict[int, int] = {}
    cut = pd.Timestamp("1998-01-01")
    for ts, v in zip(orders.o_orderdate, orders.o_totalprice):
        cents_v = round(v * 100)
        (early if ts < cut else late).setdefault(cents_v, 0)
        (early if ts < cut else late)[cents_v] += 1
    ntot_a = sum(early.values())
    ntot_b = sum(late.values())
    ca = 0
    cb = 0
    best = 0
    for v in sorted(set(early) | set(late)):
        ca += early.get(v, 0)
        cb += late.get(v, 0)
        best = max(best, abs(ca * ntot_b - cb * ntot_a))
    row = REGISTRY["ks_drift_order_prices"].fn(spark, sf_oracle).collect()[0]
    assert (row.n_early, row.n_late, row.max_diff_scaled) == (ntot_a, ntot_b, best)
    assert row.ks_stat == float(best) / (float(ntot_a) * float(ntot_b))


def test_bitmap_packing_handles_negative_ids_identically_in_both_engines(spark):
    """bit = pmod(id, 62), word = (id - bit) div 62 must give every id —
    including NEGATIVE ids — a unique (word, bit) cell in both engines:
    Spark's '%' keeps the dividend's sign and shiftleft masks the shift
    count to its low 6 bits, so the old '% 62' packing silently set the
    wrong bit for negatives (and DuckDB's floor '//' disagreed with
    Spark's truncating 'div' on them)."""
    import duckdb

    from pyspark.sql import functions as F

    ids = [-125, -124, -63, -62, -61, -2, -1, 0, 1, 61, 62, 123, -1, 0]
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    got = (
        df.select(
            F.expr("(user_id - pmod(user_id, 62)) div 62").alias("word"),
            F.expr("shiftleft(1L, cast(pmod(user_id, 62) as int))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bm"))
        .agg(F.sum(F.bit_count("bm")).cast("long").alias("d"))
        .collect()[0]
        .d
    )
    assert got == len(set(ids))  # exact distinct, negatives included

    con = duckdb.connect()
    con.execute("CREATE TABLE t(user_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    oracle = con.execute(
        """
        WITH w AS (
          SELECT (user_id - ((user_id % 62) + 62) % 62) // 62 AS word,
                 bit_or(1::BIGINT << CAST(((user_id % 62) + 62) % 62 AS INT)) AS bm
          FROM t GROUP BY 1)
        SELECT CAST(SUM(bit_count(bm)) AS BIGINT) FROM w
        """
    ).fetchone()[0]
    assert oracle == got

    # per-cell parity, not just the rollup: both engines place every id
    # in the same (word, bit) cell
    s_cells = sorted(
        (r.word, r.b)
        for r in df.select(
            F.expr("(user_id - pmod(user_id, 62)) div 62").alias("word"),
            F.expr("cast(pmod(user_id, 62) as int)").alias("b"),
        )
        .distinct()
        .collect()
    )
    d_cells = sorted(
        con.execute(
            "SELECT DISTINCT (user_id - ((user_id % 62) + 62) % 62) // 62,"
            " CAST(((user_id % 62) + 62) % 62 AS INT) FROM t"
        ).fetchall()
    )
    assert s_cells == d_cells


def test_gram_deflation_recovers_second_axis(spark, monkeypatch):
    """deflate_gram_cells kills the top direction and exposes the second:
    on a synthetic corpus with two known orthogonal axes of different
    energy, the power iteration finds axis-0 first, and after deflation
    finds axis-1 — with the two recovered directions mutually orthogonal
    to truncation tolerance (the 1e-6 micro-unit grid)."""
    import math

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.similarity import (
        deflate_gram_cells,
        gram_matrix_quantized,
        mirror_gram_cells,
        power_iteration_from_cells,
    )

    rows = []
    for k in range(20):
        rows.append((k, [1.0, 0.01, 0.0, 0.0]))
        rows.append((100 + k, [0.0, 0.5, 0.02, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "EMBED_DIM", 4)
    full = mirror_gram_cells(gram_matrix_quantized(emb))
    v1 = [
        r.v_micro
        for r in power_iteration_from_cells(full).orderBy("pos").collect()
    ]
    g2 = deflate_gram_cells(full, v1)
    v2 = [
        r.v_micro
        for r in power_iteration_from_cells(g2).orderBy("pos").collect()
    ]

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
        return num / den

    assert abs(cos(v1, [1.0, 0.0, 0.0, 0.0])) > 0.98
    assert abs(cos(v2, [0.0, 1.0, 0.0, 0.0])) > 0.90
    assert abs(cos(v1, v2)) < 0.02


def test_trend_ols_single_day_type_yields_null_slope(spark, tmp_path):
    """A type active on exactly ONE day has slope_den = 0; the entry
    must emit a NULL slope/intercept (matching DuckDB's x/0.0 = NULL)
    instead of throwing DIVIDE_BY_ZERO under Spark ANSI."""
    import datetime as dt

    import duckdb

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 9), 1, "lonely", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 10), 2, "lonely", 2.0, "{}"),
            (3, dt.datetime(2024, 1, 1, 9), 1, "steady", 1.0, "{}"),
            (4, dt.datetime(2024, 1, 3, 9), 1, "steady", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    got = {
        r.event_type: (r.n_days, r.slope_per_day, r.intercept)
        for r in REGISTRY["daily_count_trend_ols"].fn(spark, d).collect()
    }
    assert got["lonely"] == (1, None, None)
    assert got["steady"][0] == 2 and got["steady"][1] is not None
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    want = {
        r[0]: (r[1], r[4], r[5])
        for r in con.execute(REGISTRY["daily_count_trend_ols"].oracle).fetchall()
    }
    assert {k: (v[0], v[1], v[2]) for k, v in got.items()} == want


def test_rolling_zscore_constant_window_yields_null(spark, tmp_path):
    """28 identical trailing order totals make the variance numerator
    exactly 0 (integer arithmetic): z must be NULL on both engines, not
    a Spark ANSI DIVIDE_BY_ZERO."""
    import datetime as dt

    import duckdb

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = [(k, dt.date(2024, 1, 1 + k), 100.0) for k in range(28)]
    rows.append((28, dt.date(2024, 1, 29), 250.0))  # the probed day
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    out = {
        str(r.day): r.z
        for r in REGISTRY["rolling_moments_zscore_daily"].fn(spark, d).collect()
    }
    assert out == {"2024-01-29": None}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet/*.parquet'")
    want = {
        str(r[0]): r[4]
        for r in con.execute(
            REGISTRY["rolling_moments_zscore_daily"].oracle
        ).fetchall()
    }
    assert out == want


# ---------------------------------------------------------------------------
# r11 second push: trend tests, Markov mix, repetition coverage, containment,
# streaks, dispersion — hand-computable fixtures plus quadratic references.
# ---------------------------------------------------------------------------


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A doc verbatim-embedded in a 4x larger host must fire containment
    at 100% in the A->B direction while Jaccard stays under its 0.2
    threshold — the quote/superset case the directional operator exists
    for. The host's own containment in the fragment stays below 80%."""
    small = "alpha beta gamma delta epsilon zeta eta"
    host = small + (
        " theta iota kappa lambda mu nu xi omicron pi rho sigma tau"
        " upsilon phi chi psi omega one two three four five six seven"
    )
    df = spark.createDataFrame([(1, small), (2, host)], "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.a_size, r.inter, r.containment_pct)
        for r in dedup.containment_pairs(df).collect()
    }
    assert (1, 2) in got
    a_size, inter, pct = got[(1, 2)]
    assert a_size == 5 and inter == 5 and pct == 100.0
    assert (2, 1) not in got  # host is not contained in the fragment
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.2).collect()
    assert jac == []  # union-normalized score never sees the embedding


def test_activity_streaks_hand_case(spark, tmp_path):
    """User 1 is active 3 consecutive days, skips one, then 2 more; user
    2 is active a single day: histogram must read {3 days: 1 user,
    1 day: 1 user} via the gaps-and-islands window."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = []
    eid = 0
    for day in (1, 2, 3, 5, 6):
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, day, 12, 0, 0), 1, "view", 0.0, "{}"))
    rows.append((99, dt.datetime(2024, 1, 9, 8, 0, 0), 2, "view", 0.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    got = {
        r.streak_days: r.n_users
        for r in REGISTRY["activity_streaks_users"].fn(spark, d).collect()
    }
    assert got == {3: 1, 1: 1}


def test_markov_stationary_two_state_flip_chain(spark, tmp_path):
    """A deterministic A->B->A->B chain has the uniform stationary
    distribution: both types must land on exactly 500000 ppm, and n_out
    must count each type's outgoing transitions."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, i), 1, "a" if i % 2 == 0 else "b", 0.0, "{}")
        for i in range(9)  # a b a b a b a b a -> 4 a->b, 4 b->a
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    got = {
        r.event_type: (r.n_out, r.stationary_ppm)
        for r in REGISTRY["markov_stationary_event_mix"].fn(spark, d).collect()
    }
    assert got == {"a": (4, 500000), "b": (4, 500000)}


def test_markov_stationary_degenerate_no_transitions(spark, tmp_path):
    """ADVICE r11: a corpus where every user has exactly one event has
    ZERO transitions — the fold must not divide by the empty chain's
    mass. The oracle's SUM over the empty v8 CTE is NULL, so the Spark
    side emits NULL stationary_ppm (not a crash, not 0) with n_out=0."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, i), i, ty, 0.0, "{}")
        for i, ty in enumerate(["a", "b", "c"])  # 3 users, 1 event each
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    got = {
        r.event_type: (r.n_out, r.stationary_ppm)
        for r in REGISTRY["markov_stationary_event_mix"].fn(spark, d).collect()
    }
    assert got == {"a": (0, None), "b": (0, None), "c": (0, None)}


def test_markov_stationary_mass_and_outdegree_at_smoke(spark, sf_smoke):
    """On real data: ppm shares sum to 1e6 up to per-type floor loss, and
    total out-degree equals (events - distinct users) — every user with
    n events contributes exactly n-1 transitions."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    out = REGISTRY["markov_stationary_event_mix"].fn(spark, sf_smoke).collect()
    ppm_total = sum(r.stationary_ppm for r in out)
    assert 1000000 - len(out) <= ppm_total <= 1000000
    ev = catalog.table(spark, sf_smoke, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_out for r in out) == n_events - n_users


def test_trend_estimators_agree_on_shape_at_smoke(spark, sf_smoke):
    """Mann-Kendall and Theil-Sen run over the same pair set: n_pairs
    must match type-for-type and equal n_days*(n_days-1)/2, |S| is
    bounded by n_pairs, and tau is exactly S/n_pairs."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    mk = {
        r.event_type: r
        for r in REGISTRY["mann_kendall_trend_daily"].fn(spark, sf_smoke).collect()
    }
    ts = {
        r.event_type: r
        for r in REGISTRY["theil_sen_daily_slope"].fn(spark, sf_smoke).collect()
    }
    assert set(mk) == set(ts) and mk
    for t, r in mk.items():
        assert r.n_pairs == r.n_days * (r.n_days - 1) // 2
        assert abs(r.s_stat) <= r.n_pairs
        assert r.tau == r.s_stat / r.n_pairs
        assert ts[t].n_pairs == r.n_pairs


def test_interarrival_dispersion_matches_quadratic_reference(spark, sf_smoke):
    """Recompute (n, sum, sum-of-squares, mean milli, dispersion milli)
    per type from the raw events in plain Python ints and require exact
    equality."""
    from collections import defaultdict

    from spacex_data_pipeline_spark.queries import REGISTRY

    ev = catalog.table(spark, sf_smoke, "events").select(
        "user_id", "event_type", F.col("ts").cast("long").alias("sec"), "event_id"
    )
    by_key = defaultdict(list)
    for r in ev.collect():
        by_key[(r.user_id, r.event_type)].append((r.sec, r.event_id))
    stats = defaultdict(lambda: [0, 0, 0])  # n, sum, sum2
    for (_, t), seq in by_key.items():
        seq.sort()
        for (prev, _), (cur, _) in zip(seq, seq[1:]):
            gap = cur - prev
            s = stats[t]
            s[0] += 1
            s[1] += gap
            s[2] += gap * gap
    got = {
        r.event_type: (
            r.n_gaps,
            r.sum_gap_sec,
            r.mean_gap_milli,
            r.dispersion_milli,
        )
        for r in REGISTRY["interarrival_dispersion_events"].fn(spark, sf_smoke).collect()
    }
    want = {}
    for t, (n, sg, sg2) in stats.items():
        var_num = n * sg2 - sg * sg
        want[t] = (n, sg, sg * 1000 // n, var_num * 1000 // (n * sg) if sg else None)
    assert got == want


def test_repetition_scores_are_bounded_at_smoke(spark, sf_smoke):
    """Coverage and diversity are exact-ratio percentages: covered <=
    total tokens per source, distinct <= total trigrams, both pcts in
    [0, 100], and the planted near-dup corpus shows SOME duplicated-gram
    coverage somewhere."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    cov = REGISTRY["dup_ngram_coverage_by_source"].fn(spark, sf_smoke).collect()
    assert cov
    for r in cov:
        assert 0 <= r.covered_tokens <= r.total_tokens
        assert 0.0 <= r.dup_coverage_pct <= 100.0
    assert any(r.covered_tokens > 0 for r in cov)
    div = REGISTRY["trigram_diversity_by_source"].fn(spark, sf_smoke).collect()
    assert div
    for r in div:
        assert 0 < r.distinct_trigrams <= r.total_trigrams
        assert 0.0 < r.diversity_pct <= 100.0


def test_containment_dropped_ids_keeper_rule(spark):
    """The prune resolution: a fragment contained in a host is dropped
    (host kept), and a MUTUAL pair — near-identical docs containing
    each other — keeps the lower id, so no pair ever loses both
    members."""
    from spacex_data_pipeline_spark.operators.dedup import containment_dropped_ids

    cont = spark.createDataFrame(
        [
            (1, 2),  # 1 is a fragment of host 2 -> drop 1
            (10, 11),  # mutual near-identical pair -> keep 10, drop 11
            (11, 10),
        ],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id for r in containment_dropped_ids(cont).collect()}
    assert got == {1, 11}


# ---------------------------------------------------------------------------
# r12 second/third-push entries: hand cases + cross-method invariants.
# ---------------------------------------------------------------------------


def test_backlog_sweep_line_hand_case(spark, tmp_path):
    """Order 1 spans days 1..3 (last ship day 3 -> open through day 3),
    order 2 is placed and fully ships on day 2: the sweep-line must
    read open = 1, 2, 1, 0 at the four boundary days."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (1, 10, "O", 100.0, dt.datetime(2024, 1, 1), "1-URGENT"),
            (2, 11, "O", 100.0, dt.datetime(2024, 1, 2), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    li = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 2)),
        (1, 2, 1, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 3)),
        (2, 3, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 2)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
    rows = REGISTRY["orders_open_backlog_daily"].fn(spark, d).collect()
    got = [(r.day.isoformat(), r.delta_open, r.open_orders) for r in rows]
    assert got == [
        ("2024-01-01", 1, 1),
        ("2024-01-02", 1, 2),
        ("2024-01-03", -1, 1),
        ("2024-01-04", -1, 0),
    ]


def test_backlog_conservation_at_smoke(spark, sf_smoke):
    """Every order that opens must close: deltas sum to zero, the
    running count never dips negative, and the final row reads 0."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["orders_open_backlog_daily"].fn(spark, sf_smoke).collect()
    assert sum(r.delta_open for r in rows) == 0
    assert all(r.open_orders >= 0 for r in rows)
    assert rows[-1].open_orders == 0


def test_drawdown_hand_case(spark, tmp_path):
    """Daily revenue 10, 8, 12, 5 -> peaks 10, 10, 12, 12 and drawdowns
    0, 2, 0, 7 (peak-to-current, exact decimal)."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (i + 1, 1, "O", rev, dt.datetime(2024, 1, i + 1), "1-URGENT")
            for i, rev in enumerate([10.0, 8.0, 12.0, 5.0])
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    rows = REGISTRY["max_drawdown_daily_revenue"].fn(spark, d).collect()
    assert [r.peak_to_date for r in rows] == [10.0, 10.0, 12.0, 12.0]
    assert [r.drawdown for r in rows] == [0.0, 2.0, 0.0, 7.0]


def test_triangle_census_hand_graph(spark, tmp_path):
    """Order {1,2,3} makes a triangle, order {3,4} hangs an edge off it:
    4 nodes, 4 edges, wedges 1+1+3+0 = 5, 1 triangle, closure 60%."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    li = []
    for ln, pk in enumerate([1, 2, 3], start=1):
        li.append((1, pk, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)))
    for ln, pk in enumerate([3, 4], start=1):
        li.append((2, pk, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)))
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
    r = REGISTRY["triangle_census_part_graph"].fn(spark, d).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 4, 5, 1)
    assert r.closure_pct == 60.0


def test_weighted_median_hand_case(spark, tmp_path):
    """Flag A holds price 10 at weight 1 and price 20 at weight 3
    (W=4): lower weighted quartiles must read q25=10 (cum 1 reaches
    W/4) and median=q75=20."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    li = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "A", "O", dt.datetime(2024, 1, 1)),
        (1, 2, 1, 2, 3.0, 20.0, 0.0, 0.0, "A", "O", dt.datetime(2024, 1, 1)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
    r = REGISTRY["weighted_median_price_by_flag"].fn(spark, d).collect()[0]
    assert (r.total_weight, r.wq25, r.w_median, r.wq75) == (4, 10.0, 20.0, 20.0)


def test_quartile_migration_shares_and_domains(spark, sf_smoke):
    """Segments stay in 1..4 (from) / 0..4 (to), every from-segment's
    row_pct mass sums to ~100, and the matrix covers exactly the
    customer-years that have an observable next year."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["spend_quartile_migration_customers"].fn(spark, sf_smoke).collect()
    assert rows, "matrix must not be empty at smoke"
    froms = {r.seg_from for r in rows}
    assert froms <= {1, 2, 3, 4}
    assert {r.seg_to for r in rows} <= {0, 1, 2, 3, 4}
    from collections import defaultdict

    mass = defaultdict(float)
    for r in rows:
        mass[r.seg_from] += r.row_pct
    for sf_, m in mass.items():
        assert abs(m - 100.0) < 0.1, (sf_, m)


def test_new_vs_returning_accounting(spark, sf_smoke):
    """new + returning = active per week; total new across weeks equals
    the distinct-user count; the first week is all-new."""
    from spacex_data_pipeline_spark.queries import REGISTRY, display_order

    q = REGISTRY["new_vs_returning_users_weekly"]
    rows = display_order(q.fn(spark, sf_smoke), q.order_by).collect()
    assert all(r.new_users + r.returning_users == r.active_users for r in rows)
    ev = catalog.table(spark, sf_smoke, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.new_users for r in rows) == n_users
    assert rows[0].returning_users == 0


def test_burst_islands_hand_case(spark, tmp_path):
    """Order days 1, 3 | 20, 25 for one customer (gap tolerance 7):
    two bursts of 2 days; max span 6 (20..25)."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (k, 1, "O", 10.0, dt.datetime(2024, 1, day), "1-URGENT")
            for k, day in enumerate([1, 3, 20, 25], start=1)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    rows = REGISTRY["purchase_burst_islands"].fn(spark, d).collect()
    assert [(r.burst_days, r.n_bursts, r.n_customers, r.max_span_days) for r in rows] == [
        (2, 2, 1, 6)
    ]


def test_catalog_entry_curve_totals(spark, sf_smoke):
    """Cumulative curves are monotone and end at the distinct part /
    supplier counts seen in lineitem."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["catalog_entry_curve"].fn(spark, sf_smoke).collect()
    li = catalog.table(spark, sf_smoke, "lineitem")
    assert rows[-1].cum_parts == li.select("l_partkey").distinct().count()
    assert rows[-1].cum_suppliers == li.select("l_suppkey").distinct().count()
    for a, b in zip(rows, rows[1:]):
        assert b.cum_parts >= a.cum_parts
        assert b.cum_suppliers >= a.cum_suppliers


def test_quantile_store_monthly_bound_holds(spark, sf_smoke):
    """The store's contract: the exact median lies inside the claimed
    bin for EVERY month, and the bin is exactly one width wide."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["quantile_store_monthly_read"].fn(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.in_bin, r
        assert r.est_hi - r.est_lo == 1000.0
        assert r.est_lo <= r.exact_median < r.est_hi


def test_df_cap_loss_curve_monotone(spark, sf_smoke):
    """Raising the cap can only recover pairs: kept_pairs is
    non-decreasing in cap, kept + lost = n_pairs, and n_pairs (the
    uncapped truth) is constant across the sweep."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["shingle_df_cap_loss_curve"].fn(spark, sf_smoke).collect()
    assert rows
    totals = {r.n_pairs for r in rows}
    assert len(totals) == 1
    for r in rows:
        assert r.kept_pairs + r.lost_pairs == r.n_pairs
    kept = [r.kept_pairs for r in sorted(rows, key=lambda r: r.cap)]
    assert kept == sorted(kept)


def test_survivorship_shift_totals(spark, sf_smoke):
    """Survivors = one keeper per component; shares on each side sum
    to ~100; no cell gains docs."""
    from spacex_data_pipeline_spark.queries import (
        REGISTRY,
        _doc_cc_components,
    )

    rows = REGISTRY["dedup_survivorship_shift"].fn(spark, sf_smoke).collect()
    n_comp = (
        _doc_cc_components(spark, sf_smoke).select("component").distinct().count()
    )
    assert sum(r.n_after for r in rows) == n_comp
    assert all(r.n_after <= r.n_before for r in rows)
    assert abs(sum(r.before_pct for r in rows) - 100.0) < 0.5
    assert abs(sum(r.after_pct for r in rows) - 100.0) < 0.5


def test_sentence_stats_hand_case(spark, tmp_path):
    """'Hi there. How are you? Fine!' = 3 sentences, 6 words,
    avg 2.0 words per sentence."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "Hi there. How are you? Fine!", "en", "web", 28)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    r = REGISTRY["sentence_stats_by_lang"].fn(spark, d).collect()[0]
    assert (r.n_docs, r.n_sentences, r.n_words) == (1, 3, 6)
    assert r.max_sentences_per_doc == 3
    assert r.avg_words_per_sentence == 2.0


def test_containment_chain_depth_hand_case(spark, tmp_path):
    """A (7 words) inside B (12 words) inside C (20 words): strict
    size-ordered containment chains give depths A=2, B=1, C=0."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    words = [f"w{i}" for i in range(20)]
    c_text = " ".join(words)
    b_text = " ".join(words[:12])
    a_text = " ".join(words[:7])
    spark.createDataFrame(
        [
            (1, a_text, "en", "web", len(a_text)),
            (2, b_text, "en", "web", len(b_text)),
            (3, c_text, "en", "web", len(c_text)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    got = {
        r.depth: r.n_docs
        for r in REGISTRY["containment_chain_depth"].fn(spark, d).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_source_minhash_identical_sources_agree_exactly(spark, tmp_path):
    """Two sources with the same text agree on all 16 mins (est 100%)
    and the exact Jaccard is 100%, so err_pp = 0; a third disjoint
    source shows exact Jaccard 0 against both."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    t1 = " ".join(f"a{i}" for i in range(12))
    t2 = " ".join(f"z{i}" for i in range(12))
    spark.createDataFrame(
        [
            (1, t1, "en", "s1", len(t1)),
            (2, t1, "en", "s2", len(t1)),
            (3, t2, "en", "s3", len(t2)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    rows = {
        (r.source_a, r.source_b): r
        for r in REGISTRY["source_minhash_overlap"].fn(spark, d).collect()
    }
    twin = rows[("s1", "s2")]
    assert (twin.matches, twin.est_pct, twin.jaccard_pct, twin.err_pp) == (
        16,
        100.0,
        100.0,
        0.0,
    )
    assert rows[("s1", "s3")].jaccard_pct == 0.0
    assert rows[("s2", "s3")].inter == 0


def test_similarity_margin_hand_case(spark, tmp_path):
    """Query vec 0 equals vec 1 (cosine 1) and is orthogonal to vec 2
    (cosine 0): margin 1.0, and the top-1 label agrees with the
    query's."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    spark.createDataFrame(
        [(0, e1, 7), (1, e1, 7), (2, e2, 9)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    r = REGISTRY["similarity_margin_report"].fn(spark, d).collect()[0]
    assert (r.query_id, r.top1_id, r.top2_id) == (0, 1, 2)
    assert r.top1_cos == 1.0 and r.top2_cos == 0.0 and r.margin == 1.0
    assert r.same_label is True


def test_cms_store_monthly_read_invariants(spark, sf_oracle):
    """The month-grain CMS read keeps the one-sided guarantee on every
    (month, key) probe, covers every order month for all 5 audited
    keys, and its exact side re-derives from the raw table."""
    from spacex_data_pipeline_spark.catalog import table
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["cms_store_monthly_read"].fn(spark, sf_oracle).collect()
    assert rows and all(r.est_ok for r in rows)
    assert all(r.overcount == r.cms_est - r.exact_n >= 0 for r in rows)
    keys = {r.c_custkey for r in rows}
    assert len(keys) == 5
    from pyspark.sql import functions as F

    o = table(spark, sf_oracle, "orders")
    n_months = o.select(
        F.date_trunc("month", "o_orderdate").cast("date")
    ).distinct().count()
    assert len(rows) == 5 * n_months
    exact = {
        (r.month, r.o_custkey): r.n
        for r in o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            "o_custkey",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_n == exact.get((r.month, r.c_custkey), 0)


def test_ivfpq_nprobe_recall_curve_shape(spark, sf_oracle):
    """Recall is bounded by 1 and at full probe width (16 of 16 cells)
    equals the PQ ceiling — the recall of the UNPRUNED ADC top-10
    against the exact ground truth (pruning loss is zero when every
    cell is probed, so only quantization loss remains). NOT asserted:
    monotonicity in n_probe — unlike the exact-scoring IVF sweep,
    widening the probe set under ADC scoring can DISPLACE a true
    neighbor from the top-10 with a quantization-overrated impostor
    (observed at sf0.01: 0.38 → 0.34 from p=1 to p=16), which is
    exactly why the dial is measured, not assumed."""
    from spacex_data_pipeline_spark.catalog import table
    from spacex_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
    )
    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = (
        REGISTRY["ivfpq_nprobe_recall_curve"].fn(spark, sf_oracle).collect()
    )
    assert [r.n_probe for r in rows] == [1, 2, 4, 8, 16]
    rec = [r.recall_at_10 for r in rows]
    assert all(0.0 <= x <= 1.0 for x in rec)
    emb = table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, qids, k=10).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(emb, qids).collect()
    }
    ceiling = len(exact & adc)
    assert rows[-1].hits == ceiling
    assert rows[-1].recall_at_10 == ceiling / 50.0


def test_scorecard_deep_nest_consistent_with_chain_histogram(spark, sf_oracle):
    """The scorecard's deep_docs mass (deep_nest_pct · n_docs, re-derived
    exactly from the shared walk) must equal the chain-depth histogram's
    depth ≥ 2 total — the two views of _doc_chain_depths agree."""
    from spacex_data_pipeline_spark.queries import (
        REGISTRY,
        _doc_chain_depths,
    )

    hist = {
        r.depth: r.n_docs
        for r in REGISTRY["containment_chain_depth"].fn(spark, sf_oracle).collect()
    }
    deep_total = sum(n for d, n in hist.items() if d >= 2)
    dep = _doc_chain_depths(spark, sf_oracle)
    from pyspark.sql import functions as F

    got = dep.filter(F.col("depth") >= 2).count()
    assert got == deep_total
    # and every scorecard row's pct is the pct_rate of a real doc count
    sc = REGISTRY["source_curation_scorecard"].fn(spark, sf_oracle).collect()
    assert all(0.0 <= r.deep_nest_pct <= 100.0 for r in sc)


def test_degree_assortativity_star_graph(spark, tmp_path):
    """A star (hub part co-purchased with each leaf, leaves never
    together) is perfectly disassortative: r = -1."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = []
    for o, leaf in [(1, 2), (2, 3), (3, 4)]:
        rows.append((o, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None))
        rows.append((o, leaf, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", None))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
    r = REGISTRY["degree_assortativity_part_graph"].fn(spark, d).collect()[0]
    assert (r.n_nodes, r.n_edge_ends) == (4, 6)
    assert abs(r.assortativity - (-1.0)) < 1e-12


def test_lsh_band_curve_twin_docs(spark, tmp_path):
    """Two byte-identical docs share every band (first_band 0, one
    cumulative pair throughout); an unrelated doc adds no collisions."""
    from spacex_data_pipeline_spark.queries import REGISTRY, display_order

    d = str(tmp_path)
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different words about spark engines and parquet files here"
    spark.createDataFrame(
        [(1, t1, "en", "s1", len(t1)), (2, t1, "en", "s2", len(t1)),
         (3, t2, "en", "s1", len(t2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    q = REGISTRY["lsh_band_collision_curve"]
    rows = display_order(q.fn(spark, d), q.order_by).collect()
    assert [r.band for r in rows] == list(range(8))
    for r in rows:
        assert r.n_buckets == 2  # twin bucket + the loner's
        assert r.colliding_buckets == 1
        assert r.pairs_in_band == 1
        assert r.new_pairs == (1 if r.band == 0 else 0)
        assert r.cum_pairs == 1


def test_cross_source_copy_matrix_hand_case(spark, tmp_path):
    """One page mirrored across s1/s2 (off-diagonal) and duplicated
    inside s1 (diagonal): the matrix separates the two."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = [
        (1, "mirrored page", "en", "s1", 13),
        (2, "mirrored page", "en", "s2", 13),
        (3, "mirrored page", "en", "s1", 13),
        (4, "unique page", "en", "s2", 11),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    got = {
        (r.source_a, r.source_b): (r.n_pairs, r.n_groups)
        for r in REGISTRY["cross_source_copy_matrix"].fn(spark, d).collect()
    }
    assert got == {("s1", "s1"): (1, 1), ("s1", "s2"): (2, 1)}


def test_bootstrap_poisson_draws_match_python(spark, sf_oracle):
    """The replicate-0 total re-derives exactly from Python hashlib md5
    draws against the same integer CDF thresholds — pinning that the
    'random' weights are deterministic, engine-independent facts."""
    import hashlib
    from decimal import Decimal

    from spacex_data_pipeline_spark.catalog import table
    from spacex_data_pipeline_spark.queries import REGISTRY, _P1_TH

    r = REGISTRY["bootstrap_poisson_revenue_ci"].fn(spark, sf_oracle).collect()[0]
    assert r.b_replicates == 32
    assert r.boot_lo <= r.boot_hi
    orders = table(spark, sf_oracle, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    assert r.point_total == float(
        sum(Decimal(str(o.o_totalprice)).quantize(Decimal("0.0001")) for o in orders)
    )

    def wt(b, key):
        h = int(hashlib.md5(f"{b}:{key}:boot".encode()).hexdigest()[:15], 16)
        for k, t in enumerate(_P1_TH):
            if h < t:
                return k
        return len(_P1_TH)

    tots = sorted(
        float(
            sum(
                wt(b, o.o_orderkey)
                * Decimal(str(o.o_totalprice)).quantize(Decimal("0.0001"))
                for o in orders
            )
        )
        for b in range(32)
    )
    # the reported band IS the 2nd/31st order statistic of the Python
    # re-derived replicate totals — the draws are deterministic facts
    assert r.boot_lo == tots[1]
    assert r.boot_hi == tots[30]
    # mean weight ~ Poisson(1): replicate totals straddle the point
    # estimate within a loose band
    assert 0.5 * r.point_total < r.boot_mean < 1.5 * r.point_total


def test_bitmap_store_monthly_read_hand_case(spark, tmp_path):
    """Customers straddling word boundaries across two months: the
    OR-merged month read equals exact distincts (merge_ok everywhere),
    including a customer active in both months counted once per month."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = []
    ok = 1
    for ck in [0, 1, 61, 62, 124]:  # words 0, 0, 0, 1, 2
        rows.append((ok, ck, "O", 10.0, dt.datetime(2024, 1, 1 + ok), "1-URGENT"))
        ok += 1
    rows.append((ok, 0, "O", 10.0, dt.datetime(2024, 2, 1), "1-URGENT"))  # repeat in feb
    rows.append((ok + 1, 200, "O", 10.0, dt.datetime(2024, 2, 2), "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    got = {
        r.month.isoformat(): (r.active_customers, r.exact_customers, r.merge_ok)
        for r in REGISTRY["bitmap_store_monthly_read"].fn(spark, d).collect()
    }
    assert got == {
        "2024-01-01": (5, 5, True),
        "2024-02-01": (2, 2, True),
    }


def test_event_type_diversity_deciles(spark, tmp_path):
    """Monomaniac → decile 0; 50/50 two-type → decile 5 (1 − 1/2);
    five singleton types → decile 8 (1 − 1/5)."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rows = []
    ts = dt.datetime(2024, 1, 1)
    for i in range(4):
        rows.append((1, "view", ts))
    for t in ["view", "view", "click", "click"]:
        rows.append((2, t, ts))
    for t in ["view", "click", "purchase", "cart", "search"]:
        rows.append((3, t, ts))
    spark.createDataFrame(
        [(i, u, t, w) for i, (u, t, w) in enumerate(rows)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    got = {
        r.decile: (r.n_users, r.events_total)
        for r in REGISTRY["event_type_diversity_users"].fn(spark, d).collect()
    }
    assert got == {0: (1, 4), 5: (1, 4), 8: (1, 5)}


def test_ship_lag_interaction_zero_when_additive(spark, tmp_path):
    """Lags built exactly additive (lag = flag_effect + priority_effect)
    must decompose with interaction == 0.0 in every cell."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    flag_eff = {"N": 2, "R": 5}
    pri_eff = {"1-URGENT": 1, "3-MEDIUM": 4}
    orows, lrows, ok = [], [], 1
    base = dt.datetime(2024, 1, 1)
    for pri, pe in pri_eff.items():
        for fl, fe in flag_eff.items():
            for rep in range(3):
                orows.append((ok, 1, "O", 10.0, base, pri))
                lrows.append(
                    (ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, fl, "O",
                     base + dt.timedelta(days=fe + pe))
                )
                ok += 1
    spark.createDataFrame(
        orows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        lrows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
    rows = REGISTRY["ship_lag_interaction_effects"].fn(spark, d).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.cell_mean == flag_eff[r.flag] + pri_eff[r.priority]
        assert abs(r.interaction) < 1e-12


def test_neyman_allocation_invariants(spark, sf_oracle, tmp_path):
    """Plan sanity on the fixture (budget respected, thresholds bounded,
    realized counts near targets) plus the design property on a hand
    case: the high-variance stratum takes nearly the whole budget, a
    constant stratum takes none, and an all-constant corpus degrades to
    the proportional split instead of dividing by zero."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["neyman_allocation_orders"].fn(spark, sf_oracle).collect()
    total_n = sum(r.n_rows for r in rows)
    budget = total_n // 10
    assert sum(r.target_n for r in rows) <= budget
    for r in rows:
        assert 0 <= r.threshold <= 10000
        assert 0 <= r.n_sampled <= r.n_rows

    def orders_dir(prices_by_pri):
        d = str(tmp_path / str(abs(hash(str(prices_by_pri)))))
        rows, ok = [], 1
        for pri, prices in prices_by_pri.items():
            for p in prices:
                rows.append((ok, 1, "O", float(p), dt.datetime(2024, 1, 1), pri))
                ok += 1
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).coalesce(1).write.parquet(f"{d}/orders.parquet")
        return d

    d1 = orders_dir(
        {"1-URGENT": [100.0] * 50, "2-HIGH": [i * 997.0 + 13 for i in range(50)]}
    )
    got = {
        r.priority: r
        for r in REGISTRY["neyman_allocation_orders"].fn(spark, d1).collect()
    }
    assert got["1-URGENT"].target_n == 0  # zero variance -> zero allocation
    assert got["2-HIGH"].target_n == 10  # the whole 10% budget
    d2 = orders_dir({"1-URGENT": [100.0] * 40, "2-HIGH": [100.0] * 60})
    got2 = {
        r.priority: (r.target_n, r.prop_n)
        for r in REGISTRY["neyman_allocation_orders"].fn(spark, d2).collect()
    }
    assert got2 == {"1-URGENT": (4, 4), "2-HIGH": (6, 6)}  # proportional fallback


def test_chao1_estimator_hand_case(spark, tmp_path):
    """Chao1 on a constructed sample: known singleton/doubleton counts
    re-derive the closed-form estimate, and seen_pct reflects the terms
    the held-out half hides."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    # find doc ids landing in / out of the deterministic half-sample
    import hashlib

    def in_sample(doc_id):
        return int(hashlib.md5(f"{doc_id}:chao".encode()).hexdigest()[:15], 16) % 2 == 0

    ins = [i for i in range(40) if in_sample(i)][:2]
    outs = [i for i in range(40) if not in_sample(i)][:1]
    rows = [
        (ins[0], "alpha beta beta", "en", "s1", 15),
        (ins[1], "gamma gamma delta", "en", "s1", 17),
        (outs[0], "omega psi chi", "en", "s1", 13),  # unseen-by-sample terms
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    r = REGISTRY["chao1_vocab_estimate"].fn(spark, d).collect()[0]
    # sample terms: alpha(1) beta(2) gamma(2) delta(1) -> D=4, f1=2, f2=2
    assert (r.n_docs_sampled, r.sample_vocab, r.f1, r.f2) == (2, 4, 2, 2)
    assert r.chao1_est == 4 + (2 * 1) / (2 * 3)
    assert r.exact_vocab == 7
    assert r.seen_pct == round(100.0 * 4 / 7, 2)


def test_event_type_diversity_decile_is_integer_division(spark):
    """The decile boundary is BIGINT `div`, not a double divide +
    floor (ADVICE r13): at n_events = 2^27 + 1 the two paths disagree
    — (n² − ss)·10 exceeds 2^53 and the double quotient rounds up
    across the bucket boundary. Pin the expression used by the entry
    against Python's exact // on that adversarial point plus exact
    boundaries and small cases."""
    from pyspark.sql import functions as F

    cases = [
        # (n_events, ss): the r13-ADVICE misround point — // says 1,
        # float floor says 2
        (134217729, 14411519022333953),
        # exact boundary: (n²−ss)·10 divisible by n² (50/50 two-type)
        (4, 8),
        # monomaniac and five singletons (the existing hand cases)
        (4, 16),
        (5, 5),
    ]
    df = spark.createDataFrame(cases, "n_events long, ss long").select(
        "n_events",
        "ss",
        # the same expression queries.py's event_type_diversity_users uses
        F.expr("((n_events * n_events - ss) * 10) div (n_events * n_events)")
        .cast("int")
        .alias("decile"),
    )
    got = {(r.n_events, r.ss): r.decile for r in df.collect()}
    want = {
        (n, ss): ((n * n - ss) * 10) // (n * n) for n, ss in cases
    }
    assert got == want
    # and the adversarial point really is a misround for the old path
    import math

    n, ss = cases[0]
    assert math.floor(float((n * n - ss) * 10) / float(n * n)) != want[(n, ss)]


def _md5_int60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_good_turing_matches_python_mini_oracle(spark, tmp_path):
    """Independent Python re-derivation on a constructed corpus: sample
    membership from the same md5 parity, shingle multisets by hand, the
    estimator and the realized OOV mass recomputed exactly."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    texts = {
        1: "a b c d e",          # shingles: abc bcd cde
        2: "a b c x y",          # abx? no: abc bcx cxy
        3: "p q r s",            # pqr qrs
        4: "a b c d e",          # duplicate of 1
        5: "u v w",              # uvw
        6: "m n",                # too short -> no shingles
    }
    spark.createDataFrame(
        [(i, t, "s1", "en") for i, t in texts.items()],
        "doc_id long, text string, source string, lang string",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    def shingles(t):
        w = t.split()
        return [" ".join(w[i : i + 3]) for i in range(len(w) - 2)] if len(w) >= 3 else []

    in_sample = {i: _md5_int60(f"{i}:gt") % 2 == 0 for i in texts}
    assert any(in_sample.values()) and not all(in_sample.values())
    from collections import Counter

    sc = Counter(s for i, t in texts.items() if in_sample[i] for s in shingles(t))
    hold = [s for i, t in texts.items() if not in_sample[i] for s in shingles(t)]
    n = sum(sc.values())
    f1 = sum(1 for c in sc.values() if c == 1)
    unseen = sum(1 for s in hold if s not in sc)
    r = REGISTRY["good_turing_coverage_estimate"].fn(spark, d).collect()[0]
    assert r.n_sample_shingles == n
    assert r.sample_vocab == len(sc)
    assert r.f1 == f1
    assert r.holdout_shingles == len(hold)
    assert r.holdout_unseen_shingles == unseen
    assert r.gt_unseen_pct == round(100.0 * f1 / n, 2)


def test_horvitz_thompson_matches_python_draws(spark, tmp_path):
    """One constant-price stratum: the md5 acceptance set recomputed in
    Python hashlib pins n_sampled, and the HT identity pins ht_total."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY, _HT_BP

    d = str(tmp_path)
    rows = [
        (ok, 1, "O", 10.0, dt.datetime(2024, 1, 1), "2-HIGH")
        for ok in range(1, 301)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    bp = _HT_BP["2-HIGH"]
    n_sampled = sum(
        1 for ok in range(1, 301) if _md5_int60(f"{ok}:ht") % 10000 < bp
    )
    r = REGISTRY["horvitz_thompson_strata_estimate"].fn(spark, d).collect()
    assert len(r) == 1
    row = r[0]
    assert row.priority == "2-HIGH" and row.pi_bp == bp
    assert row.n_rows == 300 and row.n_sampled == n_sampled
    assert row.exact_total == 3000.0
    assert row.sampled_total == 10.0 * n_sampled
    assert row.ht_total == (10.0 * n_sampled) * 10000 / bp
    assert row.err_pct == round(
        100.0 * abs(row.ht_total - 3000.0) / 3000.0, 2
    )


def test_source_epoch_plan_hand_case(spark, tmp_path):
    """Big source keeps epochs = 1; tiny source is capped at 4 even when
    ceil(target/tokens) asks for more; shares recompute exactly."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    big = " ".join(["w"] * 100)
    small = " ".join(["v"] * 10)
    spark.createDataFrame(
        [(1, big, "big", "en"), (2, small, "small", "en")],
        "doc_id long, text string, source string, lang string",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    got = {
        r.source: r.asDict()
        for r in REGISTRY["source_epoch_plan"].fn(spark, d).collect()
    }
    # total = 110, k = 2, target = 55
    assert got["big"]["target_tokens"] == 55 and got["small"]["target_tokens"] == 55
    assert got["big"]["epochs"] == 1          # oversized: never upsampled
    assert got["small"]["epochs"] == 4        # ceil(55/10) = 6 -> cap 4
    assert got["big"]["tokens_after"] == 100
    assert got["small"]["tokens_after"] == 40
    assert got["big"]["share_before_pct"] == round(100.0 * 100 / 110, 2)
    assert got["small"]["share_after_pct"] == round(100.0 * 40 / 140, 2)
    assert got["big"]["target_share_pct"] == 50.0


def test_lsh_yield_and_calibration_agree_with_cost_curve(spark, sf_oracle):
    """Cross-entry consistency over the shared banded-pair pass: the
    recall curve's candidate count at b = 8 and the calibration's total
    pair mass must both equal the cost curve's cumulative pair set at
    band 7; recall/candidates are monotone in b; every calibration
    bucket's envelope brackets its estimate band sanely."""
    from spacex_data_pipeline_spark.queries import REGISTRY, display_order

    cost = {
        r.band: r.cum_pairs
        for r in REGISTRY["lsh_band_collision_curve"].fn(spark, sf_oracle).collect()
    }
    q = REGISTRY["lsh_recall_vs_bands"]
    yield_rows = display_order(q.fn(spark, sf_oracle), q.order_by).collect()
    assert [r.n_bands for r in yield_rows] == list(range(1, 9))
    assert yield_rows[-1].candidate_pairs == cost[7]
    for a, b in zip(yield_rows, yield_rows[1:]):
        assert b.candidate_pairs >= a.candidate_pairs
        assert b.hits >= a.hits
        assert b.recall_pct >= a.recall_pct
    for r in yield_rows:
        assert r.hits <= min(r.truth_pairs, r.candidate_pairs)
    cal = REGISTRY["minhash_jaccard_calibration"].fn(spark, sf_oracle).collect()
    assert sum(r.n_pairs for r in cal) == cost[7]
    for r in cal:
        assert 0 <= r.sig_matches <= 16
        assert 0 <= r.n_within_band <= r.n_pairs
        assert r.min_jaccard <= r.max_jaccard
        assert 0.0 <= r.min_jaccard and r.max_jaccard <= 1.0


def test_ivfpq_append_drift_matches_numpy_mirror(spark, tmp_path):
    """Full independent mirror on a constructed corpus: integer-valued
    embeddings make every dot/L2 sum exact in both float paths, so the
    numpy re-derivation (same md5 staging, frozen first-16 quantizer,
    ADC ranking, per-stage exact truth) must reproduce every row."""
    import numpy as np

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    rng_vals = [-3, -1, 1, 2, 4, 5, 7]  # no 0: a zero VECTOR would make cosine 0/0
    vecs = {
        i: [float(rng_vals[(i * 31 + j * 7 + (i * j) % 5) % 7]) for j in range(64)]
        for i in range(40)
    }
    spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")

    stage = {}
    for i in vecs:
        h = _md5_int60(f"{i}:ivfstage")
        stage[i] = 0 if h % 2 == 0 else 1 + (h // 2) % 4
    init_ids = sorted(i for i in vecs if stage[i] == 0)
    cents = [np.array(vecs[i]) for i in init_ids[:16]]
    cbs = {
        (j, c): np.array(vecs[init_ids[c]][j * 16 : (j + 1) * 16])
        for j in range(4)
        for c in range(min(16, len(init_ids)))
    }
    n_codes = min(16, len(init_ids))

    def assign(v):
        affs = [(float(np.dot(v, c)), cell) for cell, c in enumerate(cents)]
        return max(range(len(cents)), key=lambda cell: (affs[cell][0], -cell))

    def encode(v):
        out = {}
        for j in range(4):
            sub = np.array(v[j * 16 : (j + 1) * 16])
            out[j] = min(
                range(n_codes),
                key=lambda c: (float(np.sum((sub - cbs[(j, c)]) ** 2)), c),
            )
        return out

    qids = [0, 1, 2, 3, 4]
    k, n_probe = 10, 4
    hits_by_stage = {s: 0 for s in range(5)}
    for q in qids:
        qv = np.array(vecs[q])
        affs = sorted(
            ((float(np.dot(qv, c)), -cell) for cell, c in enumerate(cents)),
            reverse=True,
        )
        probe_cells = {-c for _, c in affs[:n_probe]}
        lut = {
            (j, c): float(np.dot(qv[j * 16 : (j + 1) * 16], cbs[(j, c)]))
            for j in range(4)
            for c in range(n_codes)
        }
        cand = []
        for i, v in vecs.items():
            if i == q or assign(v) not in probe_cells:
                continue
            codes = encode(v)
            adc = 0.0
            for j in range(4):
                adc += lut[(j, codes[j])]
            cand.append((i, adc))
        for s in range(5):
            cs = [(adc, i) for i, adc in cand if stage[i] <= s]
            ret = {i for adc, i in sorted(cs, key=lambda t: (-t[0], t[1]))[:k]}
            ex = [
                (
                    float(np.dot(qv, np.array(v)))
                    / (float(np.linalg.norm(qv)) * float(np.linalg.norm(np.array(v)))),
                    i,
                )
                for i, v in vecs.items()
                if i != q and stage[i] <= s
            ]
            truth = {i for c, i in sorted(ex, key=lambda t: (-t[0], t[1]))[:k]}
            hits_by_stage[s] += len(ret & truth)

    got = {
        r.stage: r.asDict()
        for r in REGISTRY["ivfpq_append_recall_drift"].fn(spark, d).collect()
    }
    for s in range(5):
        n_corpus = sum(1 for i in vecs if stage[i] <= s)
        assert got[s]["corpus_size"] == n_corpus
        assert got[s]["hits"] == hits_by_stage[s], (s, got[s], hits_by_stage)
        assert got[s]["recall_at_10"] == hits_by_stage[s] / 50.0


def test_ratio_estimator_exact_when_proportional(spark, tmp_path):
    """When totalprice is EXACTLY proportional to lineitem count, the
    ratio estimator is exact for any sample (err_ratio_pct == 0) while
    plain expansion errs whenever the realized sampling fraction is not
    exactly 10% — the variance-reduction claim as a hand-case theorem.
    The md5 acceptance set is re-derived in Python to pin n_sampled."""
    import datetime as dt

    from spacex_data_pipeline_spark.queries import REGISTRY

    d = str(tmp_path)
    orows, lrows = [], []
    for ok in range(1, 201):
        n_lines = (ok % 3) + 1
        orows.append(
            (ok, 1, "O", 100.0 * n_lines, dt.datetime(2024, 1, 1), "1-URGENT")
        )
        for ln in range(1, n_lines + 1):
            lrows.append(
                (ok, 1, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O",
                 dt.datetime(2024, 1, 2))
            )
    spark.createDataFrame(
        orows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        lrows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{d}/lineitem.parquet")
    sampled = [
        ok for ok in range(1, 201) if _md5_int60(f"{ok}:ratio") % 10000 < 1000
    ]
    r = REGISTRY["ratio_estimator_orders"].fn(spark, d).collect()[0]
    assert r.n_orders == 200 and r.n_sampled == len(sampled)
    assert r.err_ratio_pct == 0.0
    assert r.ratio_est == r.exact_rev
    # expansion is exact ONLY if the sample hit exactly 10% of revenue
    assert r.expansion_est == r.sampled_rev * 10.0


def test_neardup_transitivity_open_wedge(spark, tmp_path):
    """A constructed A~B~C chain where A and C fall below the threshold:
    one wedge, zero closed — transitivity 0%; the Python shingle-set
    mini-oracle pins every count."""
    from spacex_data_pipeline_spark.queries import REGISTRY

    # mid-word edits kill 3 shingles each: one edit keeps J at
    # 25/31 = 0.806 (just over the bar), two distinct edits drop the
    # outer pair to 22/34 = 0.647
    words = [f"w{i}" for i in range(30)]
    a = list(words)
    b = list(words); b[10] = "zz"
    c = list(b); c[20] = "yy"

    def shingleset(w):
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    def jac(x, y):
        sx, sy = shingleset(x), shingleset(y)
        return len(sx & sy) / len(sx | sy)

    assert jac(a, b) >= 0.8 and jac(b, c) >= 0.8 and jac(a, c) < 0.8
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, " ".join(a), "s", "en"), (2, " ".join(b), "s", "en"),
         (3, " ".join(c), "s", "en")],
        "doc_id long, text string, source string, lang string",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    r = REGISTRY["neardup_transitivity_audit"].fn(spark, d).collect()[0]
    assert r.n_pairs == 2          # (1,2) and (2,3)
    assert r.n_docs == 3
    assert r.n_wedges == 1         # 1-2-3 through center 2
    assert r.n_closed_wedges == 0  # (1,3) is below threshold
    assert r.transitivity_pct == 0.0
