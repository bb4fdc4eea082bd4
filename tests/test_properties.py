"""Property-based tests (hypothesis) for the reference-mart semantics —
SURVEY.md §5 item 3: the invariants must hold for ANY payload, not just
the golden fixture."""

from __future__ import annotations

import pytest

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spacex_data_pipeline_spark.operators.marts import fct_spacex_launches_by_year
from spacex_data_pipeline_spark.operators.staging import stg_spacex_launches
from spacex_data_pipeline_spark.sources import rest_api

launch = st.fixed_dictionaries(
    {
        "id": st.uuids().map(str),
        "name": st.text(min_size=1, max_size=12),
        "date_utc": st.one_of(
            st.datetimes(
                min_value=dt.datetime(2006, 1, 1), max_value=dt.datetime(2030, 1, 1)
            ).map(lambda d: d.isoformat() + "Z"),
            st.just("garbage-date"),
        ),
        "success": st.one_of(st.booleans(), st.none()),
        "rocket": st.text(min_size=1, max_size=8),
        "details": st.one_of(st.text(max_size=20), st.none()),
        "flight_number": st.one_of(st.integers(min_value=0, max_value=10**6), st.none()),
        "upcoming": st.one_of(st.booleans(), st.none()),
    }
)

_spark = None


def _get_spark():
    # hypothesis can't take a pytest fixture inside @given; reuse the
    # session-scoped one via a lazy import of the conftest factory
    global _spark
    if _spark is None:
        from spacex_data_pipeline_spark.session import build_session

        _spark = build_session(app_name="property-tests")
    return _spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(payload=st.lists(launch, min_size=0, max_size=25))
def test_mart_invariants_hold_for_any_payload(payload):
    spark = _get_spark()
    raw = rest_api.normalize(spark, payload, load_ts=dt.datetime(2024, 1, 1))
    stg = stg_spacex_launches(raw)
    fct = fct_spacex_launches_by_year(stg)
    rows = fct.collect()

    # total conservation: every raw row lands in exactly one year group
    assert sum(r["launches"] for r in rows) == len(payload)
    for r in rows:
        # the reference's CASE semantics: null success counts as failure
        assert r["successes"] + r["failures"] == r["launches"]
        assert r["launches"] >= 1
        if r["success_rate_pct"] is not None:
            assert 0.0 <= r["success_rate_pct"] <= 100.0
    # per-group recheck against a Python reference model
    expect: dict = {}
    for rec in payload:
        try:
            y = dt.datetime.fromisoformat(rec["date_utc"].rstrip("Z")).year
        except ValueError:
            y = None
        s, f = expect.get(y, (0, 0))
        expect[y] = (s + (rec["success"] is True), f + (rec["success"] is not True))
    got = {r["year"]: (r["successes"], r["failures"]) for r in rows}
    assert got == expect


def test_shard_shuffle_is_a_permutation(spark):
    """shard_and_shuffle must deal every row exactly once: shards
    partition the keys, positions are contiguous 1..n within each shard,
    and re-running (or re-partitioning the input) deals identically."""
    from spacex_data_pipeline_spark.operators.sampling import shard_and_shuffle

    df = spark.createDataFrame([(i,) for i in range(997)], "k long")
    out = shard_and_shuffle(df, "k", n_shards=7).collect()
    assert len(out) == 997
    assert {r.k for r in out} == set(range(997))
    per_shard: dict[int, list[int]] = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r.pos)
    assert set(per_shard) <= set(range(7))
    for positions in per_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # layout-invariance: a different physical partitioning deals the same
    again = shard_and_shuffle(df.repartition(13), "k", n_shards=7).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_snapshot_diff_classification_partitions_keys(spark):
    """Every key in either snapshot gets exactly one class, and the
    classes mean what they say (insert∉old, delete∉new, update both+
    changed, unchanged both+equal) — including NULL-value transitions."""
    from spacex_data_pipeline_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c"), (4, None), (5, "e")], "k long, v string"
    )
    got = {r.k: r.change_type for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    assert got == {
        1: "delete",
        2: "unchanged",
        3: "update",  # NULL -> 'c' is a change (null-safe compare)
        4: "update",  # 'd' -> NULL likewise
        5: "insert",
    }


def test_length_bucketed_batches_bound_padding(spark):
    """Within any emitted batch, token counts span less than the bucket
    width (the padding-waste bound the layout exists for) and batches
    hold at most batch_size docs."""
    from spacex_data_pipeline_spark.operators.text import length_bucketed_batches

    rows = [(i, "w " * (i % 300 + 1)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_bucketed_batches(df).collect()
    assert len(out) == 400
    groups: dict[tuple, list[int]] = {}
    for r in out:
        groups.setdefault((r.bucket, r.batch_idx), []).append(r.n_tokens)
    for (bucket, _), toks in groups.items():
        assert len(toks) <= 8
        assert max(toks) - min(toks) < 64
        for t in toks:
            assert t // 64 == bucket


# URL-ish strings: scheme (mixed case) + host labels + optional port +
# path segments (may contain literal 'utm_' text) + query params (some
# utm_*) + optional fragment. Deliberately messier than the synthesized
# fixture URLs.
_label = st.text(alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-", min_size=1, max_size=8)
_param = st.one_of(
    st.tuples(st.just("utm_source"), _label),
    st.tuples(st.just("utm_campaign"), _label),
    st.tuples(st.just("UTM_SOURCE"), _label),  # ADVICE r6: mixed-case utm
    st.tuples(st.just("Utm_Medium"), _label),
    st.tuples(_label, _label),
)


@st.composite
def _urlish(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "HTTPS", "Ftp"]))
    host = ".".join(draw(st.lists(_label, min_size=1, max_size=3)))
    # repeated www prefixes (ADVICE r6: 'www.www.' must collapse in one
    # canonicalization pass, not one prefix per pass)
    www = draw(st.sampled_from(["", "www.", "WWW.", "www.WWW.", "www.www.www."]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    segs = draw(st.lists(st.one_of(_label, st.just("utm_x=1&y")), max_size=3))
    path = "".join("/" + s for s in segs) + draw(st.sampled_from(["", "/", "//"]))
    params = draw(st.lists(_param, max_size=4))
    query = "?" + "&".join(f"{k}={v}" for k, v in params) if params else ""
    frag = draw(st.sampled_from(["", "#sec", "#utm_source=x"]))
    return f"{scheme}://{www}{host}{port}{path}{query}{frag}"


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(urls=st.lists(_urlish(), min_size=1, max_size=60))
def test_url_canonicalization_is_idempotent(urls):
    """canonicalize(canonicalize(u)) == canonicalize(u) for arbitrary
    URL-ish input — the property that makes the canonical form a JOIN
    KEY (re-canonicalizing an already-ingested key must be a no-op), and
    url_domain of the canonical form contains no scheme, port, or www
    prefix."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.functions.urls import (
        canonicalize_url,
        url_domain,
    )

    spark = _get_spark()
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        canonicalize_url(F.col("url")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("url"))).alias("c2"),
        url_domain(canonicalize_url(F.col("url"))).alias("dom"),
    ).collect()
    for r in out:
        assert r.c1 == r.c2, f"not idempotent: {r.c1!r} -> {r.c2!r}"
        assert "://" not in r.dom and not r.dom.startswith("www.")
        assert ":" not in r.dom


_line = st.one_of(
    st.just(""),
    st.just("   "),  # blank after normalization
    st.builds(
        lambda words, pad: pad + " ".join(words),
        st.lists(st.sampled_from(["alpha", "Alpha", "beta", "GAMMA", "x"]),
                 min_size=1, max_size=3),
        st.sampled_from(["", "  ", "\t"]),
    ),
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.lists(_line, min_size=1, max_size=6).map("\n".join),
                      min_size=1, max_size=5))
@pytest.mark.slow
def test_line_dedup_invariants_hold_for_any_corpus(texts):
    """For ANY corpus: (1) kept lines = one per distinct non-blank
    normalized line + every blank line; (2) each survivor is the
    globally minimal (doc_id, line_no) owner of its line; (3) the
    two-level form flags identically; (4) reassembly equals joining the
    kept lines in order."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.dedup import (
        line_dedup_docs,
        line_dedup_flags,
    )

    spark = _get_spark()
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = line_dedup_flags(docs).collect()

    def norm(s):
        import re

        return re.sub(r"\s+", " ", s.lower()).strip()

    # python reference model
    lines = sorted((r.doc_id, r.line_no, r.line, r.keep) for r in rows)
    firsts = {}
    for d, i, line, _ in lines:
        n = norm(line)
        if n and n not in firsts:
            firsts[n] = (d, i)
    for d, i, line, keep in lines:
        n = norm(line)
        want = (n == "") or firsts[n] == (d, i)
        assert keep == want, (d, i, line, keep, want)

    two = sorted(
        (r.doc_id, r.line_no, r.line, r.keep)
        for r in line_dedup_flags(docs, two_level=True).collect()
    )
    assert two == lines

    kept_by_doc = {}
    for d, i, line, keep in lines:
        if keep:
            kept_by_doc.setdefault(d, []).append((i, line))
    out = {r.doc_id: r for r in line_dedup_docs(docs).collect()}
    for d, text in enumerate(texts):
        want_text = "\n".join(l for _, l in sorted(kept_by_doc.get(d, [])))
        assert out[d].text_dedup == want_text
        assert out[d].n_lines == len(text.split("\n"))
        assert out[d].n_kept == len(kept_by_doc.get(d, []))


_word = st.sampled_from(["a", "b", "c", "dd"])


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.lists(_word, min_size=0, max_size=12).map(" ".join),
                      min_size=1, max_size=6))
def test_duplicate_ngram_spans_match_python_reference(texts):
    """For ANY corpus (tiny vocabulary forces collisions): n_dup_grams,
    the interval-union coverage, and the pct agree with a direct Python
    model of 'token n-gram occurs >1 time corpus-wide'. The n-gram length
    is lowered to 3 so the short generated docs hold grams."""
    from unittest import mock

    from spacex_data_pipeline_spark.operators import dedup
    from spacex_data_pipeline_spark.operators.dedup import duplicate_ngram_spans

    n = 3
    spark = _get_spark()
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    with mock.patch.object(dedup, "SPAN_N", n):
        got = {r.doc_id: r for r in duplicate_ngram_spans(docs).collect()}

    import re
    from collections import Counter

    toks = {
        i: ([] if not re.sub(r"\s+", " ", t.lower()).strip()
            else re.sub(r"\s+", " ", t.lower()).strip().split(" "))
        for i, t in enumerate(texts)
    }
    grams = {
        i: [tuple(ts[j : j + n]) for j in range(len(ts) - n + 1)]
        for i, ts in toks.items()
    }
    counts = Counter(g for gs in grams.values() for g in gs)
    for i, ts in toks.items():
        dup_starts = [j for j, g in enumerate(grams[i]) if counts[g] > 1]
        covered = {p for j in dup_starts for p in range(j, j + n)}
        r = got[i]
        assert r.n_tokens == len(ts)
        assert r.n_grams == max(len(ts) - n + 1, 0)
        assert r.n_dup_grams == len(dup_starts)
        assert r.n_dup_tokens == len(covered)
        if len(ts):
            assert r.dup_token_pct == round(100.0 * len(covered) / len(ts), 2)
        else:
            assert r.dup_token_pct is None


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.lists(_word, min_size=1, max_size=10).map(" ".join),
                      min_size=2, max_size=6))
def test_bm25_matches_python_reference(texts):
    """For ANY corpus: BM25 scores and the per-query ranking equal a
    direct Python IEEE-double model (same expression tree, same
    term-sorted LTR fold, same (score DESC, doc_id) tiebreak) — the
    determinism argument the oracle relies on, checked end-to-end."""
    from spacex_data_pipeline_spark.operators.text import bm25_topk

    spark = _get_spark()
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    k = 10
    got = {}
    for r in bm25_topk(docs, [0]).collect():
        got[(r.query_id, r.doc_id)] = (r.rank, r.score)

    import re

    toks = {
        i: re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        for i, t in enumerate(texts)
    }
    tf = {}
    for i, ts in toks.items():
        for w in ts:
            tf[(i, w)] = tf.get((i, w), 0) + 1
    df = {}
    for (i, w), _ in tf.items():
        df[w] = df.get(w, 0) + 1
    dl = {i: len(ts) for i, ts in toks.items()}
    n_docs = float(len(texts))
    tot = float(sum(dl.values()))
    avgdl = tot / n_docs

    # query 0's first 3 distinct terms by first occurrence
    seen, qterms = set(), []
    for w in toks[0]:
        if w not in seen:
            seen.add(w)
            qterms.append(w)
        if len(qterms) == 3:
            break

    scores = {}
    for i in toks:
        total, any_hit = 0.0, False
        for w in sorted(qterms):
            if (i, w) not in tf:
                continue
            any_hit = True
            idf = (n_docs - df[w] + 0.5) / (df[w] + 0.5)
            tfc = (tf[(i, w)] * 2.2) / (
                tf[(i, w)] + 1.2 * (0.25 + 0.75 * (dl[i] / avgdl))
            )
            total = total + idf * tfc
        if any_hit:
            scores[i] = total
    want = {}
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    for rk, (i, s) in enumerate(ranked, 1):
        want[(0, i)] = (rk, s)
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon"]),
            min_size=2,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_textrank_matches_python_reference(texts):
    """For ANY corpus: the scaled-integer PageRank equals a direct
    Python model running the identical update rule (the integer-exact
    argument the oracle depends on), and every returned score is ≥ the
    0.15 damping floor."""
    from spacex_data_pipeline_spark.operators.text import textrank_keywords

    spark = _get_spark()
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.word: (r.rank_score, r.degree)
        for r in textrank_keywords(docs).collect()
    }

    # python reference model (same filter: len>=3, non-stopword — the
    # sampled words all qualify)
    edges: dict[tuple[str, str], int] = {}
    for t in texts:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            if a != b:
                edges[(a, b)] = edges.get((a, b), 0) + 1
                edges[(b, a)] = edges.get((b, a), 0) + 1
    wu: dict[str, int] = {}
    for (a, _), w in edges.items():
        wu[a] = wu.get(a, 0) + w
    nodes = sorted(wu)
    r = {v: 1_000_000 for v in nodes}
    for _ in range(5):
        contrib = {v: 0 for v in nodes}
        for (a, b), w in edges.items():
            contrib[b] += (r[a] * w) // wu[a]
        r = {v: 150_000 + (85 * contrib[v]) // 100 for v in nodes}
    deg: dict[str, int] = {}
    for (a, _b), _ in edges.items():
        deg[a] = deg.get(a, 0) + 1
    want = {v: (r[v], deg[v]) for v in nodes}
    assert got == want
    assert all(score >= 150_000 for score, _ in got.values())


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    pts=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 5000)),
        min_size=0,
        max_size=30,
    ),
    ivs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 5000),
            st.integers(0, 2500),
        ),
        min_size=1,
        max_size=10,
    ),
    bin_s=st.sampled_from([60, 300, 3600]),
)
def test_range_join_binned_equals_naive_join(pts, ivs, bin_s):
    """The binned decomposition must equal the naive inequality join for
    ANY points/intervals/bin width — including bin-edge timestamps,
    zero-length intervals, and multi-bin spans — with each matching pair
    exactly once."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.relational import range_join_binned

    spark = _get_spark()
    epoch = dtm.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [
            (i, k, epoch + dtm.timedelta(seconds=s))
            for i, (k, s) in enumerate(pts)
        ]
        or [(0, "z", epoch)],
        "pid long, k string, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (j, k, epoch + dtm.timedelta(seconds=s), epoch + dtm.timedelta(seconds=s + d))
            for j, (k, s, d) in enumerate(ivs)
        ],
        "iid long, k string, ws timestamp, we timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join_binned(
            points, iv, "ts", "ws", "we", keys=["k"], bin_seconds=bin_s
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (pk, ps) in enumerate(pts)
        for j, (ik, is_, d) in enumerate(ivs)
        if pk == ik and is_ <= ps < is_ + d
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    keys=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
            max_size=12,
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    m_bits=st.sampled_from([64, 256, 4096]),
    k_hashes=st.integers(min_value=1, max_value=6),
)
def test_bloom_never_false_negative_for_any_keys(keys, m_bits, k_hashes):
    """The bloom guarantee the exact-confirm design rests on, over
    arbitrary unicode keys and adversarially tiny bitmaps: every
    INSERTED key must pass might-contain — at m=64 bits the filter is
    soaked (FPR→1) and the property must still hold bit-for-bit."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.dedup import (
        bloom_build,
        bloom_might_contain,
    )

    spark = _get_spark()
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    bloom = bloom_build(df, "k", m_bits, k_hashes)
    passed = (
        df.join(F.broadcast(bloom))
        .filter(bloom_might_contain("k", m_bits, k_hashes))
        .count()
    )
    assert passed == len(keys)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(_word, min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_hashed_features_match_python_reference(texts):
    """For ANY corpus, the signed hashing-trick table equals a direct
    Python model of bucket = md5₆₀(token) % dims / sign = next hash bit —
    the md5 arithmetic, the signed sum, and the zero-cancellation drop
    all replayed independently."""
    import hashlib
    from collections import defaultdict

    from spacex_data_pipeline_spark.operators.text import hashed_features

    dims = 32
    spark = _get_spark()
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_id, r.bucket): r.weight
        for r in hashed_features(docs, signed=True).collect()
    }

    want: dict = defaultdict(int)
    for did, text in enumerate(texts):
        toks = text.split()
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            sign = -1 if h % (2 * dims) >= dims else 1
            want[(did, h % dims)] += sign
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=60,
    ),
    shift=st.sampled_from([0, 3, 10]),
)
@pytest.mark.slow
def test_skyline_2d_matches_quadratic_reference(pts, shift):
    """skyline_2d == the O(n²) dominance definition for ANY point set,
    at several bucket granularities (shift=0 → every x its own bucket;
    large shift → one bucket, degrading to the plain window form).
    Duplicates of a frontier (x, y) pair must ALL survive."""
    from unittest import mock

    from spacex_data_pipeline_spark.operators import relational
    from spacex_data_pipeline_spark.operators.relational import skyline_2d

    spark = _get_spark()
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows or [(0, 0, 0)], "rid long, x long, y long")
    if not rows:
        df = df.filter("rid < 0")
    with mock.patch.object(relational, "SKYLINE_BUCKET_SHIFT", shift):
        got = sorted((r.rid, r.x, r.y) for r in skyline_2d(df, "x", "y").collect())
    want = sorted(
        (i, x, y)
        for i, (x, y) in enumerate(pts)
        if not any(
            (x2 <= x and y2 <= y and (x2 < x or y2 < y)) for (x2, y2) in pts
        )
    )
    assert got == want


@settings(deadline=None, max_examples=25, suppress_health_check=[HealthCheck.too_slow])
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
    grain_div=st.sampled_from([1, 7, 1000]),
)
@pytest.mark.slow
def test_grouped_exact_percentiles_matches_rank_definition(vals, grain_div):
    """relational.grouped_exact_percentiles == the per-group sorted-list
    rank definition value[ceil(q·n/100) − 1] for ANY data and any grain
    granularity (grain_div=1: every value its own bucket; 1000: one
    bucket, degrading to the plain per-group window) — including
    negative values (floor-div grain) and duplicate values."""
    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.operators.relational import (
        grouped_exact_percentiles,
    )

    spark = _get_spark()
    rows = [(g, v, i) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp string, val long, rid long")
    hit = grouped_exact_percentiles(
        df,
        group=["grp"],
        value="val",
        tiebreak=["rid"],
        qs=(50, 90),
        grain=F.floor(F.col("val") / F.lit(grain_div)),
    )
    got = {
        (r.grp, r.q_pct): (r.n, r.val) for r in hit.collect()
    }
    want = {}
    by_g = {}
    for g, v in vals:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        for q in (50, 90):
            want[(g, q)] = (n, vs[max(1, (q * n + 99) // 100) - 1])
    assert got == want


# ---------------------------------------------------------------------------
# r12 entries vs pure-Python references (any corpus, not just the fixture).
# ---------------------------------------------------------------------------


def _fixture_dir(spark, tables: dict) -> str:
    """Write in-memory tables as a throwaway sf-dir for registry entries."""
    import tempfile

    d = tempfile.mkdtemp(prefix="prop_sf_")
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{name}.parquet")
    return d


_ORDER_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_LINE_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp"
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    lines=st.lists(
        st.tuples(
            st.sampled_from(["A", "N", "R"]),
            st.integers(min_value=1, max_value=40).map(float),  # price
            st.integers(min_value=1, max_value=9),  # qty
        ),
        min_size=1,
        max_size=30,
    )
)
@pytest.mark.slow
def test_weighted_quartiles_match_python_reference(lines):
    """The two-phase weighted prefix scan = the one-list Python cumsum,
    for any (flag, price, qty) multiset."""
    spark = _get_spark()
    rows = [
        (i + 1, i + 1, 1, 1, float(q), p, 0.0, 0.0, fl, "O", dt.datetime(2024, 1, 1))
        for i, (fl, p, q) in enumerate(lines)
    ]
    d = _fixture_dir(spark, {"lineitem": (rows, _LINE_SCHEMA)})
    from spacex_data_pipeline_spark.queries import REGISTRY

    got = {
        r.l_returnflag: (r.total_weight, r.wq25, r.w_median, r.wq75)
        for r in REGISTRY["weighted_median_price_by_flag"].fn(spark, d).collect()
    }
    by_flag: dict = {}
    for fl, p, q in lines:
        by_flag.setdefault(fl, {}).setdefault(p, 0)
        by_flag[fl][p] += q
    for fl, g in by_flag.items():
        items = sorted(g.items())
        W = sum(w for _, w in items)

        def pick(num, den):
            cum = 0
            for p, w in items:
                cum += w
                if den * cum >= num * W:
                    return p
            raise AssertionError("unreachable")

        assert got[fl] == (W, pick(1, 4), pick(1, 2), pick(3, 4)), (fl, items)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    orders=st.lists(
        st.sets(st.integers(min_value=1, max_value=8), min_size=2, max_size=5),
        min_size=1,
        max_size=6,
    )
)
@pytest.mark.slow
def test_triangle_census_matches_python_reference(orders):
    """Census counts = brute-force triple enumeration on the derived
    co-purchase graph, for any basket multiset."""
    from itertools import combinations

    spark = _get_spark()
    rows = []
    for ok, parts in enumerate(orders, start=1):
        for ln, pk in enumerate(sorted(parts), start=1):
            rows.append(
                (ok, pk, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1))
            )
    d = _fixture_dir(spark, {"lineitem": (rows, _LINE_SCHEMA)})
    from spacex_data_pipeline_spark.queries import REGISTRY

    r = REGISTRY["triangle_census_part_graph"].fn(spark, d).collect()[0]
    edges = set()
    for parts in orders:
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    nodes = sorted({v for e in edges for v in e})
    deg = {v: 0 for v in nodes}
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    wedges = sum(v * (v - 1) // 2 for v in deg.values())
    tris = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in edges and (y, z) in edges and (x, z) in edges
    )
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (
        len(nodes),
        len(edges),
        wedges,
        tris,
    )


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    spans=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),  # order day-of-jan
            st.lists(
                st.integers(min_value=1, max_value=25), min_size=1, max_size=3
            ),  # ship days
        ),
        min_size=1,
        max_size=10,
    )
)
@pytest.mark.slow
def test_backlog_sweep_line_matches_python_reference(spans):
    """The +1/−1 sweep-line = the brute-force per-day open-interval scan,
    for any (orderdate, shipdates) multiset — including ship-before-
    order degenerates (the arithmetic is mirrored, not sanitized)."""
    spark = _get_spark()
    orows, lrows, ln = [], [], 0
    for ok, (od, ships) in enumerate(spans, start=1):
        orows.append((ok, 1, "O", 10.0, dt.datetime(2024, 1, od), "1-URGENT"))
        for s in ships:
            ln += 1
            lrows.append(
                (ok, ln, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, s))
            )
    d = _fixture_dir(
        spark, {"orders": (orows, _ORDER_SCHEMA), "lineitem": (lrows, _LINE_SCHEMA)}
    )
    from spacex_data_pipeline_spark.queries import REGISTRY

    got = [
        (r.day.isoformat(), r.delta_open, r.open_orders)
        for r in REGISTRY["orders_open_backlog_daily"].fn(spark, d).collect()
    ]
    deltas: dict = {}
    for od, ships in spans:
        deltas[od] = deltas.get(od, 0) + 1
        end = max(ships) + 1
        deltas[end] = deltas.get(end, 0) - 1
    run, want = 0, []
    for day in sorted(deltas):
        run += deltas[day]
        want.append(
            (dt.date(2024, 1, 1) + dt.timedelta(days=day - 1), deltas[day], run)
        )
    assert got == [(w[0].isoformat(), w[1], w[2]) for w in want]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    custdays=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # custkey
            st.integers(min_value=1, max_value=28),  # order day
        ),
        min_size=1,
        max_size=30,
    )
)
@pytest.mark.slow
def test_burst_islands_match_python_reference(custdays):
    """Tolerance islands = the one-list Python gap splitter, for any
    (customer, day) multiset (duplicate days collapse first)."""
    spark = _get_spark()
    rows = [
        (i + 1, ck, "O", 10.0, dt.datetime(2024, 1, day), "1-URGENT")
        for i, (ck, day) in enumerate(custdays)
    ]
    d = _fixture_dir(spark, {"orders": (rows, _ORDER_SCHEMA)})
    from spacex_data_pipeline_spark.queries import REGISTRY

    got = {
        r.burst_days: (r.n_bursts, r.n_customers, r.max_span_days)
        for r in REGISTRY["purchase_burst_islands"].fn(spark, d).collect()
    }
    isl: dict = {}
    by_c: dict = {}
    for ck, day in custdays:
        by_c.setdefault(ck, set()).add(day)
    for ck, days in by_c.items():
        cur = []
        for day in sorted(days):
            if cur and day - cur[-1] > 7:
                isl.setdefault(len(cur), []).append((ck, cur[-1] - cur[0] + 1))
                cur = []
            cur.append(day)
        isl.setdefault(len(cur), []).append((ck, cur[-1] - cur[0] + 1))
    want = {
        size: (
            len(entries),
            len({ck for ck, _ in entries}),
            max(sp for _, sp in entries),
        )
        for size, entries in isl.items()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    lengths=st.sets(st.integers(min_value=7, max_value=40), min_size=1, max_size=12)
)
@pytest.mark.slow
def test_containment_chain_depth_matches_prefix_rank(lengths):
    """Prefix corpora have an analytic depth law: doc i (i-th smallest
    prefix of a common word list) sits below every longer prefix, so
    depth = min(#strictly-longer docs, walk cap 8) — exercising the
    iterative extension loop AND the cap on chains longer than 8."""
    spark = _get_spark()
    words = [f"w{i}" for i in range(40)]
    docs = [
        (i + 1, " ".join(words[:ln]), "en", "web", 3 * ln)
        for i, ln in enumerate(sorted(lengths))
    ]
    d = _fixture_dir(
        spark,
        {
            "documents": (
                docs,
                "doc_id long, text string, lang string, source string, n_chars long",
            )
        },
    )
    from spacex_data_pipeline_spark.queries import REGISTRY

    got = {
        r.depth: r.n_docs
        for r in REGISTRY["containment_chain_depth"].fn(spark, d).collect()
    }
    n = len(lengths)
    want: dict = {}
    for rank in range(1, n + 1):  # rank n = the longest prefix
        dep = min(n - rank, 8)
        want[dep] = want.get(dep, 0) + 1
    assert got == want, (sorted(lengths), got, want)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # month
            st.integers(min_value=1, max_value=4999),  # price
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_quantile_store_monthly_read_matches_python_reference(orders):
    """The month-merged histogram read = the Python cumulative-bin scan,
    and the exact median (two-phase rank) = the sorted-list pick, for
    any (month, price) multiset."""
    spark = _get_spark()
    rows = [
        (i + 1, 1, "O", float(p), dt.datetime(2024, m, 1 + (i % 27)), "1-URGENT")
        for i, (m, p) in enumerate(orders)
    ]
    d = _fixture_dir(spark, {"orders": (rows, _ORDER_SCHEMA)})
    from spacex_data_pipeline_spark.queries import REGISTRY

    got = {
        r.month.isoformat(): (
            r.n_total,
            r.rank_needed,
            r.bin,
            r.exact_median,
            r.in_bin,
        )
        for r in REGISTRY["quantile_store_monthly_read"].fn(spark, d).collect()
    }
    by_m: dict = {}
    for m, p in orders:
        by_m.setdefault(m, []).append(float(p))
    for m, ps in by_m.items():
        key = dt.date(2024, m, 1).isoformat()
        n = len(ps)
        rank = max(1, (50 * n + 99) // 100)
        exact = sorted(ps)[rank - 1]
        bins: dict = {}
        for p in ps:
            bins[int(p // 1000)] = bins.get(int(p // 1000), 0) + 1
        cum = 0
        hit = None
        for b in sorted(bins):
            cum += bins[b]
            if cum >= rank:
                hit = b
                break
        assert got[key] == (n, rank, hit, exact, True), (m, ps, got[key])


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    stream=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # month
            st.integers(min_value=1, max_value=27),  # day of month
            st.integers(min_value=1, max_value=499),  # price bin seedling
        ),
        min_size=1,
        max_size=60,
    )
)
@pytest.mark.slow
def test_store_range_reads_agree_per_month(stream):
    """Cross-family store contract (VERDICT r12 #7): on ONE synthetic
    stream whose row ids are unique (so distinct == count), the HLL
    register store and the histogram store must tell the same story at
    month grain — (a) each store's month read off MERGED day cells is
    identical to cells built directly at month grain (max-merge /
    sum-merge laws), and (b) the histogram store's n_total per month
    equals the exact distinct count the HLL read audits against."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from spacex_data_pipeline_spark.functions.hashing import hll_register

    spark = _get_spark()
    rows = [
        (i + 1, _dt.datetime(2024, m, d), float(p * 1000 + 1))
        for i, (m, d, p) in enumerate(stream)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, price double")
    reg, rho = hll_register(F.col("user_id"))
    day_hll = (
        df.select(F.to_date("ts").alias("day"), reg.alias("reg"), rho.alias("rho"))
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    month = F.date_trunc("month", "day").cast("date").alias("month")
    merged_hll = sorted(
        (r.month, r.reg, r.rho)
        for r in day_hll.groupBy(month, "reg").agg(F.max("rho").alias("rho")).collect()
    )
    direct_hll = sorted(
        (r.month, r.reg, r.rho)
        for r in df.select(
            F.date_trunc("month", "ts").cast("date").alias("month"),
            reg.alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("month", "reg")
        .agg(F.max("rho").alias("rho"))
        .collect()
    )
    assert merged_hll == direct_hll  # max-merge law
    day_hist = (
        df.select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("price") / F.lit(1000.0)).alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merged_hist = sorted(
        (r.month, r.bin, r.n)
        for r in day_hist.groupBy(month, "bin").agg(F.sum("n").alias("n")).collect()
    )
    direct_hist = sorted(
        (r.month, r.bin, r.n)
        for r in df.select(
            F.date_trunc("month", "ts").cast("date").alias("month"),
            F.floor(F.col("price") / F.lit(1000.0)).alias("bin"),
        )
        .groupBy("month", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert merged_hist == direct_hist  # sum-merge law
    hist_totals = {}
    for m, _b, n in merged_hist:
        hist_totals[m] = hist_totals.get(m, 0) + n
    exact = {
        r.month: r.n
        for r in df.groupBy(
            F.date_trunc("month", "ts").cast("date").alias("month")
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert hist_totals == exact  # cross-family n_total law
    # bitmap store: OR-merge law + exactness (ids unique per row, so
    # month popcount == row count == the other stores' n_total)
    word = F.expr("(user_id - pmod(user_id, 62)) div 62").alias("word")
    bit = F.expr("shiftleft(1L, cast(pmod(user_id, 62) as int))").alias("__m")
    day_bm = (
        df.select(F.to_date("ts").alias("day"), word, bit)
        .groupBy("day", "word")
        .agg(F.bit_or("__m").alias("bm"))
    )
    merged_bm = {
        r.month: r.n
        for r in day_bm.groupBy(month, "word")
        .agg(F.bit_or("bm").alias("bm"))
        .groupBy("month")
        .agg(F.sum(F.bit_count("bm")).alias("n"))
        .collect()
    }
    assert merged_bm == exact  # or-merge law, all four stores agree


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # user
            st.sampled_from(["view", "click", "cart", "purchase", "search"]),
        ),
        min_size=1,
        max_size=50,
    )
)
@pytest.mark.slow
def test_event_type_diversity_matches_python_reference(events):
    """decile = floor(10 · (1 − Σpᵢ²)) for any event multiset — the
    exact-rational Gini-Simpson bucket re-derived in pure Python."""
    import datetime as dt

    spark = _get_spark()
    rows = [
        (i, u, t, dt.datetime(2024, 1, 1, 0, 0, i % 60))
        for i, (u, t) in enumerate(events)
    ]
    d = _fixture_dir(
        spark,
        {"events": (rows, "event_id long, user_id long, event_type string, ts timestamp")},
    )
    from spacex_data_pipeline_spark.queries import REGISTRY

    got = {
        r.decile: (r.n_users, r.events_total)
        for r in REGISTRY["event_type_diversity_users"].fn(spark, d).collect()
    }
    per_user: dict = {}
    for u, t in events:
        per_user.setdefault(u, []).append(t)
    want: dict = {}
    for u, ts in per_user.items():
        n = len(ts)
        ss = sum(ts.count(x) ** 2 for x in set(ts))
        decile = ((n * n - ss) * 10) // (n * n)
        nu, ev = want.get(decile, (0, 0))
        want[decile] = (nu + 1, ev + n)
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    baskets=st.lists(
        st.lists(
            st.integers(min_value=1, max_value=8), min_size=2, max_size=4, unique=True
        ),
        min_size=2,
        max_size=10,
    )
)
@pytest.mark.slow
def test_assortativity_matches_python_reference(baskets):
    """Newman's r over the co-purchase graph equals the pure-Python
    Pearson correlation of edge-end degree pairs (skipped when the
    graph is degree-regular — r is 0/0 there, NaN both ways)."""
    import datetime as dt
    import math

    spark = _get_spark()
    rows = []
    for o, parts in enumerate(baskets, start=1):
        for p in parts:
            rows.append(
                (o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1))
            )
    d = _fixture_dir(spark, {"lineitem": (rows, _LINE_SCHEMA)})
    from spacex_data_pipeline_spark.queries import REGISTRY

    edges = set()
    for parts in baskets:
        ps = sorted(set(parts))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    ends = [(deg[a], deg[b]) for a, b in edges] + [(deg[b], deg[a]) for a, b in edges]
    n = len(ends)
    sx = sum(x for x, _ in ends)
    sy = sum(y for _, y in ends)
    sxx = sum(x * x for x, _ in ends)
    syy = sum(y * y for _, y in ends)
    sxy = sum(x * y for x, y in ends)
    denom = math.sqrt(sxx - sx * sx / n) * math.sqrt(syy - sy * sy / n)
    r = REGISTRY["degree_assortativity_part_graph"].fn(spark, d).collect()[0]
    assert r.n_nodes == len(deg)
    assert r.n_edge_ends == n
    if denom == 0.0:
        assert r.assortativity is None or math.isnan(r.assortativity)
    else:
        want = (sxy - sx * sy / n) / denom
        assert abs(r.assortativity - want) < 1e-12


@pytest.mark.slow
def test_float_parity_survives_hostile_magnitudes(
    spark, sf_smoke, tmp_path_factory
):
    """The cross-engine float-parity GATE (VERDICT r13 #6): the house
    discipline — decimal sums, single/fixed IEEE sequences, pct_rate,
    no libm in hash-compared outputs — is enforced per-entry by
    convention; this test turns it into a sweep. It rewrites the
    sf0.001 money columns to HOSTILE values (near the documented
    DECIMAL(8,2) bound, every cent value binary-unrepresentable, and
    integer quantities scaled 17x) while honoring each column's
    decimal contract (money stays 2-dec, discount/tax stay 2-dec in
    range — values beyond the contract would test overflow, not
    parity), then re-runs registry entries that emit DOUBLE columns
    against their DuckDB oracles on that variant. An entry whose Spark
    plan chained doubles differently from its oracle would misround
    HERE even when the friendly fixture happens to agree.

    Coverage cap (documented, not silent): the 15 lexicographically
    first md5(name)-ranked double-emitting entries per run plus the
    pinned float-heavy core — deterministic, so the same entries are
    gated every round; widen via SPARK_GRAFT_HOSTILE_ALL=1."""
    import hashlib
    import os
    import shutil

    import duckdb
    import numpy as np
    import pandas as pd

    from test_oracle_parity import _canon_cell as canon

    from spacex_data_pipeline_spark.queries import REGISTRY

    src = sf_smoke
    dst = str(tmp_path_factory.mktemp("hostile_sf"))
    money = {
        "orders": ["o_totalprice"],
        "lineitem": ["l_extendedprice"],
        "customer": ["c_acctbal"],
        "supplier": ["s_acctbal"],
        "part": ["p_retailprice"],
    }
    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        sp, dp = f"{src}/{t}.parquet", f"{dst}/{t}.parquet"
        if t not in money and t != "lineitem":
            shutil.copy(sp, dp)
            continue
        pdf = pd.read_parquet(sp)
        idx = np.arange(len(pdf))
        for c in money.get(t, []):
            # x1.61 pushes magnitudes toward the documented 1e6 cap;
            # the +k/100 cent offset makes every value end in a
            # binary-unrepresentable cent pattern
            pdf[c] = np.round(pdf[c] * 1.61 + (idx % 97) / 100.0, 2)
        if t == "lineitem":
            # quantities are integral AND 3-digit by contract (TPC-H
            # spec <=50; q9 casts DECIMAL(3,0)): x17 keeps both while
            # pushing magnitudes 17x past anything the friendly
            # fixture exercises (the first full sweep used x37 and the
            # gate itself flagged the 4-digit contract breach)
            pdf["l_quantity"] = pdf["l_quantity"] * 17.0
        pdf.to_parquet(dp, index=False)

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")

    doubles = []
    for name, q in sorted(REGISTRY.items()):
        if q.oracle is None:
            continue
        schema = q.fn(spark, dst).schema
        if any(f.dataType.simpleString() == "double" for f in schema.fields):
            doubles.append(name)
    assert doubles, "no double-emitting entries found — detection broke"
    pinned = [
        "q1_pricing_summary",            # the chained money/factor decimal path
        "horvitz_thompson_strata_estimate",  # two-op IEEE HT identity
        "ship_lag_interaction_effects",  # four single-divide means combined
        "daily_count_trend_ols",         # OLS fixed IEEE sequence
        "weighted_median_price_by_flag", # order statistics on money
        "stddev_exact_by_flag",          # variance from decimal moments
    ]
    ranked = sorted(
        doubles, key=lambda n: hashlib.md5(n.encode()).hexdigest()
    )
    chosen = [p for p in pinned if p in doubles]
    if os.environ.get("SPARK_GRAFT_HOSTILE_ALL"):
        chosen = doubles
    else:
        for n in ranked:
            if len(chosen) >= 21:
                break
            if n not in chosen:
                chosen.append(n)

    bad = []
    for name in chosen:
        q = REGISTRY[name]
        try:
            sdf = q.fn(spark, dst)
            scols = sorted(sdf.columns)
            srows = sorted(
                tuple(canon(r[c]) for c in scols) for r in sdf.collect()
            )
            cur = con.execute(q.oracle)
            dcols = [d[0] for d in cur.description]
            order = sorted(range(len(dcols)), key=lambda i: dcols[i])
            drows = sorted(
                tuple(canon(r[i]) for i in order) for r in cur.fetchall()
            )
            if scols != sorted(dcols) or srows != drows:
                bad.append(name)
        except Exception as e:  # collect, don't abort: one erroring
            bad.append(f"{name} (err: {repr(e)[:120]})")  # entry must not
            # mask parity results for the rest of the sweep
    assert bad == [], f"float-parity breaks on hostile magnitudes: {bad}"
