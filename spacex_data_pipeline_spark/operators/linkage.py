"""Entity resolution / record linkage (driver north-star extension).

Fuzzy-matching near-identical entity records (names with typos, OCR
noise, inconsistent keying) without an all-pairs comparison — the
classic blocking-then-verify shape:

1. **Block** on positional q-grams: every record emits its character
   q-grams tagged with their position (``gram:pos`` keys). Two strings
   within substitution distance d share at least ``L − q + 1 − q·d``
   positional q-grams (each substitution destroys at most q grams), so
   candidate generation by equi-join on the gram key has guaranteed
   recall for substitution-type edits; insertions/deletions shift
   positions and rely on the surviving prefix grams (documented, not
   guaranteed — raise ``q``-gram position tolerance by matching on
   unpositioned grams if that matters for a corpus).
2. **Cap** hot gram keys (the dedup family's ``max_shingle_df`` move,
   dedup.py): a gram shared by D records would emit D² candidate rows —
   constant prefixes ("Customer#") are exactly this shape. Keys above
   ``max_gram_df`` are dropped via a broadcast anti-join on the
   aggregated hot-key list; the quadratic term is bounded by
   ``max_gram_df²`` per key.
3. **Verify** with a THRESHOLD-BOUNDED Levenshtein: Spark's
   ``levenshtein(l, r, threshold)`` abandons a pair the moment the
   banded DP exceeds the bound (O(d·L) per pair instead of O(L²)),
   returning −1 — the verify step never pays full edit-distance cost on
   the non-matches that dominate candidates.

Scale: one corpus-sized gram explode (narrow), one shuffle on the gram
key for candidates, one shuffle on record key to re-attach names. No
cartesian anywhere (plan-asserted registry-wide). All JVM expressions —
zero Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Blocking q-gram length and the largest edit distance a pair verifies at,
# shared by the matcher and its blocking report.
QGRAM = 3
MAX_DIST = 2


def positional_qgram_keys(name: Column, q: int = 3) -> Column:
    """``gram:pos`` blocking keys of a string (empty array if shorter
    than q). Positions are 1-based so the SQL twin is ``substring``-
    compatible in both engines."""
    n = F.length(name)
    return F.when(
        n >= q,
        F.transform(
            F.sequence(F.lit(1), n - q + 1),
            lambda i: F.concat_ws(":", F.substring(name, i, F.lit(q)), i.cast("string")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _blocking_stages(
    records: DataFrame,
    key_col: str,
    name_col: str,
    q: int,
    max_dist: int,
    max_gram_df: int,
) -> dict[str, DataFrame]:
    """The shared pipeline stages (names → grams → hot/cold → candidates
    → verified pairs), returned by name so both the pair operator and
    the blocking-efficiency report derive from ONE definition."""
    names = records.select(
        F.col(key_col).alias("k"), F.trim(F.lower(F.col(name_col))).alias("nm")
    )
    grams = names.select(
        "k", F.explode(positional_qgram_keys(F.col("nm"), q)).alias("gk")
    )
    hot = (
        grams.groupBy("gk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_gram_df)
        .select("gk")
    )
    cold = grams.join(F.broadcast(hot), "gk", "left_anti")
    cand = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.gk") == F.col("b.gk")) & (F.col("a.k") < F.col("b.k")),
        )
        .select(F.col("a.k").alias("a_key"), F.col("b.k").alias("b_key"))
        .distinct()
    )
    an = names.select(F.col("k").alias("a_key"), F.col("nm").alias("a_name"))
    bn = names.select(F.col("k").alias("b_key"), F.col("nm").alias("b_name"))
    dist = F.levenshtein(F.col("a_name"), F.col("b_name"), max_dist)
    verified = (
        cand.join(an, "a_key")
        .join(bn, "b_key")
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select(
            "a_key", "b_key", "a_name", "b_name", F.col("dist").cast("int").alias("dist")
        )
    )
    return {
        "names": names,
        "cold": cold,
        "hot": hot,
        "cand": cand,
        "verified": verified,
    }


def blocked_fuzzy_pairs(
    records: DataFrame,
    key_col: str,
    name_col: str,
    max_gram_df: int = 100,
) -> DataFrame:
    """Matched record pairs ``(a_key, b_key, a_name, b_name, dist)``
    within ``records``, canonicalized by ``a_key < b_key``, with
    ``levenshtein(a_name, b_name) ≤ MAX_DIST``, found via positional
    q-gram blocking (module docstring). Names are compared
    lowercased/trimmed."""
    return _blocking_stages(
        records, key_col, name_col, QGRAM, MAX_DIST, max_gram_df
    )["verified"]


def blocking_report(
    records: DataFrame,
    key_col: str,
    name_col: str,
) -> DataFrame:
    """One-row blocking-efficiency report — the ER counterpart of
    shingle_df_stats' LSH observability: records in, distinct gram keys
    kept, hot keys dropped by the df cap (100), candidate pairs
    generated, pairs that verify at ≤ ``MAX_DIST``, and the verify
    precision (the fraction of candidate comparisons that were worth
    paying). Read before tuning ``QGRAM`` / the df cap: precision near
    100% with few matches means blocking is too tight (recall risk);
    precision near 0% means the cap or q is too loose and the join is
    burning Levenshtein calls."""
    from ..functions.numeric import pct_rate

    st = _blocking_stages(records, key_col, name_col, QGRAM, MAX_DIST, 100)
    n_rec = st["names"].agg(F.count(F.lit(1)).alias("n_records"))
    n_keys = st["cold"].agg(
        F.count_distinct(F.col("gk")).alias("n_gram_keys")
    )
    n_hot = st["hot"].agg(F.count(F.lit(1)).alias("n_hot_keys"))
    n_cand = st["cand"].agg(F.count(F.lit(1)).alias("n_candidates"))
    n_match = st["verified"].agg(F.count(F.lit(1)).alias("n_matched"))
    return (
        n_rec.crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(n_hot))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_match))
        .select(
            "n_records",
            "n_gram_keys",
            "n_hot_keys",
            "n_candidates",
            "n_matched",
            pct_rate(F.col("n_matched"), F.col("n_candidates")).alias(
                "verify_precision_pct"
            ),
        )
    )


def fuzzy_match_stats(pairs: DataFrame) -> DataFrame:
    """Per-distance rollup of a matched-pair table: pair count and the
    number of distinct entities involved at each edit distance — the
    triage report run before committing to a merge of fuzzy clusters."""
    ents = pairs.select(
        "dist", F.explode(F.array("a_key", "b_key")).alias("k")
    )
    n_pairs = pairs.groupBy("dist").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_ents = ents.groupBy("dist").agg(
        F.count_distinct(F.col("k")).alias("n_entities")
    )
    return n_pairs.join(n_ents, "dist")
