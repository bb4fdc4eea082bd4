#!/usr/bin/env python
"""Interleaved r13-code vs current-code A/B for the three headline paths
that changed in the r14 optimization round (VERDICT r14 "next round" #1:
settle the driver's 0.72x geomean — host contention vs plan regression —
with old and new forms alternating in ONE session, min-of-N pairwise,
contention probes recorded in the same artifact).

The other 13 headline entries had no relevant code change between r13 and
r14/r15 (verified: `git diff fb7de4e..HEAD` touches none of their code
paths), so an old-vs-new A/B would time identical code; only these three
differ:

- dedup_ngram_jaccard: r13 form computes the per-doc shingle-set sizes
  in-plan (two independent full-postings aggregates); current form rides
  the shared materialized sizes table.
- dedup_minhash_lsh (production operator minhash_lsh_candidates): r13
  band_keys built concat_ws(",", cast, cast) STRINGS per band before
  hashing; current hashes the band longs directly with multi-arg
  xxhash64. The r13 band_keys below is verbatim from
  `git show fb7de4e:spacex_data_pipeline_spark/functions/hashing.py`.
- pipeline_training_data_prep: r13 form = exact_dedup_first + join-back
  (verbatim body from `git show fb7de4e:...queries.py`); current form =
  exact_dedup_rows window (1 scan, 1 exchange).

Method: one session; per pass, run (old, new) back-to-back per query with
the noop sink; N passes; report per-pass pairs, min-of-N, and the
pairwise win count. Both sides ride the same shared-postings handle
(r13 had the postings share too), so the comparison isolates exactly the
r14 changes. machine_calibration (par_over_single, 1.0 = idle host) runs
before and after.

Usage: python plans/r15/ab_r13_vs_r15.py [passes]  (default 5)
Writes plans/r15/ab_r13_vs_r15.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Column, DataFrame, SparkSession  # noqa: E402

from bench import machine_calibration  # noqa: E402
from spacex_data_pipeline_spark.queries import (  # noqa: E402
    REGISTRY,
    _doc_shingle_postings,
    _t,
)
from spacex_data_pipeline_spark.session import build_session  # noqa: E402
from spacex_data_pipeline_spark.operators import dedup as dedup_mod  # noqa: E402


def band_keys_r13(signature: Column, bands: int, rows_per_band: int) -> Column:
    """VERBATIM r13 band_keys (git show fb7de4e:.../functions/hashing.py):
    builds a concat_ws string of the band's signature longs, then hashes."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(signature, b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    ),
                    F.lit(b),
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def ngram_jaccard_r13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 dedup_ngram_jaccard: shared postings, NO shared sizes (the
    per-doc set sizes aggregate runs twice in-plan)."""
    from spacex_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2,
        postings=_doc_shingle_postings(spark, sf_dir),
    )


def minhash_r13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 production minhash: current operator with the r13 band_keys
    swapped in (the only diff fb7de4e..HEAD in this path)."""
    from spacex_data_pipeline_spark import catalog

    old = dedup_mod.band_keys
    dedup_mod.band_keys = band_keys_r13
    try:
        return dedup_mod.minhash_lsh_candidates(catalog.table(spark, sf_dir, "documents"))
    finally:
        dedup_mod.band_keys = old


def pipeline_r13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERBATIM r13 pipeline_training_data_prep body
    (git show fb7de4e:.../queries.py)."""
    from spacex_data_pipeline_spark.functions.hashing import normalize_text
    from spacex_data_pipeline_spark.operators.dedup import exact_dedup_first

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "text", "lang", "n_chars",
        F.split(normalize_text(F.col("text")), " ").alias("__toks"),
    )
    scored = toks.select(
        "doc_id", "text", "lang", "n_chars",
        F.size("__toks").cast("int").alias("n_tokens"),
        (
            F.size(F.array_distinct("__toks")).cast("double")
            / F.greatest(F.size("__toks"), F.lit(1))
        ).alias("diversity"),
    )
    kept = scored.filter((F.col("n_tokens") >= 30) & (F.col("diversity") >= 0.3))
    survivors = exact_dedup_first(kept)
    return kept.join(survivors, "doc_id").select(
        "doc_id", "lang", "n_tokens", F.round("diversity", 6).alias("diversity")
    )


def minhash_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spacex_data_pipeline_spark import catalog

    return dedup_mod.minhash_lsh_candidates(catalog.table(spark, sf_dir, "documents"))


PAIRS = {
    "dedup_ngram_jaccard": (
        ngram_jaccard_r13,
        lambda s, d: REGISTRY["dedup_ngram_jaccard"].fn(s, d),
    ),
    "dedup_minhash_lsh": (minhash_r13, minhash_current),
    "pipeline_training_data_prep": (
        pipeline_r13,
        lambda s, d: REGISTRY["pipeline_training_data_prep"].fn(s, d),
    ),
}


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="ab-r13-vs-r15",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    cal_pre = machine_calibration()

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # warm both forms (codegen/classloading) at the smallest sf
    for name, (old, new) in PAIRS.items():
        for fn in (old, new):
            try:
                run_sf = "/root/testdata/sf0.001"
                fn(spark, run_sf).write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    results: dict[str, dict] = {
        n: {"old": [], "new": []} for n in PAIRS
    }
    for _p in range(passes):
        for name, (old, new) in PAIRS.items():
            results[name]["old"].append(run(old))
            results[name]["new"].append(run(new))

    cal_post = machine_calibration()
    out = {
        "sf_dir": sf_dir,
        "passes": passes,
        "calibration_pre": cal_pre,
        "calibration_post": cal_post,
        "per_query": {},
    }
    for name, r in results.items():
        wins = sum(1 for o, n in zip(r["old"], r["new"]) if n < o)
        out["per_query"][name] = {
            "old_passes": r["old"],
            "new_passes": r["new"],
            "old_min": min(r["old"]),
            "new_min": min(r["new"]),
            "new_over_old_min_ratio": round(min(r["new"]) / min(r["old"]), 3),
            "pairwise_new_wins": f"{wins}/{passes}",
        }
    path = os.path.join(REPO, "plans", "r15", "ab_r13_vs_r15.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out["per_query"], indent=2))
    print("probes:", cal_pre.get("par_over_single"), cal_post.get("par_over_single"))
    spark.stop()


if __name__ == "__main__":
    main()
