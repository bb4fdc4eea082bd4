#!/usr/bin/env python
"""Interleaved OLD-vs-NEW A/B for the r15 second-push pair-table shares
(_doc_jaccard_pairs80 / _doc_containment_pairs80), in ONE session — the
house host-noise discipline (pairwise alternation, min-of-N, probes
recorded).

OLD forms are the committed pre-share bodies verbatim (each entry builds
its own pair table through the operator over the shared postings/sizes
handles — for prune_report/transitivity that includes the per-entry
materialize() the first r15 push added). NEW forms are the registry
entries riding the shared materialized pair tables.

Share-riding disclosure: the NEW side rides a per-context handle after
its first pass (sweep-amortized accounting, unchanged since r11); pass-1
"new" times include the share build and min-of-N reports the ridden
cost. The pass-1 figures are in the artifact.

Usage: python plans/r15/ab_r15_pairshare.py [passes]  (default 5)
Writes plans/r15/ab_r15_pairshare.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import machine_calibration  # noqa: E402
from spacex_data_pipeline_spark.operators import dedup as dedup_mod  # noqa: E402
from spacex_data_pipeline_spark.queries import (  # noqa: E402
    REGISTRY,
    _doc_shingle_postings,
    _doc_shingle_sizes,
    _t,
)
from spacex_data_pipeline_spark.session import build_session  # noqa: E402


def _own_jp80(spark, sf_dir):
    return dedup_mod.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8,
        postings=_doc_shingle_postings(spark, sf_dir),
        sizes=_doc_shingle_sizes(spark, sf_dir),
    )


def _own_ct80(spark, sf_dir):
    return dedup_mod.containment_pairs(
        _t(spark, sf_dir, "documents"),
        postings=_doc_shingle_postings(spark, sf_dir),
        sizes=_doc_shingle_sizes(spark, sf_dir),
    )


def lsh_verify_old(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    truth = _own_jp80(spark, sf_dir)
    cand = dedup_mod.minhash_lsh_candidates(docs).withColumnRenamed("est_jaccard", "est")
    return truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.col("est").isNotNull().alias("recovered"),
        (
            F.col("est").isNotNull()
            & (F.abs(F.col("est") - F.col("jaccard")) <= 0.2)
        ).alias("est_close"),
    )


def simhash_old(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    truth = _own_jp80(spark, sf_dir)
    fps = dedup_mod.simhash_fingerprints(docs).localCheckpoint()
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    banded = dedup_mod.simhash_near_pairs(
        docs, fingerprints=fps
    ).select("doc_a", "doc_b", F.lit(True).alias("banded"))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        truth.join(fa, "doc_a")
        .join(fb, "doc_b")
        .join(banded, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (hamming <= 16).alias("hamming_ok"),
            ((hamming > 3) | F.col("banded").isNotNull()).alias("pigeonhole_ok"),
        )
    )


def cross_split_old(spark, sf_dir):
    from spacex_data_pipeline_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents")
    pairs = _own_jp80(spark, sf_dir)
    split_map = split_assign(
        docs.select("doc_id"), "doc_id", val_pct=0.05, test_pct=0.05
    )
    pairs = F.broadcast(pairs).join(
        split_map.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
        ),
        "doc_a",
    )
    pairs = F.broadcast(pairs).join(
        split_map.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
        ),
        "doc_b",
    )
    return pairs.filter(F.col("split_a") != F.col("split_b")).select(
        "doc_a", "doc_b", "split_a", "split_b", "jaccard"
    )


def neardup_docs_old(spark, sf_dir):
    return _own_ct80(spark, sf_dir).orderBy("doc_a", "doc_b")


def prune_report_old(spark, sf_dir):
    cont = dedup_mod.materialize(
        _own_ct80(spark, sf_dir).select("doc_a", "doc_b")
    )
    dropped = dedup_mod.containment_dropped_ids(cont).withColumn(
        "__dropped", F.lit(1)
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    joined = d.join(dropped, "doc_id", "left")
    from spacex_data_pipeline_spark.functions.numeric import pct_rate

    chars_dropped = F.coalesce(
        F.sum(F.when(F.col("__dropped") == 1, F.col("n_chars"))), F.lit(0)
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.count("__dropped").cast("long").alias("n_dropped"),
            chars_dropped.cast("long").alias("chars_dropped"),
            pct_rate(chars_dropped, F.sum("n_chars")).alias("dropped_pct"),
        )
        .orderBy("source")
    )


def groupkfold_old(spark, sf_dir):
    from spacex_data_pipeline_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    jp = _own_jp80(spark, sf_dir).select("doc_a", "doc_b")
    ct = _own_ct80(spark, sf_dir).select("doc_a", "doc_b")
    comp = dedup_mod.connected_components(
        docs.select("doc_id"), jp.unionByName(ct)
    )
    folded = comp.select(
        "doc_id",
        "component",
        hash_bucket(F.col("component"), "ckfold", 5).alias("fold"),
    )
    return (
        folded.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("fold")
        .agg(
            F.countDistinct("component").cast("long").alias("n_groups"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
        .orderBy("fold")
    )


def transitivity_old(spark, sf_dir):
    from spacex_data_pipeline_spark.functions.numeric import pct_rate

    jp = dedup_mod.materialize(_own_jp80(spark, sf_dir).select("doc_a", "doc_b"))
    e = jp.select(F.col("doc_a").alias("c"), F.col("doc_b").alias("x")).unionByName(
        jp.select(F.col("doc_b").alias("c"), F.col("doc_a").alias("x"))
    )
    e2 = e.select(F.col("c").alias("c2"), F.col("x").alias("x2"))
    w = dedup_mod.materialize(
        e.join(
            e2, (F.col("c") == F.col("c2")) & (F.col("x") < F.col("x2"))
        ).select("c", F.col("x").alias("wa"), F.col("x2").alias("wb"))
    )
    cl = w.join(
        jp,
        (F.col("wa") == F.col("doc_a")) & (F.col("wb") == F.col("doc_b")),
    )
    np_ = jp.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    nd = e.agg(F.count_distinct("x").cast("long").alias("n_docs"))
    nw = w.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
    nc = cl.agg(F.count(F.lit(1)).cast("long").alias("n_closed_wedges"))
    return (
        np_.join(F.broadcast(nd))
        .join(F.broadcast(nw))
        .join(F.broadcast(nc))
        .select(
            "n_pairs",
            "n_docs",
            "n_wedges",
            "n_closed_wedges",
            pct_rate(F.col("n_closed_wedges"), F.col("n_wedges")).alias(
                "transitivity_pct"
            ),
        )
    )


PAIRS = {
    "dedup_minhash_lsh_verify": (
        lsh_verify_old,
        lambda s, d: REGISTRY["dedup_minhash_lsh_verify"].fn(s, d)),
    "dedup_simhash": (
        simhash_old, lambda s, d: REGISTRY["dedup_simhash"].fn(s, d)),
    "dedup_cross_split_leakage": (
        cross_split_old,
        lambda s, d: REGISTRY["dedup_cross_split_leakage"].fn(s, d)),
    "containment_neardup_docs": (
        neardup_docs_old,
        lambda s, d: REGISTRY["containment_neardup_docs"].fn(s, d)),
    "containment_prune_report": (
        prune_report_old,
        lambda s, d: REGISTRY["containment_prune_report"].fn(s, d)),
    "containment_groupkfold": (
        groupkfold_old,
        lambda s, d: REGISTRY["containment_groupkfold"].fn(s, d)),
    "neardup_transitivity_audit": (
        transitivity_old,
        lambda s, d: REGISTRY["neardup_transitivity_audit"].fn(s, d)),
}


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="ab-r15-pairshare",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    cal_pre = machine_calibration()

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # value-equality guard at sf0.001 before timing anything
    for name, (old, new) in PAIRS.items():
        a = sorted(map(tuple, old(spark, "/root/testdata/sf0.001").collect()))
        b = sorted(map(tuple, new(spark, "/root/testdata/sf0.001").collect()))
        assert a == b, f"old/new mismatch for {name}"
    print("old == new at sf0.001 for all pairs", flush=True)

    results = {n: {"old": [], "new": []} for n in PAIRS}
    for _p in range(passes):
        for name, (old, new) in PAIRS.items():
            results[name]["old"].append(run(old))
            results[name]["new"].append(run(new))
        print(f"pass {_p} done", flush=True)

    cal_post = machine_calibration()
    out = {
        "sf_dir": sf_dir, "passes": passes,
        "calibration_pre": cal_pre, "calibration_post": cal_post,
        "note": ("new side rides the per-context pair-table handle after "
                 "pass 1 (sweep-amortized accounting, disclosed in bench "
                 "methodology)"),
        "per_query": {},
    }
    for name, r in results.items():
        wins = sum(1 for o, n in zip(r["old"], r["new"]) if n < o)
        out["per_query"][name] = {
            "old_passes": r["old"], "new_passes": r["new"],
            "old_min": min(r["old"]), "new_min": min(r["new"]),
            "new_over_old_min_ratio": round(min(r["new"]) / min(r["old"]), 3),
            "pairwise_new_wins": f"{wins}/{passes}",
        }
        print(name, out["per_query"][name]["new_over_old_min_ratio"],
              out["per_query"][name]["pairwise_new_wins"], flush=True)
    with open(os.path.join(REPO, "plans", "r15", "ab_r15_pairshare.json"), "w") as f:
        json.dump(out, f, indent=2)
    print("probes:", cal_pre.get("par_over_single"), cal_post.get("par_over_single"))
    spark.stop()


if __name__ == "__main__":
    main()
