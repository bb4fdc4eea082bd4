#!/usr/bin/env python
"""Interleaved OLD-vs-NEW A/B for every r15 entry change, in ONE session
(the house host-noise discipline: pairwise alternation, min-of-N, probes
recorded — cross-session absolute numbers are meaningless on this host).

OLD forms are the pre-r15 code paths:
- trigram / bm25 entries: the operator called WITHOUT the shared tf=/
  model= handles (self-built per invocation — exactly the committed
  pre-r15 entry bodies).
- er_entity_golden_records: the pre-r15 body verbatim (CC fixpoint built
  per invocation over the shared pair table).
- ivfpq_append_recall_drift / neardup_transitivity_audit /
  containment_prune_report: the current bodies with dedup.materialize
  temporarily patched to identity while CONSTRUCTING the old DataFrame —
  which reproduces the pre-r15 plans exactly (the r15 diffs in these
  entries are ONLY added materialize() calls; shared-pass handles are
  pre-built and unaffected by the patch).
- containment_groupkfold: current body with the PRE-r15
  connected_components loop (two jobs per round: eager localCheckpoint +
  count — verbatim below) vs the r15 one-job persist loop.

Share-riding disclosure: the NEW side of the trigram/bm25/er pairs rides
a per-context materialized handle after its first pass (the bench's
sweep-amortized accounting, unchanged since r11); pass-1 "new" times
include the share build and min-of-N reports the ridden cost.

Usage: python plans/r15/ab_r15_changes.py [passes]  (default 5)
Writes plans/r15/ab_r15_changes.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import machine_calibration  # noqa: E402
from spacex_data_pipeline_spark.operators import dedup as dedup_mod  # noqa: E402
from spacex_data_pipeline_spark.queries import (  # noqa: E402
    REGISTRY,
    _cust_fuzzy_pairs,
    _doc_shingle_postings,
    _doc_shingle_sizes,
    _t,
)
from spacex_data_pipeline_spark.session import build_session  # noqa: E402


def _patched_materialize_build(fn, spark, sf_dir):
    """Build fn's DataFrame with dedup.materialize patched to identity —
    reproduces the pre-r15 plan for entries whose only r15 diff is added
    materialize() calls. NOTE: construction happens under the patch; the
    returned (lazy) plan is the old one."""
    old = dedup_mod.materialize
    dedup_mod.materialize = lambda df, *a, **kw: df
    try:
        return fn(spark, sf_dir)
    finally:
        dedup_mod.materialize = old


def er_golden_r14(spark, sf_dir):
    """Pre-r15 er_entity_golden_records body (CC fixpoint per invocation
    over the shared pair table) — verbatim from git 76ad921."""
    from spacex_data_pipeline_spark.operators.dedup import connected_components

    cust = _t(spark, sf_dir, "customer")
    pairs = _cust_fuzzy_pairs(spark, sf_dir)
    comp = connected_components(
        cust.select(F.col("c_custkey").alias("doc_id")),
        pairs.select(
            F.col("a_key").alias("doc_a"), F.col("b_key").alias("doc_b")
        ),
    )
    g = (
        comp.groupBy(F.col("component").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    return (
        g.join(cust, g.entity_id == cust.c_custkey)
        .select("entity_id", "n_members", F.col("c_name").alias("rep_name"))
        .orderBy("entity_id")
    )


def connected_components_r14(nodes, edges, id_col="doc_id",
                             left="doc_a", right="doc_b", max_iter=20):
    """Pre-r15 CC loop verbatim (eager localCheckpoint + count = TWO jobs
    per round) — from git 76ad921:.../operators/dedup.py."""
    node_ids = nodes.select(F.col(id_col).alias("node"))
    sym = (
        edges.select(F.col(left).alias("src"), F.col(right).alias("dst"))
        .union(edges.select(F.col(right).alias("src"), F.col(left).alias("dst")))
    )
    sym = dedup_mod.materialize(sym)
    touched = (
        sym.select("src")
        .distinct()
        .join(node_ids, F.col("src") == F.col("node"), "left_semi")
    )
    labels = touched.select(F.col("src").alias("node"), F.col("src").alias("label"))
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        upd = F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label")))
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                upd.alias("new_label"),
                (upd < F.col("label")).alias("__chg"),
            )
        )
        new_labels = dedup_mod.materialize(new_labels)
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return node_ids.join(
        labels, node_ids.node == labels.node, "left"
    ).select(
        node_ids.node.alias(id_col),
        F.coalesce(labels.label, node_ids.node).alias("component"),
    )


def groupkfold_with_cc(spark, sf_dir, cc_fn):
    """containment_groupkfold body with a pluggable CC implementation —
    isolates the r15 CC-loop change."""
    from spacex_data_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from spacex_data_pipeline_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    sh = _doc_shingle_postings(spark, sf_dir)
    sz = _doc_shingle_sizes(spark, sf_dir)
    jp = ngram_jaccard_pairs(
        docs, threshold=0.8, postings=sh, sizes=sz
    ).select("doc_a", "doc_b")
    ct = containment_pairs(docs, postings=sh, sizes=sz).select("doc_a", "doc_b")
    comp = cc_fn(docs.select("doc_id"), jp.unionByName(ct))
    folded = comp.select(
        "doc_id",
        "component",
        hash_bucket(F.col("component"), "ckfold", 5).alias("fold"),
    )
    return (
        folded.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs_x"),
        )
    )


def symspell_old(spark, sf_dir):
    """Pre-r15 symspell_neighbor_pairs_customers body verbatim (the
    DISTINCT shuffles (a_key, a_name, b_key, b_name); names pruned +
    re-attached after dedup in the new form)."""
    from spacex_data_pipeline_spark.functions.numeric import pct_rate

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    variants = F.expr(
        "concat(array(c_name), transform(sequence(1, length(c_name)),"
        " i -> concat(substring(c_name, 1, i - 1),"
        " substring(c_name, i + 1, length(c_name)))))"
    )
    v = dedup_mod.materialize(
        c.select("c_custkey", "c_name", F.explode(variants).alias("key"))
    )
    a = v.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("key").alias("a_k"),
    )
    b = v.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.col("key").alias("b_k"),
    )
    p = (
        a.join(b, (F.col("a_k") == F.col("b_k")) & (F.col("a_key") < F.col("b_key")))
        .select("a_key", "a_name", "b_key", "b_name")
        .distinct()
    )
    ver = p.select(F.levenshtein("a_name", "b_name").alias("dist"))
    n_names = c.agg(F.count(F.lit(1)).cast("long").alias("n_names"))
    n_keys = v.agg(F.count_distinct("key").cast("long").alias("n_variant_keys"))
    return (
        ver.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.sum(F.when(F.col("dist") <= 1, 1).otherwise(0))
            .cast("long")
            .alias("n_edit1_pairs"),
            pct_rate(
                F.sum(F.when(F.col("dist") <= 1, 1).otherwise(0)),
                F.count(F.lit(1)),
            ).alias("precision_pct"),
        )
        .crossJoin(F.broadcast(n_names))
        .crossJoin(F.broadcast(n_keys))
        .select(
            "n_names",
            "n_variant_keys",
            "n_candidate_pairs",
            "n_edit1_pairs",
            "precision_pct",
        )
    )


def trigram_old(spark, sf_dir):
    from spacex_data_pipeline_spark.operators.text import trigram_typicality

    return trigram_typicality(_t(spark, sf_dir, "documents"))


def bm25_old(spark, sf_dir):
    from spacex_data_pipeline_spark.operators.text import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), [0, 1, 2])


PAIRS = {
    "text_trigram_typicality": (
        trigram_old, lambda s, d: REGISTRY["text_trigram_typicality"].fn(s, d)),
    "text_bm25_topk": (
        bm25_old, lambda s, d: REGISTRY["text_bm25_topk"].fn(s, d)),
    "bm25_self_retrieval_mrr": (None, None),   # filled in main (needs import)
    "er_entity_golden_records": (
        er_golden_r14, lambda s, d: REGISTRY["er_entity_golden_records"].fn(s, d)),
    "ivfpq_append_recall_drift": (
        lambda s, d: _patched_materialize_build(
            REGISTRY["ivfpq_append_recall_drift"].fn, s, d),
        lambda s, d: REGISTRY["ivfpq_append_recall_drift"].fn(s, d)),
    "neardup_transitivity_audit": (
        lambda s, d: _patched_materialize_build(
            REGISTRY["neardup_transitivity_audit"].fn, s, d),
        lambda s, d: REGISTRY["neardup_transitivity_audit"].fn(s, d)),
    "containment_prune_report": (
        lambda s, d: _patched_materialize_build(
            REGISTRY["containment_prune_report"].fn, s, d),
        lambda s, d: REGISTRY["containment_prune_report"].fn(s, d)),
    "containment_groupkfold_cc": (
        lambda s, d: groupkfold_with_cc(s, d, connected_components_r14),
        lambda s, d: groupkfold_with_cc(s, d, dedup_mod.connected_components)),
    "symspell_neighbor_pairs_customers": (
        symspell_old,
        lambda s, d: REGISTRY["symspell_neighbor_pairs_customers"].fn(s, d)),
}


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="ab-r15-changes",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def mrr_old(s, d):
        from spacex_data_pipeline_spark.operators.text import bm25_topk
        from spacex_data_pipeline_spark.queries import _MRR_QIDS

        return bm25_topk(_t(s, d, "documents"), list(_MRR_QIDS))

    PAIRS["bm25_self_retrieval_mrr"] = (
        mrr_old, lambda s, d: REGISTRY["bm25_self_retrieval_mrr"].fn(s, d))

    cal_pre = machine_calibration()

    def run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    for name, (old, new) in PAIRS.items():
        for fn in (old, new):
            try:
                fn(spark, "/root/testdata/sf0.001").write.format(
                    "noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                print("warmup fail", name, e, flush=True)

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
        "note": ("new side of shared-pass pairs rides the per-context "
                 "handle after pass 1 (sweep-amortized accounting, "
                 "disclosed in bench methodology)"),
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
    with open(os.path.join(REPO, "plans", "r15", "ab_r15_changes.json"), "w") as f:
        json.dump(out, f, indent=2)
    print("probes:", cal_pre.get("par_over_single"), cal_post.get("par_over_single"))
    spark.stop()


if __name__ == "__main__":
    main()
