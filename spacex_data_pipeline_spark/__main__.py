"""Operational CLI — the reference's runnable surface, one binary.

The reference is driven from a shell: docker-compose brings up a daily
scheduler (docker-compose.yml:1-109, cadence spacex_api_dag.py:58), models
build with ``dbt run`` (README.md:92), and sanity checks run through psql
(README.md:87-103). A user switching engines expects the same three verbs,
so (VERDICT r1 "what's missing" #2):

    python -m spacex_data_pipeline_spark ingest --input landed.json --warehouse WH
    python -m spacex_data_pipeline_spark build  --input landed.json --warehouse WH
    python -m spacex_data_pipeline_spark query  fct_orders_by_year --sf-dir DIR
    python -m spacex_data_pipeline_spark list-queries

``ingest`` lands the raw snapshot (idempotent by default — the fix for the
reference's duplicating daily append); ``build`` runs the full
ingest → staging view → mart flow (the Airflow DAG + dbt run pair);
``query`` executes any registry entry (the psql check twin). Scheduling
stays external (cron/Airflow/systemd timer), exactly as it is for the
reference — the CLI is the unit a scheduler invokes.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections.abc import Callable, Sequence
from typing import Any


def _fetch_from(path: str | None) -> Callable[[], Sequence[dict[str, Any]]]:
    """Fixture-file fetch, or the live API when no --input is given
    (network-gated; the reference's requests.get twin)."""
    from .sources import rest_api

    if path is None:
        return rest_api.http_fetch

    def fetch() -> Sequence[dict[str, Any]]:
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    return fetch


def _bounded(kind: type, lo: float, hi: float | None = None) -> Callable[[str], Any]:
    """argparse ``type=`` for a number in [lo, hi]: a bad value is a
    usage error (exit 2) before any Spark work, not a failure inside a
    job that may already have overwritten the output."""

    def parse(text: str):
        v = kind(text)
        if not (v >= lo and (hi is None or v <= hi)):  # NaN fails too
            bound = f">= {lo}" if hi is None else f"in [{lo}, {hi}]"
            raise argparse.ArgumentTypeError(f"must be {bound}, got {text}")
        return v

    parse.__name__ = kind.__name__
    return parse


def main(argv: Sequence[str] | None = None, _spark=None) -> int:
    """CLI entry. ``_spark``: test hook — inject an existing session
    (which the CLI then does not stop) instead of building one."""
    p = argparse.ArgumentParser(
        prog="spacex_data_pipeline_spark",
        description="PySpark-native analytics engine: ingest / build / query",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="land the raw launches snapshot")
    pb = sub.add_parser("build", help="full pipeline: ingest -> staging -> mart")
    for sp in (pi, pb):
        sp.add_argument(
            "--input",
            default=None,
            help="landed JSON file with the API payload (default: live API fetch)",
        )
        sp.add_argument("--warehouse", required=True, help="warehouse root directory")
        sp.add_argument(
            "--mode",
            choices=["snapshot", "append"],
            default="snapshot",
            help="snapshot = idempotent overwrite (default); append reproduces "
            "the reference's duplicating daily append",
        )

    pq = sub.add_parser("query", help="run a registered query and print rows")
    pq.add_argument("name", help="registry entry name (see list-queries)")
    pq.add_argument("--sf-dir", default=None, help="fixture table directory")
    pq.add_argument("--limit", type=int, default=20, help="rows to print")

    pe = sub.add_parser(
        "explain", help="print a registered query's physical plan (EXPLAIN twin)"
    )
    pe.add_argument("name", help="registry entry name (see list-queries)")
    pe.add_argument("--sf-dir", default=None, help="fixture table directory")
    pe.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
        help="Spark explain mode",
    )
    pe.add_argument(
        "--analyze",
        action="store_true",
        help="EXPLAIN ANALYZE: execute the plan and print per-node "
        "runtime metrics (rows, shuffle bytes, spill, peak memory) "
        "plus a rollup summary",
    )

    pp = sub.add_parser(
        "prep-training",
        help="run the composed training-data prep and WRITE shard files: "
        "quality gate -> exact dedup -> decontaminate -> split -> "
        "shard-shuffle -> parquet partitioned by (split, shard)",
    )
    pp.add_argument("--sf-dir", default=None, help="fixture table directory")
    pp.add_argument("--out", required=True, help="output directory for shards")
    pp.add_argument(
        "--shards", type=_bounded(int, 1), default=8, help="training shards per split"
    )
    pp.add_argument(
        "--val-pct", type=_bounded(float, 0), default=0.01,
        help="validation split fraction",
    )
    pp.add_argument(
        "--test-pct", type=_bounded(float, 0), default=0.01,
        help="test split fraction (--val-pct + --test-pct <= 1)",
    )
    pp.add_argument(
        "--line-dedup",
        action="store_true",
        help="also remove duplicate lines corpus-wide (C4-style first-"
        "occurrence keep) after exact doc dedup; docs left with no lines "
        "are dropped",
    )
    pp.add_argument(
        "--span-dedup",
        action="store_true",
        help="also remove corpus-duplicated token 8-gram spans (exact-"
        "substring surgery, first-occurrence keep; note: output text is "
        "the normalized token stream); docs emptied by surgery are "
        "dropped",
    )
    pp.add_argument(
        "--containment-prune",
        action="store_true",
        help="also drop docs >=80%%-contained (word-3-shingle sets) in "
        "another surviving doc — keep-host/drop-fragment, mutual pairs "
        "keep the lower doc_id; runs after exact dedup and before "
        "line/span surgery",
    )
    pp.add_argument(
        "--containment-df-cap",
        type=_bounded(int, 1),
        default=None,
        metavar="N",
        help="with --containment-prune: drop shingles appearing in more "
        "than N docs from the candidate JOIN (broadcast anti-join; set "
        "sizes stay uncapped, so detected containment is a lower bound "
        "and capped-run survivors are a superset of the exact run's) — "
        "the hot-shingle escape hatch for boilerplate-heavy corpora; "
        "default None = exact",
    )
    pp.add_argument(
        "--typicality-tail-pct",
        type=_bounded(float, 0, 100),
        default=None,
        metavar="P",
        help="drop the P%% least corpus-typical docs by the trigram-LM "
        "score (the CCNet tail cut); the cutoff is a percentile of the "
        "post-dedup corpus",
    )
    pp.add_argument(
        "--model-filter",
        default=None,
        metavar="TARGET_SRC",
        help="apply the model-based curation gate: keep only docs whose "
        "corpus-fit language-classifier score AND DSIR affinity to "
        "TARGET_SRC are both positive (one shared hashed-feature pass; "
        "see model_curation_report for the per-source decision table)",
    )
    pp.add_argument(
        "--curriculum-phases",
        type=_bounded(int, 1),
        default=None,
        metavar="K",
        help="annotate every doc with a curriculum phase 1..K (global "
        "ascending-length NTILE via the two-phase prefix scan) so the "
        "trainer can consume short-first; shard layout is unchanged",
    )

    pc = sub.add_parser(
        "cap-audit",
        help="print the hot-shingle df-cap loss curve (exact recall "
        "cost per cap) so --containment-df-cap / the Jaccard cap is "
        "chosen from measured loss, not guessed; at production scale "
        "run it on a corpus sample",
    )
    pc.add_argument("--sf-dir", default=None, help="fixture table directory")
    pc.add_argument(
        "--caps",
        default="4,8,16,32,64",
        help="comma-separated df caps to sweep (default 4,8,16,32,64)",
    )
    pc.add_argument(
        "--threshold",
        type=float,
        default=0.2,
        help="Jaccard threshold defining the true pairs (default 0.2)",
    )

    px = sub.add_parser(
        "index-build",
        help="materialize the BM25 serving index (bucket-partitioned "
        "postings + stats) from the documents table",
    )
    px.add_argument("--sf-dir", default=None, help="fixture table directory")
    px.add_argument("--out", required=True, help="index output directory")

    ps = sub.add_parser(
        "search", help="BM25 query served from a persisted text index"
    )
    ps.add_argument("--index", required=True, help="index directory (index-build --out)")
    ps.add_argument("terms", nargs="+", help="query terms")
    ps.add_argument("--k", type=_bounded(int, 1), default=10, help="results to return")

    pu = sub.add_parser(
        "index-update",
        help="append a doc-id-range delta batch to a persisted text "
        "index (incremental: only the batch is tokenized)",
    )
    pu.add_argument("--sf-dir", default=None, help="fixture table directory")
    pu.add_argument("--index", required=True, help="index directory")
    pu.add_argument("--min-id", type=int, required=True, help="batch doc_id >= this")
    pu.add_argument("--max-id", type=int, default=None, help="batch doc_id < this")

    pd = sub.add_parser(
        "index-tombstone",
        help="logically delete doc ids from a persisted text index "
        "(served scores exactly match a rebuild without them)",
    )
    pd.add_argument("--index", required=True, help="index directory")
    pd.add_argument("ids", nargs="+", type=int, help="doc ids to delete")

    pk = sub.add_parser(
        "index-compact",
        help="physically reclaim a text index's tombstoned docs (their ids "
        "become re-addable)",
    )
    pk.add_argument("--index", required=True, help="index directory")

    sub.add_parser("list-queries", help="list registered query names")

    sub.add_parser(
        "ledger",
        help="print the driver-verification ledger (LEDGER.md) derived "
        "from the CORRECTNESS_r*.json artifacts",
    )

    pt = sub.add_parser(
        "tables", help="list warehouse tables (the psql \\dt check twin)"
    )
    pt.add_argument("--warehouse", required=True, help="warehouse root directory")
    pt.add_argument(
        "--db", default=None, help="restrict to one namespace (e.g. raw, analytics)"
    )

    args = p.parse_args(argv)
    if args.cmd == "prep-training" and args.val_pct + args.test_pct > 1:
        pp.error(
            f"--val-pct + --test-pct must be <= 1, got {args.val_pct} + {args.test_pct}"
        )

    # list-queries / ledger / tables need no Spark session
    if args.cmd == "list-queries":
        from .queries import REGISTRY

        for name, q in sorted(REGISTRY.items()):
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name}\t{kind}\t{','.join(q.tags)}")
        return 0

    if args.cmd == "ledger":
        from .ledger import main as ledger_main

        return ledger_main()

    if args.cmd == "tables":
        # The reference's sanity check is `\dt analytics.*` in psql
        # (README.md:103); the warehouse here is path-based namespaces of
        # parquet tables (plans/warehouse.py), so the listing is a
        # directory walk — a metadata operation that must not need a JVM.
        import os

        root = args.warehouse
        if not os.path.isdir(root):
            print(f"no warehouse at {root!r}", file=sys.stderr)
            return 2
        found = False
        for schema in sorted(os.listdir(root)):
            if args.db is not None and schema != args.db:
                continue
            schema_dir = os.path.join(root, schema)
            if not os.path.isdir(schema_dir):
                continue
            for table in sorted(os.listdir(schema_dir)):
                tdir = os.path.join(schema_dir, table)
                if os.path.isdir(tdir) and any(
                    f == "_SUCCESS" or f.endswith(".parquet")
                    for f in os.listdir(tdir)
                ):
                    print(f"{schema}.{table}")
                    found = True
        return 0 if found else 1

    from .session import build_session

    spark = _spark if _spark is not None else build_session(
        app_name=f"spacex-pipeline-{args.cmd}"
    )
    try:
        if args.cmd in ("ingest", "build"):
            from .plans.warehouse import Warehouse, run_spacex_pipeline
            from .sources import rest_api, sinks

            wh = Warehouse(args.warehouse)
            if args.cmd == "ingest":
                raw = rest_api.ingest(spark, _fetch_from(args.input))
                path = wh.path("raw", "spacex_launches")
                if args.mode == "append":
                    sinks.append(raw, path)
                else:
                    sinks.write_snapshot(raw, path)
                n = spark.read.schema(rest_api.RAW_SCHEMA).parquet(path).count()
                print(f"raw.spacex_launches <- {path} ({n} rows)")
            else:
                mart = run_spacex_pipeline(
                    spark, wh, fetch=_fetch_from(args.input), mode=args.mode
                )
                print(
                    f"analytics.fct_spacex_launches_by_year "
                    f"<- {wh.path('analytics', 'fct_spacex_launches_by_year')}"
                )
                mart.orderBy("year").show(100, truncate=False)
        elif args.cmd == "query":
            from . import catalog
            from .queries import REGISTRY, display_order

            if args.name not in REGISTRY:
                print(f"unknown query {args.name!r}; try list-queries", file=sys.stderr)
                return 2
            sf_dir = args.sf_dir or catalog.DEFAULT_SF_DIR
            q = REGISTRY[args.name]
            display_order(q.fn(spark, sf_dir), q.order_by).show(
                args.limit, truncate=False
            )
        elif args.cmd == "cap-audit":
            from . import catalog
            from .operators.dedup import df_cap_loss_curve

            caps = tuple(int(c) for c in args.caps.split(",") if c.strip())
            if not caps or any(c <= 0 for c in caps):
                print(f"invalid --caps {args.caps!r}", file=sys.stderr)
                return 2
            sf_dir = args.sf_dir or catalog.DEFAULT_SF_DIR
            curve = df_cap_loss_curve(
                catalog.table(spark, sf_dir, "documents"),
                threshold=args.threshold,
                caps=caps,
            )
            curve.orderBy("cap").show(len(caps), truncate=False)
        elif args.cmd == "prep-training":
            from pyspark.sql import functions as F

            # The end-to-end product of the training-data operator family:
            # every stage is the SAME code its standalone oracle-checked
            # query runs; this verb just composes them and writes files a
            # trainer reads (parquet partitioned by split/shard — the
            # shard-keyed layout shard_and_shuffle already partitions by,
            # so the write adds no extra exchange).
            from . import catalog
            from .operators.dedup import contamination_flags, exact_dedup_first
            from .operators.sampling import shard_and_shuffle, split_assign
            from .operators.text import quality_score, token_count

            sf_dir = args.sf_dir or catalog.DEFAULT_SF_DIR
            docs = catalog.table(spark, sf_dir, "documents")
            bench = docs.filter(F.col("doc_id") % 50 == 0)
            corpus = docs.filter(F.col("doc_id") % 50 != 0)

            qual = quality_score(corpus).select("doc_id", "quality")
            kept = (
                corpus.join(qual, "doc_id")
                .filter(F.col("quality") >= 0.5)
                .filter(token_count(F.col("text")) >= 30)
            )
            survivors = exact_dedup_first(kept)
            kept = kept.join(survivors, "doc_id")
            if args.containment_prune:
                # doc-level near-dup prune AFTER exact dedup (identical
                # docs are already collapsed, so containment only sees
                # genuine fragment/host pairs) and BEFORE the
                # sub-document stages (no point line-deduping a doc the
                # prune drops). Same keeper rule as the oracle-checked
                # containment_prune_report entry.
                from .operators.dedup import (
                    containment_dropped_ids,
                    containment_pairs,
                    materialize,
                )

                # --containment-df-cap N excludes shingles with df > N
                # from the candidate join (detected containment becomes
                # a lower bound, so the capped run keeps a SUPERSET of
                # the exact run's survivors — tests/test_cli.py pins the
                # nesting invariant); None = exact, the oracle mode.
                # r15: containment_dropped_ids self-joins cont (pair set
                # + reversed side), and exchange reuse never fires —
                # materialize the output-sized pair table once instead
                # of running the containment join twice (same fix as the
                # containment_prune_report entry).
                cont = materialize(
                    containment_pairs(
                        kept,
                        max_shingle_df=args.containment_df_cap,
                    ).select("doc_a", "doc_b")
                )
                kept = kept.join(
                    containment_dropped_ids(cont), "doc_id", "left_anti"
                )
            if args.line_dedup:
                # sub-document dedup AFTER doc-level (so re-delivered
                # whole docs never reach the line stage) and BEFORE
                # decontamination (flags should see the final text)
                from .operators.dedup import line_dedup_docs

                # n_kept counts blank lines too (always-kept structure),
                # so it cannot tell an emptied doc from a live one — gate
                # on surviving CONTENT lines (ADVICE r6)
                ld = line_dedup_docs(kept).filter(F.col("n_kept_nonblank") > 0)
                kept = kept.drop("text").join(
                    ld.select("doc_id", F.col("text_dedup").alias("text")),
                    "doc_id",
                )
            if args.span_dedup:
                # substring surgery runs LAST of the dedup ladder (doc →
                # line → span): each stage only sees text the coarser
                # stage already kept. Emptied docs (all tokens inside
                # non-owner duplicated spans) are dropped the same way
                # --line-dedup drops line-emptied docs.
                from .operators.dedup import duplicate_span_docs

                sd = duplicate_span_docs(kept).filter(F.trim(F.col("text_dedup")) != "")
                kept = kept.drop("text").join(
                    sd.select("doc_id", F.col("text_dedup").alias("text")),
                    "doc_id",
                )
            if args.typicality_tail_pct is not None:
                # CCNet-style LM tail cut, scored on the post-dedup text
                # (the text that would actually train). GK-sketch cutoff
                # is the audit-run shape; it rides as a broadcast 1-row
                # aggregate, no driver-side collect.
                from .operators.text import trigram_typicality

                typ = trigram_typicality(kept).select("doc_id", "typicality")
                cut = typ.agg(
                    F.percentile_approx(
                        "typicality", args.typicality_tail_pct / 100.0
                    ).alias("__cut")
                )
                kept = (
                    kept.join(typ, "doc_id")
                    .crossJoin(F.broadcast(cut))
                    .filter(F.col("typicality") >= F.col("__cut"))
                    .drop("typicality", "__cut")
                )
            if args.model_filter is not None:
                # model gate AFTER the dedup ladder (scores should see the
                # text that would train) and BEFORE decontamination: both
                # models are corpus-fit on the surviving docs themselves
                from .operators.text import model_scores

                ms = model_scores(kept, target_source=args.model_filter)
                kept = kept.join(
                    ms.filter(
                        (F.col("s_cls") > 0) & (F.col("s_dsir") > 0)
                    ).select("doc_id"),
                    "doc_id",
                )
            flags = contamination_flags(kept, bench)
            clean = kept.join(
                flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
            )
            split = split_assign(
                clean, "doc_id", val_pct=args.val_pct, test_pct=args.test_pct
            )
            sharded = shard_and_shuffle(split, "doc_id", n_shards=args.shards)
            out_cols = ["doc_id", "text", "lang", "source", "split", "shard", "pos"]
            if args.curriculum_phases is not None:
                # curriculum annotation rides the two-phase prefix scan
                # (same machinery as curriculum_order_docs): global
                # short-first rank over the FINAL kept text, phase =
                # arithmetic NTILE — two narrow shuffles, no global sort
                from .operators.relational import global_row_number, ntile_from_rank

                ranked = global_row_number(
                    sharded.withColumn("__len", F.length("text")),
                    grain=F.floor(F.col("__len") / F.lit(100)),
                    order=[F.col("__len"), F.col("doc_id")],
                    alias="__crn",
                    total_alias="__cn",
                )
                sharded = ranked.withColumn(
                    "phase",
                    ntile_from_rank(
                        F.col("__crn"), F.col("__cn"), args.curriculum_phases
                    ).cast("int"),
                ).drop("__len", "__crn", "__cn")
                out_cols.append("phase")
            (
                sharded.select(*out_cols)
                .write.mode("overwrite")
                .partitionBy("split", "shard")
                .parquet(args.out)
            )
            back = spark.read.parquet(args.out)
            per_split = {
                r.split: r.n
                for r in back.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            print(
                f"training shards <- {args.out} "
                f"(docs={sum(per_split.values())}, splits={per_split}, "
                f"shards={args.shards})"
            )
        elif args.cmd == "index-build":
            from . import catalog
            from .operators.text import persist_text_index

            sf_dir = args.sf_dir or catalog.DEFAULT_SF_DIR
            persist_text_index(catalog.table(spark, sf_dir, "documents"), args.out)
            n = spark.read.parquet(args.out + "/postings").count()
            print(f"text index <- {args.out} ({n} postings)")
        elif args.cmd == "search":
            from .operators.text import search_text_index

            search_text_index(spark, args.index, args.terms, k=args.k).show(
                args.k, truncate=False
            )
        elif args.cmd == "index-update":
            from pyspark.sql import functions as F

            from . import catalog
            from .operators.text import update_text_index

            sf_dir = args.sf_dir or catalog.DEFAULT_SF_DIR
            batch = catalog.table(spark, sf_dir, "documents").filter(
                F.col("doc_id") >= args.min_id
            )
            if args.max_id is not None:
                batch = batch.filter(F.col("doc_id") < args.max_id)
            n = batch.count()
            update_text_index(spark, batch, args.index)
            stats = spark.read.parquet(args.index + "/stats").collect()[0]
            print(
                f"index {args.index} += {n} docs "
                f"(now n_docs={stats.n_docs}, tot_tokens={stats.tot_tokens})"
            )
        elif args.cmd == "index-tombstone":
            from .operators.text import tombstone_text_index

            tombstone_text_index(spark, args.index, args.ids)
            print(f"index {args.index} -= {len(set(args.ids))} docs (tombstoned)")
        elif args.cmd == "index-compact":
            from .operators.text import compact_text_index

            n = compact_text_index(spark, args.index)
            print(f"index {args.index} compacted ({n} docs reclaimed)")
        elif args.cmd == "explain":
            # the plan-inspection loop this repo's own tuning used
            # (tests/test_plans.py asserts the plans; this verb shows them)
            from . import catalog
            from .queries import REGISTRY

            if args.name not in REGISTRY:
                print(f"unknown query {args.name!r}; try list-queries", file=sys.stderr)
                return 2
            sf_dir = args.sf_dir or catalog.DEFAULT_SF_DIR
            df = REGISTRY[args.name].fn(spark, sf_dir)
            if args.analyze:
                from .plans.metrics import (
                    format_metrics_tree,
                    metrics_summary,
                    run_with_metrics,
                )

                nodes = run_with_metrics(df)
                print(format_metrics_tree(nodes))
                print("-- summary --")
                for k, v in metrics_summary(nodes).items():
                    print(f"{k}: {v}")
            else:
                jvm = spark._jvm
                print(
                    df._jdf.queryExecution().explainString(
                        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            args.mode
                        )
                    )
                )
        return 0
    finally:
        if _spark is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
