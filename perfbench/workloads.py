"""The benchmark's workloads.

Each workload is a closed loop with one client (this process): the next
call is sent only when the previous one returns. Entry lists are pinned as
literal registry names, so registry growth or deletions cannot silently
change a workload; a missing name fails the run before anything is timed.

A workload run has six phases:

1. the cold set-up: the JVM launch and a first SparkContext from
   ``session.build_session``;
2. one untimed pass that warms the JVM and checks every result;
3. set-up, repeated ``SETUPS`` times on the warm JVM: a fresh
   SparkContext plus the workload's preparation (``setup_s`` is the
   median);
4. one more untimed pass, checked like the timed ones: the first pass on
   a fresh set-up ran 30-50% slower than the next ones while the JIT
   compiles;
5. the timed loop: a fixed number of whole passes, ``--seconds`` over the
   nominal length of a pass ``pass_s``, so the timed work depends on the
   arguments only, never on the host's speed;
6. with tracing on, untraced and traced loops (A B B A) instead, whose
   per-layer numbers come from spans and from Spark's event log.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import check
import datagen
from tracing import EXEC_FIELDS, Tracer, jvm_pid, parse_event_log, proc_stats, rollup

from spacex_data_pipeline_spark import catalog, session
from spacex_data_pipeline_spark import queries as queries_mod
from spacex_data_pipeline_spark.operators import dedup
from spacex_data_pipeline_spark.plans import materialize, warehouse
from spacex_data_pipeline_spark.queries import REGISTRY
from spacex_data_pipeline_spark.sources import rest_api, sinks

SETUPS = 3
# the engine's 16 GB default is more than many hosts have
DRIVER_MEMORY = "2g"
PACKAGE = "spacex_data_pipeline_spark"

# One pass of the query workload, run on a fresh SparkContext: one entry
# per operator family (fixed per-query cost over nearly empty data), then
# the consumers of the near-duplicate shared passes in a fixed order, so
# the first consumer of each pass builds it and the later ones reuse it.
# Every entry is oracle-backed. Family entries that take over a second per
# call even on empty data, and consumers of a pass no other entry reuses,
# are left out so that a run fits the benchmark's time budget.
REGISTRY_COLD = (
    "fct_orders_by_year",
    "q1_pricing_summary",
    "window_top3_orders_per_customer",
    "dedup_exact_docs",
    # shared-pass consumers: the first builds the shingle postings, their
    # sizes and the containment pairs, the second reuses the postings and
    # sizes and builds nothing
    "containment_neardup_docs",
    "dedup_ngram_jaccard",
)

# Module-level builders of the shared passes in ``queries``. A call that
# materializes (a ``dedup.materialize`` span beneath it) is a build; any
# other call hands out the pass already built in this context.
SHARED_BUILDERS = (
    "_doc_shingle_postings",
    "_doc_shingle_sizes",
    "_doc_jaccard_pairs80",
    "_doc_containment_pairs80",
    "_doc_cc_components",
    "_doc_trigram_model",
    "_doc_bm25_tf",
    "_doc_chain_depths",
    "_cust_fuzzy_pairs",
    "_cust_cc_components",
)

# The reference appends the API's full launch list every day; its snapshot
# holds about 250 launches (SURVEY.md section 6). The benchmark's snapshot
# is 20 times that, so that data volume and not only per-job cost shows,
# and it grows by 5 launches a day, about the real rate of ~100 launches
# a year scaled the same way. The correction share, the upcoming window and
# a compaction every second day are assumed, not measured.
ELT_SNAPSHOT = 5_000
ELT_NEW_PER_DAY = 5
ELT_UPCOMING = 50
ELT_CORRECTIONS = 250
ELT_COMPACT_EVERY = 2


def pinned(names) -> tuple[str, ...]:
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        raise KeyError(f"pinned entries missing from REGISTRY: {missing}")
    return tuple(names)


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    """Options, work dir, session and tracer, plus the phases of a run."""

    # nominal seconds of one pass on a 4-core host; --seconds / pass_s
    # passes are timed
    pass_s = 6.0

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.passes = max(1, round(seconds / self.pass_s))
        self.trace = trace
        self.work = work
        self.eventlog = os.path.join(work, "eventlog")
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}
        self.session_builds: list[float] = []
        self.artifact: dict = {}
        self.eventlog_on = False
        self.java_version = None
        self.step_s: dict[str, dict[str, list[float]]] = {}
        self.io: dict[str, dict[str, list[tuple[int, int]]]] = {}

    restart_each_pass = False

    # -- phases, filled in by subclasses ------------------------------------

    def generate(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def warm_and_check(self) -> None:
        raise NotImplementedError

    def loop(self, tag: str, passes: int) -> tuple[list[float], list[float], float]:
        """Timed closed loop of ``passes`` whole passes: (op latencies,
        pass latencies, timed wall)."""
        raise NotImplementedError

    def instrument(self, tr: Tracer) -> None:
        pass

    def op_breakdown(self, tag: str) -> dict[str, float]:
        """Median seconds of each entry or step in the loop ``tag``."""
        raise NotImplementedError

    def uninstrument(self) -> None:
        pass

    def traced_layers(self, tag: str, ops: list[float], passes: list[float], wall: float) -> None:
        raise NotImplementedError

    def execute(self) -> dict[str, float]:
        phase = self.artifact.setdefault("phase_s", {})
        t_phase = time.perf_counter()
        self.generate()
        phase["generate"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        self.fresh_session()
        phase["cold_setup"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        self.warm_and_check()
        phase["warm_and_check"] = time.perf_counter() - t_phase
        setups = [self.setup() for _ in range(SETUPS)]
        phase["setups"] = setups
        phase["settle"] = self.loop("settle", 1)[2]
        if self.trace:
            return self.traced(setups)
        ops, passes, wall = self.loop("run", self.passes)
        phase["run_passes"] = passes
        self.artifact["op_s"] = self.op_breakdown("run")
        return self.end_to_end(setups, ops, wall)

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.fresh_session()
        self.prepare()
        return time.perf_counter() - t0

    def end_to_end(self, setups, ops, wall) -> dict[str, float]:
        self.artifact.update(ops_timed=len(ops))
        return {
            "setup_s": statistics.median(setups),
            "ops_per_s": len(ops) / wall,
            "op_p50_s": statistics.median(ops),
        }

    def loop_with(self, tag: str, eventlog: bool):
        """A timed loop of half the run's passes on a fresh context, with
        Spark's event log on or off."""
        self.eventlog_on = eventlog
        if not self.restart_each_pass:
            self.fresh_session()
        return self.loop(tag, max(1, self.passes // 2))

    def traced(self, setups) -> dict[str, float]:
        """Untraced, traced, traced, untraced loops (A B B A), so that a
        warm-up trend cancels out of the tracing overhead. The untraced
        loops run without the event log; per-layer numbers come from the
        two traced loops."""
        phase, L = self.artifact["phase_s"], self.layers
        L["session.start_s"] = self.session_builds[0]
        L["session.restart_s"] = statistics.median(self.session_builds[1 : 1 + SETUPS])
        a1 = self.loop_with("ref", eventlog=False)
        tr = self.start_tracing()
        jvm = jvm_pid(self.spark)
        h0 = proc_stats(jvm)
        t0 = time.perf_counter()
        try:
            b1 = self.loop_with("traced", eventlog=True)
            b2 = self.loop_with("traced", eventlog=True)
        finally:
            tr.restore()
            self.uninstrument()
        elapsed = time.perf_counter() - t0
        h1 = proc_stats(jvm)
        a2 = self.loop_with("ref", eventlog=False)
        ref_ops, ref_passes, ref_wall = a1[0] + a2[0], a1[1] + a2[1], a1[2] + a2[2]
        t_ops, t_passes, t_wall = b1[0] + b2[0], b1[1] + b2[1], b1[2] + b2[2]
        phase.update(ref_passes=ref_passes, traced_passes=t_passes)
        self.untraced_op_s = statistics.fmean(ref_ops)
        jvm_cpu = h1["jvm_cpu_s"] - h0["jvm_cpu_s"]
        py_cpu = h1["py_cpu_s"] - h0["py_cpu_s"]
        L["host.jvm_cpu_s"] = jvm_cpu / len(t_ops)
        L["host.py_cpu_s"] = py_cpu / len(t_ops)
        L["host.core_util"] = (jvm_cpu + py_cpu) / (elapsed * session.default_parallelism())
        L["host.peak_rss_mb"] = h1["peak_rss_mb"]
        L["trace.overhead_ratio"] = 1.0 - (len(t_ops) / t_wall) / (len(ref_ops) / ref_wall)
        metrics = self.end_to_end(setups, ref_ops, ref_wall)
        self.traced_layers("traced", t_ops, t_passes, t_wall)
        return metrics

    # -- session -----------------------------------------------------------

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.debug.maxToStringFields": "2000",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.eventlog_on:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def fresh_session(self):
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.build_session(app_name="perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_builds.append(time.perf_counter() - t0)
        if self.java_version is None:
            self.java_version = self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # -- tracing -----------------------------------------------------------

    def start_tracing(self) -> Tracer:
        tr = Tracer(PACKAGE)

        def catalog_group():
            # footer jobs run by catalog.table land in their own sub-group
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", f"{prev}/catalog")
            return prev

        def catalog_group_restore(span, prev):
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev)

        tr.wrap_everywhere(catalog, "table", before=catalog_group, after=catalog_group_restore)
        tr.wrap_everywhere(dedup, "materialize")
        tr.wrap_everywhere(rest_api, "normalize")
        for fn in ("append", "upsert_by_key", "compact", "dedup_on_read"):
            tr.wrap_everywhere(sinks, fn)
        tr.wrap_everywhere(materialize, "materialize_table")
        tr.wrap_everywhere(warehouse, "run_spacex_pipeline")

        for name in SHARED_BUILDERS:
            tr.wrap_everywhere(queries_mod, name, name=f"shared.{name.lstrip('_')}")
        self.instrument(tr)
        self.tracer = tr
        return tr

    def exec_rollup(self, pred, per: int) -> dict[str, float]:
        """Stop the session (which closes the event log), parse it and store
        ``exec.*`` for the groups ``pred`` selects, per operation."""
        self.stop()
        self.groups = parse_event_log(self.eventlog)
        ex = rollup(self.groups, pred)
        for k in EXEC_FIELDS:
            self.layers[f"exec.{k}"] = ex[k] / per
        return ex


# --------------------------------------------------------------------------
# Query workload
# --------------------------------------------------------------------------


class RegistryCold(Workload):
    """``REGISTRY_COLD`` run in whole passes over sf0.001 data, each pass on
    a fresh SparkContext; one operation is one DataFrame construction plus
    a ``noop`` write."""

    sf = 0.001
    restart_each_pass = True

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.names = pinned(REGISTRY_COLD)
        self.plain_fns = {n: REGISTRY[n].fn for n in self.names}
        self.fns = dict(self.plain_fns)
        self.sf_dir = os.path.join(self.work, f"sf{self.sf}")
        self.calls: list[dict] = []

    def generate(self) -> None:
        datagen.write_star_schema(self.sf_dir, self.seed, self.sf)

    def prepare(self) -> None:
        for t in catalog.TABLES:
            catalog.table(self.spark, self.sf_dir, t)

    def call(self, name: str, tag: str) -> dict:
        self.group(f"{tag}:{name}#build")
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        self.group(f"{tag}:{name}#exec")
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        return {"name": name, "tag": tag, "build_s": t1 - t0, "exec_s": t3 - t2}

    def warm_and_check(self) -> None:
        """Untimed: build each entry, with tracing on force Catalyst
        analysis, optimization and physical planning, then compare the
        collected result with the entry's DuckDB oracle."""
        con = check.duck(self.sf_dir, catalog.TABLES)
        plan_s = []
        try:
            for name in self.names:
                self.group(f"warm:{name}")
                what = name
                try:
                    df = self.fns[name](self.spark, self.sf_dir)
                    if self.trace:
                        t0 = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        plan_s.append(time.perf_counter() - t0)
                    ok = check.spark_hash(df) == check.oracle_hash(con, REGISTRY[name].oracle)
                except Exception as e:  # a raising entry is a failed operation
                    ok, what = False, f"{name}: {type(e).__name__}: {str(e)[:200]}"
                self.record(ok, what)
        finally:
            con.close()
        self.plan_s = statistics.fmean(plan_s) if plan_s else 0.0

    def loop(self, tag: str, passes: int):
        first = len(self.calls)
        took = []
        t_start = time.perf_counter()
        for _ in range(passes):
            p0 = time.perf_counter()
            if self.restart_each_pass:
                self.fresh_session()
            for name in self.names:
                self.calls.append(self.call(name, tag))
            took.append(time.perf_counter() - p0)
        ops = [c["build_s"] + c["exec_s"] for c in self.calls[first:]]
        return ops, took, time.perf_counter() - t_start

    def op_breakdown(self, tag: str) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for c in self.calls:
            if c["tag"] == tag:
                by.setdefault(c["name"], []).append(c["build_s"] + c["exec_s"])
        return {k: statistics.median(v) for k, v in by.items()}

    def instrument(self, tr: Tracer) -> None:
        self.fns = {n: tr.wrap(fn, f"query.{n}") for n, fn in self.plain_fns.items()}

    def uninstrument(self) -> None:
        self.fns = dict(self.plain_fns)

    def traced_layers(self, tag, ops, passes, wall) -> None:
        tr, L = self.tracer, self.layers
        calls = [c for c in self.calls if c["tag"] == tag]
        n = len(calls)
        ex = self.exec_rollup(lambda g: g.startswith(f"{tag}:") and g.endswith("#exec"), n)
        g = self.groups
        cat_calls, cat_s = tr.totals("catalog.table")
        L["catalog.table_calls"] = cat_calls / n
        L["catalog.table_s"] = cat_s / n
        L["catalog.footer_jobs"] = rollup(g, lambda k: k.startswith(f"{tag}:") and k.endswith("/catalog"))["jobs"] / n
        build_s = statistics.fmean(c["build_s"] for c in calls)
        exec_s = statistics.fmean(c["exec_s"] for c in calls)
        L["queries.build_s"] = build_s
        L["queries.build_jobs"] = rollup(g, lambda k: k.startswith(f"{tag}:") and "#build" in k)["jobs"] / n
        L["queries.build_share"] = build_s / (build_s + exec_s)
        L["plan.s"] = self.plan_s
        L["exec.s"] = exec_s
        L["exec.parallelism"] = ex["task_s"] / n / exec_s
        L["trace.split_err_ratio"] = abs(build_s + exec_s - self.untraced_op_s) / self.untraced_op_s
        self.shared_layers(len(passes))
        per_query: dict[str, dict] = {}
        for c in calls:
            q = per_query.setdefault(c["name"], {"calls": 0, "build_s": 0.0, "exec_s": 0.0})
            q["calls"] += 1
            q["build_s"] += c["build_s"]
            q["exec_s"] += c["exec_s"]
        for name, q in per_query.items():
            b = rollup(g, lambda k, name=name: k.startswith(f"{tag}:{name}#build"))
            e = rollup(g, lambda k, name=name: k == f"{tag}:{name}#exec")
            q["build_jobs"] = b["jobs"]
            q.update({f"exec_{k}": v for k, v in e.items()})
        self.artifact["per_query"] = per_query

    def _ancestor(self, i: int, prefix: str, among=None):
        spans = self.tracer.spans
        p = spans[i].parent
        while p is not None:
            if spans[p].name.startswith(prefix) and (among is None or p in among):
                return p
            p = spans[p].parent
        return None

    def shared_layers(self, passes_n: int) -> None:
        """Each shared pass's one-time build seconds and the consumer that
        paid for it; a consumer call is one that reached a shared pass, and
        it reused if it built none."""
        tr = self.tracer
        materialized = set()
        for s in tr.spans:
            if s.name == "dedup.materialize":
                p = s.parent
                while p is not None:
                    materialized.add(p)
                    p = tr.spans[p].parent
        paid: dict[int, bool] = {}
        builds = []
        for i, s in enumerate(tr.spans):
            if not s.name.startswith("shared."):
                continue
            q = self._ancestor(i, "query.")
            built = i in materialized
            if q is not None:
                paid[q] = paid.get(q, False) or built
            if built:
                within = self._ancestor(i, "shared.", among=materialized)
                builds.append(
                    {
                        "pass": s.name[len("shared."):],
                        "build_s": round(s.end - s.start, 4),
                        "self_s": round(tr.self_time(i), 4),
                        "paid_by": tr.spans[q].name[len("query."):] if q is not None else None,
                        # a pass built while building another one
                        "within": tr.spans[within].name[len("shared."):] if within is not None else None,
                    }
                )
        reused = sum(1 for v in paid.values() if not v)
        L = self.layers
        L["shared.builds"] = len(builds) / passes_n
        # nested builds are part of their enclosing build's seconds
        L["shared.build_s"] = sum(b["build_s"] for b in builds if b["within"] is None) / passes_n
        L["shared.reuse_ratio"] = reused / len(paid) if paid else 0.0
        self.artifact["shared_builds"] = builds
        self.artifact["shared_reuse"] = {"consumer_calls": len(paid), "reused": reused}


# --------------------------------------------------------------------------
# ELT daily append
# --------------------------------------------------------------------------


class EltDailyAppend(Workload):
    """The reference flow as a write workload; one operation, and one pass,
    is one day: ``run_spacex_pipeline(mode="append")``, an upsert of a
    correction batch, and a read-back through ``dedup_on_read`` and the
    mart, followed on every ``ELT_COMPACT_EVERY``-th day by a compaction.
    Checks run between the timed steps and are not timed."""

    pass_s = 4.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.wh_root = os.path.join(self.work, "warehouse")
        self.wh = warehouse.Warehouse(self.wh_root)
        self.raw = self.wh.path("raw", "spacex_launches")
        self.mart = self.wh.path("analytics", "fct_spacex_launches_by_year")

    def prepare(self) -> None:
        shutil.rmtree(self.wh_root, ignore_errors=True)
        os.makedirs(self.wh_root)
        self.keys: set[str] = set()
        self.records: dict[str, list[int]] = {}
        self.day = 0

    def _timed(self, tag: str, step: str, fn):
        self.group(f"{tag}:{step}")
        before = _dir_files(self.wh_root) if tag == "traced" else None
        t0 = time.perf_counter()
        out = fn()
        took = time.perf_counter() - t0
        self.group(f"{tag}:check")  # jobs of the untimed checks that follow
        self.step_s.setdefault(tag, {}).setdefault(step, []).append(took)
        if before is not None:
            after = _dir_files(self.wh_root)
            new = [b for p, b in after.items() if before.get(p) != b]
            self.io.setdefault(tag, {}).setdefault(step, []).append((len(new), sum(new)))
        return out, took

    def day_cycle(self, tag: str) -> float:
        """One day; returns its timed seconds."""
        spark, d = self.spark, self.day
        self.day += 1
        payload = datagen.launch_snapshot(self.seed, d, ELT_SNAPSHOT, ELT_NEW_PER_DAY, ELT_UPCOMING)
        fixes = datagen.correction_batch(self.seed, d, payload, ELT_CORRECTIONS)
        self.keys.update(r["id"] for r in payload)
        self.records.setdefault(tag, []).append(len(payload) + len(fixes))
        stamp = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)

        _, t_pipe = self._timed(
            tag,
            "pipeline",
            lambda: warehouse.run_spacex_pipeline(spark, self.wh, lambda: payload, load_ts=stamp, mode="append"),
        )
        cols = ["year", "launches", "successes", "failures", "success_rate_pct"]
        got = check.row_hash(cols, [tuple(r[c] for c in cols) for r in spark.read.parquet(self.mart).collect()])
        self.record(got == check.expected_mart(self.raw), f"mart on day {d}")

        def upsert():
            df = rest_api.normalize(spark, fixes, load_ts=stamp + dt.timedelta(hours=1))
            return sinks.upsert_by_key(spark, df, self.raw, "launch_id")

        _, t_up = self._timed(tag, "upsert", upsert)

        def read_back():
            raw = spark.read.schema(rest_api.RAW_SCHEMA).parquet(self.raw)
            live = sinks.dedup_on_read(raw, "launch_id").count()
            spark.read.parquet(self.mart).collect()
            return live

        live, t_read = self._timed(tag, "read_back", read_back)
        self.record(live == len(self.keys), f"dedup_on_read on day {d}: {live} rows, {len(self.keys)} keys")
        return t_pipe + t_up + t_read

    def compact(self, tag: str) -> float:
        return self._timed(tag, "compact", lambda: sinks.compact(self.spark, self.raw, target_rows_per_file=50_000))[1]

    def warm_and_check(self) -> None:
        self.prepare()
        self.day_cycle("warm")
        self.compact("warm")

    def loop(self, tag: str, passes: int):
        ops: list[float] = []
        took: list[float] = []
        for _ in range(passes):
            compacts = (self.day + 1) % ELT_COMPACT_EVERY == 0
            t = self.day_cycle(tag)
            ops.append(t)
            took.append(t + (self.compact(tag) if compacts else 0.0))
        return ops, took, sum(took)

    def op_breakdown(self, tag: str) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.step_s.get(tag, {}).items()}

    def traced_layers(self, tag, ops, passes, wall) -> None:
        tr, L, n = self.tracer, self.layers, len(ops)
        norm_s = tr.totals("rest_api.normalize")[1]
        L["ingest.normalize_s"] = norm_s / n
        L["ingest.rows_per_s"] = sum(self.records[tag]) / norm_s
        L["sinks.append_s"] = tr.totals("sinks.append")[1] / n
        steps, io = self.step_s[tag], self.io[tag]
        L["sinks.upsert_s"] = statistics.fmean(steps["upsert"])
        L["sinks.read_back_s"] = statistics.fmean(steps["read_back"])
        L["sinks.compact_s"] = statistics.fmean(steps["compact"])
        written = sum(b for v in io.values() for _, b in v)
        appended = sum(b for _, b in io["pipeline"])
        L["sinks.bytes_written"] = written / n
        L["sinks.files_written"] = sum(f for v in io.values() for f, _ in v) / n
        L["sinks.write_amp"] = written / appended
        L["plans.pipeline_s"] = tr.totals("warehouse.run_spacex_pipeline")[1] / n
        L["plans.materialize_table_s"] = tr.totals("materialize.materialize_table")[1] / n
        # space amplification, measured after the last cycle and not timed
        raw_bytes = sum(_dir_files(self.raw).values())
        live = os.path.join(self.work, "live_compact")
        raw = self.spark.read.schema(rest_api.RAW_SCHEMA).parquet(self.raw)
        sinks.dedup_on_read(raw, "launch_id").coalesce(1).write.mode("overwrite").parquet(live)
        L["sinks.space_amp"] = raw_bytes / sum(_dir_files(live).values())
        ex = self.exec_rollup(lambda k: k.startswith(f"{tag}:") and k != f"{tag}:check", n)
        L["exec.s"] = wall / n
        L["exec.parallelism"] = ex["task_s"] / wall
        self.artifact["steps_s"] = self.op_breakdown(tag)
        self.artifact["records_per_day"] = self.records[tag]


WORKLOADS = {
    "registry_cold_sf0.001": RegistryCold,
    "elt_daily_append": EltDailyAppend,
}
