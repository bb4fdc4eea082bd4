#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload registry_cold_sf0.001 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout: the engine package is imported from the
directory above this file, and everything the run writes goes under
``.perfbench_work/`` there. The last line of stdout is

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

with every end-to-end metric when ``--trace 0`` and every per-layer metric
when ``--trace 1``. With tracing on, the spans, the per-query event-log
roll-up and the shared-pass builds are written to
``.perfbench_work/<workload>.trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (unit, better[, bound]); BENCHMARK.json lists the same metrics
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.restart_s": ("s", "lower"),
    "catalog.table_calls": ("count/op", "lower"),
    "catalog.table_s": ("s/op", "lower"),
    "catalog.footer_jobs": ("count/op", "lower"),
    "queries.build_s": ("s/op", "lower"),
    "queries.build_jobs": ("count/op", "lower"),
    "queries.build_share": ("ratio", "lower"),
    "plan.s": ("s/op", "lower"),
    "exec.s": ("s/op", "lower"),
    "exec.jobs": ("count/op", "lower"),
    "exec.stages": ("count/op", "lower"),
    "exec.tasks": ("count/op", "lower"),
    "exec.task_s": ("s/op", "lower"),
    "exec.cpu_s": ("s/op", "lower"),
    "exec.gc_s": ("s/op", "lower"),
    "exec.shuffle_read_bytes": ("B/op", "lower"),
    "exec.shuffle_write_bytes": ("B/op", "lower"),
    "exec.spill_bytes": ("B/op", "lower"),
    "exec.parallelism": ("ratio", "higher"),
    "shared.builds": ("count/pass", "lower"),
    "shared.build_s": ("s/pass", "lower"),
    "shared.reuse_ratio": ("ratio", "higher"),
    "ingest.normalize_s": ("s/op", "lower"),
    "ingest.rows_per_s": ("1/s", "higher"),
    "sinks.append_s": ("s/op", "lower"),
    "sinks.upsert_s": ("s/op", "lower"),
    "sinks.compact_s": ("s", "lower"),
    "sinks.read_back_s": ("s/op", "lower"),
    "sinks.bytes_written": ("B/op", "lower"),
    "sinks.files_written": ("count/op", "lower"),
    "sinks.write_amp": ("ratio", "lower"),
    "sinks.space_amp": ("ratio", "lower"),
    "plans.pipeline_s": ("s/op", "lower"),
    "plans.materialize_table_s": ("s/op", "lower"),
    "host.jvm_cpu_s": ("s/op", "lower"),
    "host.py_cpu_s": ("s/op", "lower"),
    "host.core_util": ("ratio", "higher"),
    "host.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.split_err_ratio": ("ratio", "lower"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def environment(wl) -> dict:
    """Where the run happened: cores, parallelism, memory and versions."""
    import platform

    import pyspark
    import workloads

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": workloads.DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "java": wl.java_version,
        "python": platform.python_version(),
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no perf-data files from the launcher JVM outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
        try:
            e2e = wl.execute()
        finally:
            wl.stop()
            shutdown_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = {k: wl.layers.get(k, 0.0) for k in PER_LAYER}
        units = {k: u for k, (u, _) in PER_LAYER.items()}
        with open(os.path.join(base, f"{args.workload}.trace.json"), "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "environment": environment(wl),
                    "layers": values,
                    "untraced": e2e,
                    **wl.artifact,
                    "spans": wl.tracer.dump() if wl.tracer else [],
                },
                f,
                indent=1,
            )
    else:
        values = e2e
        units = {k: v[0] for k, v in END_TO_END.items()}
    for what in wl.failures:
        print(f"check failed: {what}", file=sys.stderr)
    print(json.dumps({k: v for k, v in wl.artifact.items() if k not in ("per_query", "shared_builds")}), file=sys.stderr)
    out = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
