"""session.build_session: env-knob validation and prompt context stop."""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import time
import types

import pytest

from spacex_data_pipeline_spark import session

# -- env knobs --------------------------------------------------------------


@pytest.mark.parametrize("raw", ["abc", "0", "-2", "1.5", ""])
def test_cpus_knob_rejects_non_positive_integers(monkeypatch, raw):
    """A malformed SPARK_GRAFT_CPUS raises a ValueError naming the
    variable and the value, before build_session reaches Spark."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_CPUS.*{raw!r}"):
        session.default_parallelism()
    monkeypatch.setattr(session, "SparkSession", None)  # no JVM may start
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.build_session()


def test_cpus_knob_reads_integers_and_defaults_to_the_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.default_parallelism() == (os.cpu_count() or 4)


def test_bench_calibration_reads_cpus_through_the_session(monkeypatch):
    """bench.py sizes its calibration pool with session.default_parallelism,
    so it rejects the same values."""
    import bench

    monkeypatch.setattr(bench, "_burn", lambda n: 0)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS.*'0'"):
        bench.machine_calibration()


@pytest.mark.parametrize("raw", ["lots", "4gb", "4 g", "-1g", "g", "1.5g"])
def test_driver_mem_knob_rejects_malformed_values(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_DRIVER_MEM.*{raw!r}"):
        session.driver_memory()
    monkeypatch.setattr(session, "SparkSession", None)  # no JVM may start
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.build_session()


def test_driver_mem_knob_accepts_jvm_memory_strings(monkeypatch):
    for raw in ("4g", "512m", "1048576k", "2G", "1t", "1073741824"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
        assert session.driver_memory() == raw
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "")
    assert session.driver_memory() == session.default_driver_memory()
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.driver_memory() == session.default_driver_memory()


# -- prompt stop --------------------------------------------------------------


@pytest.mark.parametrize("unix", [True, False], ids=["unix", "tcp"])
def test_pinned_accumulator_server_has_the_wrapped_shape(tmp_path, capsys, unix):
    """Guard for PySpark upgrades: the pinned PySpark's accumulator server
    is the socketserver shape ``_prompt_stop`` wraps, and the wrapped
    shutdown returns promptly both from ``serve_forever``'s poll and from
    the update handler's poll on an open connection, without a handler
    traceback. If this fails, the wrapper has gone inert and every
    context stop waits 0.5-1 s again."""
    from pyspark import accumulators
    from pyspark.serializers import write_int

    token = "guard-token"
    server = accumulators._start_update_server(
        token, unix, str(tmp_path / "acc.sock") if unix else None
    )
    session._prompt_stop(types.SimpleNamespace(_accumulatorServer=server))
    assert "shutdown" in vars(server), "accumulator server shape changed"

    family = socket.AF_UNIX if unix else socket.AF_INET
    with socket.socket(family, socket.SOCK_STREAM) as jvm:
        jvm.settimeout(5)
        jvm.connect(server.server_address)
        if not unix:
            jvm.sendall(token.encode())
        with jvm.makefile("wb") as w:
            write_int(0, w)  # an empty batch of updates, as the JVM sends
        assert jvm.recv(1) == b"\x01"  # acked: the handler now polls
        time.sleep(0.1)  # let the handler enter its select
        t0 = time.perf_counter()
        server.shutdown()
        took = time.perf_counter() - t0
    assert took < 0.25, f"shutdown with an open connection took {took:.3f}s"
    assert "Exception occurred" not in capsys.readouterr().err
    if unix:
        assert not os.path.exists(server.server_address)

    idle = accumulators._start_update_server(
        token, unix, str(tmp_path / "idle.sock") if unix else None
    )
    session._prompt_stop(types.SimpleNamespace(_accumulatorServer=idle))
    time.sleep(0.05)  # let serve_forever enter its select
    t0 = time.perf_counter()
    idle.shutdown()
    took = time.perf_counter() - t0
    assert took < 0.25, f"idle shutdown took {took:.3f}s"


def test_prompt_stop_leaves_an_unexpected_server_alone():
    class Server:
        def shutdown(self):
            pass

    server = Server()
    session._prompt_stop(types.SimpleNamespace(_accumulatorServer=server))
    assert vars(server) == {}
    session._prompt_stop(types.SimpleNamespace())  # no server at all


# Run in a child process: the shared test session cannot be stopped.
_STOP_PROBE = r"""
import json, sys, time
from spacex_data_pipeline_spark.session import build_session

conf = {"spark.python.unix.domain.socket.enabled": sys.argv[1]}
out = {"trivial_s": [], "acc_s": [], "acc_exact": []}
for _ in range(5):
    s = build_session(app_name="stop-probe", extra_conf=conf)
    s.range(10).count()
    t0 = time.perf_counter()
    s.stop()
    out["trivial_s"].append(time.perf_counter() - t0)

    s = build_session(app_name="stop-probe", extra_conf=conf)
    sc = s.sparkContext
    acc = sc.accumulator(0)
    sc.parallelize(range(1000), 4).foreach(acc.add)
    out["acc_exact"].append(acc.value == sum(range(1000)))
    server = sc._accumulatorServer
    wrapped = server.shutdown
    build_session(app_name="stop-probe", extra_conf=conf)  # same live context
    out["wrapped_once"] = (
        server.shutdown is wrapped
        and wrapped.__wrapped__.__func__ is type(server).shutdown
    )
    t0 = time.perf_counter()
    s.stop()
    out["acc_s"].append(time.perf_counter() - t0)

s = build_session(app_name="stop-probe", extra_conf=conf)
out["after_stop_rows"] = s.range(7).count()
s.stop()
print(json.dumps(out))
"""


@pytest.mark.parametrize("unix", ["true", "false"])
def test_context_stop_is_prompt(tmp_path, unix):
    """A build_session context stops without waiting out PySpark's
    accumulator-server polls: under 0.25 s after a trivial job (0.5 s
    ``serve_forever`` poll, unwrapped 0.2-0.5 s) and after a Python
    accumulator job (1 s handler poll, unwrapped about 1 s), with exact
    accumulator values, no handler traceback, one wrapper per context and
    a working context after the stop."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", _STOP_PROBE, unix],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    assert "Exception occurred during processing of request" not in run.stderr
    assert all(got["acc_exact"])
    assert got["wrapped_once"]
    assert got["after_stop_rows"] == 7
    assert max(got["trivial_s"]) < 0.25, got["trivial_s"]
    assert max(got["acc_s"]) < 0.25, got["acc_s"]


def test_build_session_turns_off_call_site_capture(spark):
    """PySpark 4 records a Python call site for every Column function
    unless the session turns it off; the flag is read once per process."""
    from pyspark.errors import utils
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("x")
    assert utils.is_debugging_enabled() is False
