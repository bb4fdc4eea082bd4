from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The engine's 16 GB default driver heap is as large as a 16 GB host: over a
# whole suite the test JVM grows into it until the kernel's OOM killer ends
# it, and every later test fails on a refused connection. The suite's data
# (sf0.001-sf0.01) fits a 4 GB heap; CLI tests' child JVMs inherit this too.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from spacex_data_pipeline_spark.session import build_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="spacex-data-pipeline-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
