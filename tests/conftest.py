from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The engine's default driver heap is half of physical memory (at most
# 16g). The suite runs child JVMs beside its own (CLI and schema-memo
# tests), and its data (sf0.001-sf0.01) fits a 4 GB heap, so it caps every
# JVM it starts at 4g; a heap grown into the whole host was OOM-killed
# partway through the suite.
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
