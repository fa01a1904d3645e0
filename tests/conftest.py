from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ekati_spark.metrics import tagged_jobs  # noqa: E402
from ekati_spark.session import get_spark  # noqa: E402

# The program's 32g default driver heap lets the suite's JVM grow past
# the physical memory of a 16 GB machine; 8g holds the whole suite.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ekati_tests", cores=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture()
def job_ids(spark):
    """``job_ids(fn)`` -> (fn(), ids of the Spark jobs it fired):
    attributed by job tag, read once the listener bus has delivered
    every job event to the status store."""
    return lambda fn: tagged_jobs(spark, fn)
