from __future__ import annotations

import itertools
import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_DIR)

# Spark's Python workers import UDF closures by module; make the repo and
# tests dirs importable in the worker processes too.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [p for p in (_REPO_DIR, _TESTS_DIR, os.environ.get("PYTHONPATH")) if p]
)

from seoul_big_data_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn's result, the number of Spark jobs it
    launched), counted through a job group as perfbench counts them."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(seq)}"
        sc.setJobGroup(group, group, False)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
