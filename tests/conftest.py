from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quick_and_easy_vectordb_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("qev-tests", master="local[4]")
    yield s


def spark_jobs(spark, fn) -> int:
    """Run ``fn()`` under a fresh job group and return how many Spark
    jobs it started (drains the listener bus first, so a job that just
    finished is counted)."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture()
def chunks(spark):
    """FIXTURES.md §A deterministic unit fixture: hand-checkable dot
    products against query [1, 0.5, 0.25, 0] → scores 1.0/0.5/0.75/1.75
    plus a tie pair (chunk_ids 5,6) pinning the id-asc tiebreak."""
    rows = [
        (1, "d1", "a", [1.0, 0.0, 0.0, 0.0]),
        (2, "d1", "b", [0.0, 1.0, 0.0, 0.0]),
        (3, "d2", "c", [0.5, 0.5, 0.0, 0.0]),
        (4, "d2", "d", [1.0, 1.0, 1.0, 1.0]),
        (5, "d3", "tie1", [0.0, 2.0, 0.0, 0.0]),
        (6, "d3", "tie2", [0.0, 0.0, 4.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "chunk_id long, document_id string, chunk_text string, vector_embedding array<double>"
    )


QUERY4 = [1.0, 0.5, 0.25, 0.0]
