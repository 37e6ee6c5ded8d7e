from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_datalake_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cds-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _group_job_ids(sc, action) -> list[int]:
    """Ids of the Spark jobs ``action()`` runs in this thread, read from
    the status tracker under a job group of its own."""
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def jobs(spark):
    """``jobs(action)``: how many Spark jobs ``action()`` runs."""
    return lambda action: len(_group_job_ids(spark.sparkContext, action))


@pytest.fixture
def job_names(spark):
    """``job_names(action)``: the names (call sites, such as ``parquet at
    …`` for a read's schema inference) of the Spark jobs ``action()``
    runs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return lambda action: [
        store.job(j).name() for j in _group_job_ids(sc, action)
    ]
