from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from acuvate_spark.session import get_spark

    s = get_spark("acuvate-tests", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def persisted_ids(spark) -> set[int]:
    """ids of every RDD the session has persisted: ``.persist()``
    blocks and ``localCheckpoint`` RDDs alike."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
