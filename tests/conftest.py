from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from hephaestus_spark.session import get_session
from hephaestus_spark.sources import TABLES

SF_DIR = os.environ.get("HS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("hephaestus-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with the same table views the driver registers."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def spark_jobs(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and
    the number of Spark jobs it started from this thread."""
    sc = spark.sparkContext
    group = f"spark_jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
