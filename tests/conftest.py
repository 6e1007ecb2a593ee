"""Shared test fixtures: one SparkSession per test run, plus a DuckDB
connection with the testdata views registered (mirrors the driver's oracle
harness)."""

from __future__ import annotations

import duckdb
import pytest

from redix_stream_spark.catalog import TABLES, table_path
from redix_stream_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "redix-stream-spark-tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={
            # static conf — must be set at session creation (bucketing tests
            # create catalog tables and must not litter the repo).
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; returns its result and the
    ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_DIR)
    yield con
    con.close()
