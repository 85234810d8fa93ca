from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import duckdb
import pytest
from pyspark.sql.classic.dataframe import DataFrame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_movie_recommendation_and_customer_segmentation_spark import get_spark
from big_data_movie_recommendation_and_customer_segmentation_spark.sources import TABLES

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bdmrcs-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def unpinned(monkeypatch):
    """Context manager for plan asserts: while it is open every
    ``localCheckpoint`` returns its input, so a DataFrame built inside
    keeps its whole lineage instead of a ``Scan ExistingRDD`` pin.
    Wrap only the call that builds the asserted plan — never an index
    build (its eager checkpoints must run) — and collect outside."""

    @contextmanager
    def scope():
        with monkeypatch.context() as m:
            m.setattr(DataFrame, "localCheckpoint", lambda self, *a, **k: self)
            yield

    return scope


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn()`` runs, counted
    through a job group of their own."""
    import uuid

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"job-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


class _RegistryFrames(dict):
    """name -> the registry query's DataFrame at sf0.001, built on
    first access and kept for the session."""

    def __init__(self, spark):
        super().__init__()
        self.spark = spark

    def __missing__(self, name):
        from big_data_movie_recommendation_and_customer_segmentation_spark.plans import QUERY_REGISTRY

        df = self[name] = QUERY_REGISTRY[name](self.spark, "/root/testdata/sf0.001")
        return df


@pytest.fixture(scope="session")
def registry_frames(spark):
    """Registry query frames shared by the plan-lint sweep and the
    gated flat-schema check, so no query plan is built twice."""
    return _RegistryFrames(spark)


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duckdb(sf_dir)
    yield con
    con.close()
