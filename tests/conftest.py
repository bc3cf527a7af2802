from __future__ import annotations

import itertools
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# Headroom over the 16g default: the full suite runs ~4500 stages in
# one JVM; listener/state accumulation plus operator caches tipped
# 16g over twice (java.lang.OutOfMemoryError mid-suite).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from resume_jd_matcher_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns ``(result, number of
    Spark jobs it ran)``."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(groups)}"
        sc.setJobGroup(group, "counted call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
