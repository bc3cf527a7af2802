from __future__ import annotations

import itertools
import os
import random

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# Headroom over the 16g default: the full suite runs ~4500 stages in
# one JVM; listener/state accumulation plus operator caches tipped
# 16g over twice (java.lang.OutOfMemoryError mid-suite).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


def physical_plan(df) -> str:
    """The executed physical plan of ``df`` as text, for plan-shape
    assertions."""
    return df._jdf.queryExecution().executedPlan().toString()


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


@pytest.fixture
def spark_route(monkeypatch):
    """``spark_route()`` zeroes every driver row limit
    (``sources.io.DRIVER_LIMITS``) for the rest of the test, so each
    size-routed operator called after it takes its Spark route; a probe
    side of any size is then over its limit."""
    from resume_jd_matcher_spark.sources.io import DRIVER_LIMITS

    def force():
        for name in DRIVER_LIMITS:
            monkeypatch.setitem(DRIVER_LIMITS, name, 0)

    return force


_SYNTH_VOCAB = [f"tok{i:03d}" for i in range(400)]


def _gen_row(seed: int, doc_id: int) -> tuple[int, str]:
    """One ``(doc_id, text)`` row, a pure function of (seed, doc_id)."""
    # near-dup structure: ids with doc_id % 10 == 9 re-generate the
    # previous id's token stream and drop ~10% of tokens
    base_id = doc_id - 1 if doc_id % 10 == 9 and doc_id > 0 else doc_id
    rng = random.Random(seed * 1_000_003 + base_id)
    toks = rng.choices(_SYNTH_VOCAB, k=rng.randint(30, 160))
    if base_id != doc_id:
        drop = random.Random(seed * 7_000_003 + doc_id)
        toks = [t for t in toks if drop.random() > 0.1]
    return doc_id, " ".join(toks)


@pytest.fixture(scope="session")
def synth_docs(spark):
    """``synth_docs(n, seed)``: a deterministic generated corpus of n
    documents in 32 partitions, built on the driver. About 1 in 10
    documents is a near-duplicate of the one before it (token dropout
    over the same token stream), so dedup operators have real work."""

    def build(n: int, seed: int):
        rows = [_gen_row(seed, i) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id bigint, text string").repartition(32)

    return build


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
