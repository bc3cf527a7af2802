"""Differential harness mirroring the driver's correctness gate:
run every registered query on Spark AND its oracle SQL on DuckDB over
the same parquet, compare row-count + schema-shape + order-insensitive
values (columns sorted by name, rows sorted by all columns).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from resume_jd_matcher_spark import queries as Q


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _assert_equal(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s, d = _canon(spark_pdf), _canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert a == pytest.approx(b, rel=1e-9, abs=1e-9), (
                    f"{name}: col {c} row {i}: {a!r} != {b!r}"
                )
            else:
                assert str(a) == str(b), f"{name}: col {c} row {i}: {a!r} != {b!r}"


_ORACLED = sorted(Q.oracle_sql().keys())


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Unpersist operator-level caches after every parity case: 131
    queries in one session otherwise accumulate persisted frames
    (MinHash signatures, posting lists, edge lists) until the 16g
    driver heap OOMs mid-suite — the intermittent JVM death this
    suite saw twice. Matches bench.py's per-query release."""
    yield
    from resume_jd_matcher_spark.operators import dedup

    dedup.release_persisted()


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_parity(name, spark, duck, sf_dir):
    qd = Q._REGISTRY[name]
    spark_pdf = qd.fn(spark, sf_dir).toPandas()
    duck_pdf = duck.sql(qd.oracle).df()
    _assert_equal(name, spark_pdf, duck_pdf)


def test_all_queries_run(spark, sf_dir):
    """Every registered query must at least execute. The oracled ones
    run in full in their parity cases above, so only the rest run
    here; together the two cover the whole registry."""
    unoracled = sorted(set(Q._REGISTRY) - set(_ORACLED))
    assert sorted(unoracled + _ORACLED) == sorted(Q._REGISTRY)
    for name in unoracled:
        Q._REGISTRY[name].fn(spark, sf_dir).limit(5).collect()
