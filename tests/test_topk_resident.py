"""Top-k against a cached corpus is answered on the driver from a
resident copy; these pin that it gives the distributed path's exact
answer, runs no more than one Spark job per request, and reports
distances precise enough to keep their (dist, id) order."""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.vector import faiss_score, faiss_score_values
from resume_jd_matcher_spark.operators import similarity_blas as sb
from resume_jd_matcher_spark.operators.embedding import embed_documents, embed_query
from resume_jd_matcher_spark.sources.io import driver_rows


def _on_driver(df) -> bool:
    """The plan is a bare local relation: no Spark job computes it."""
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName() == "LocalTableScanExec"


def _by_rank(rows):
    return sorted(map(tuple, rows), key=lambda r: (r[0], r[2], r[1]))


@pytest.fixture()
def corpora(spark):
    """The same vectors as a cached and as an uncached frame, with
    duplicated vectors so that some distances tie exactly."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(300, 8)).round(6)
    vecs[[40, 7, 250]] = vecs[120]
    vecs[[3, 299]] = vecs[77]
    pdf = pd.DataFrame({"vec_id": np.arange(300), "embedding": list(vecs)})
    base = spark.createDataFrame(pdf).repartition(3)
    cached = base.select("vec_id", "embedding").cache()
    cached.count()
    uncached = base.select("vec_id", "embedding")
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [5, 1, 9, 2],
                "query_embedding": [
                    list(vecs[120]),
                    list(vecs[77]),
                    list(rng.normal(size=8).round(6)),
                    list(vecs[0] + 0.01),
                ],
            }
        )
    )
    yield cached, uncached, q
    cached.unpersist()


def test_resident_and_distributed_paths_agree(corpora):
    cached, uncached, q = corpora
    for k in (1, 3, 4, 10, 305):
        local = sb.topk_similarity_blas(cached, q, k=k)
        dist = sb.topk_similarity_blas(uncached, q, k=k)
        assert _on_driver(local) and not _on_driver(dist)
        a, b = _by_rank(local.collect()), _by_rank(dist.collect())
        assert a == b, k
        assert len(a) == 4 * min(k, 300)
    # the exact ties resolve by smallest id, at distance exactly 0.0
    top = [r for r in _by_rank(sb.topk_similarity_blas(cached, q, k=4).collect()) if r[0] == 5]
    assert [(r[1], r[2], r[3]) for r in top] == [(7, 0.0, 10.0), (40, 0.0, 10.0), (120, 0.0, 10.0), (250, 0.0, 10.0)]
    empty = q.limit(0)
    assert sb.topk_similarity_blas(cached, empty, k=3).collect() == []
    assert sb.topk_similarity_blas(uncached, empty, k=3).collect() == []


def test_unpersisted_corpus_leaves_the_resident_path(corpora):
    cached, _, q = corpora
    assert _on_driver(sb.topk_similarity_blas(cached, q, k=3))
    assert cached in sb._RESIDENT
    cached.unpersist()
    assert not _on_driver(sb.topk_similarity_blas(cached, q, k=3))
    assert cached not in sb._RESIDENT


def test_distances_keep_order_below_four_places(spark):
    """Two neighbours 2e-5 apart both round to 1.0000 at four places;
    the nearer one has the larger id. Re-sorting the output by
    (dist, id) must still put it first, on both paths."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.006]), (2, [1.0, 0.004]), (3, [5.0, 5.0])],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame([(0, [0.0, 0.0])], ["query_id", "query_embedding"])
    cached = corpus.cache()
    try:
        for c in (corpus.select("vec_id", "embedding"), cached):
            rows = sorted(sb.topk_similarity_blas(c, q, k=2).collect(), key=lambda r: (r.dist, r.vec_id))
            assert [r.vec_id for r in rows] == [2, 1]
            assert rows[0].dist == pytest.approx(1.000016, abs=1e-12)
            assert rows[1].dist == pytest.approx(1.000036, abs=1e-12)
    finally:
        cached.unpersist()


def test_shortlist_request_runs_at_most_one_job(spark):
    """A /shortlist request against a cached hash index, after one warm
    call: embedding the JD plus the top-k collect run at most one
    Spark job."""
    sc = spark.sparkContext
    docs = spark.createDataFrame([(i, f"resume {i} python spark sql") for i in range(400)], ["vec_id", "text"])
    index = embed_documents(docs, id_col="vec_id", dim=64).cache()
    index.count()
    try:
        sb.topk_similarity_blas(index, embed_query(spark, "warm", dim=64), k=10).collect()
        group = "test-shortlist-request-jobs"
        sc.setJobGroup(group, "one shortlist request")
        try:
            rows = sb.topk_similarity_blas(index, embed_query(spark, "a data engineer JD", dim=64), k=10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(rows) == 10
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    finally:
        index.unpersist()


def test_driver_score_matches_faiss_score(spark):
    """The driver-side score equals Spark's ``faiss_score`` on distances
    whose raw score lies on or next to every half-cent boundary in
    (0, 10], where HALF_UP and half-even rounding part."""
    halves = np.array([float(Decimal(10 * i + 5) / 1000) for i in range(1000)])
    d = 10.0 / halves - 1.0
    d = np.concatenate([d, np.nextafter(d, 0.0), np.nextafter(d, np.inf), [0.0, 1e-12, 3.0, 1e6]])
    d = d[d >= 0.0]
    got = (
        spark.createDataFrame(pd.DataFrame({"i": np.arange(len(d)), "dist": d}))
        .select("i", faiss_score(F.col("dist")).alias("score"))
        .toPandas()
        .sort_values("i")["score"]
        .to_numpy()
    )
    assert np.array_equal(faiss_score_values(d), got)


def test_query_row_is_read_back_on_the_driver(spark, monkeypatch):
    """embed_query's row reaches the top-k probe side without a Spark
    call; a frame derived from it is collected as usual."""
    q = embed_query(spark, "a data engineer JD", dim=8)
    pdf = driver_rows(q)
    assert pdf is not None and list(pdf.columns) == ["query_id", "query_embedding"]
    assert driver_rows(q.select("query_id", "query_embedding")) is None
    want = [list(r.query_embedding) for r in q.collect()]
    with monkeypatch.context() as m:
        m.setattr(type(q), "select", lambda *a, **k: pytest.fail("probe side went through Spark"))
        qids, qmat = sb._probe_matrix(q, "query_id", "query_embedding")
    assert qids.tolist() == [0] and qmat.tolist() == want
