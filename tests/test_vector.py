"""V4-V7 property tests (SURVEY.md §5.4): self-match, monotonicity,
permutation stability, BLAS/expression path agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators import similarity
from resume_jd_matcher_spark.operators.similarity_blas import topk_similarity_blas
from resume_jd_matcher_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding").cache()


def _queries(emb, n=2):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def test_self_match_is_rank_one_with_score_10(emb):
    out = similarity.topk_similarity(emb, _queries(emb), k=1).collect()
    for r in out:
        assert r.query_id == r.vec_id
        assert r.dist == 0.0
        assert r.score == 10.0


def test_score_monotone_decreasing_in_distance(emb):
    rows = similarity.topk_similarity(emb, _queries(emb), k=10).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        dists = [r.dist for r in rs]
        scores = [r.score for r in rs]
        assert dists == sorted(dists)
        assert scores == sorted(scores, reverse=True)


def test_blas_path_matches_expression_path(emb):
    a = similarity.topk_similarity(emb, _queries(emb), k=5)
    b = topk_similarity_blas(emb, _queries(emb), k=5)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert len(ra) == len(rb)
    for x, y in zip(ra, rb):
        assert x[:2] == y[:2]
        assert x[2] == pytest.approx(y[2], abs=1e-4)
        assert x[3] == pytest.approx(y[3], abs=1e-2)


def test_topk_stable_under_corpus_permutation(emb, spark):
    base = similarity.topk_similarity(emb, _queries(emb), k=5).collect()
    shuffled = emb.orderBy(F.rand(seed=7))
    perm = similarity.topk_similarity(shuffled, _queries(emb), k=5).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, perm))


def test_argmin_per_group_agrees_with_window_rank(spark):
    emb = load_table(spark, SF, "embeddings").select("vec_id", "label", "embedding")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = similarity.argmin_per_group(emb, q, group_col="label").collect()
    # brute-force check via pandas
    import numpy as np

    pdf = emb.toPandas()
    qpdf = q.toPandas()
    for r in got:
        qv = np.array(qpdf[qpdf.query_id == r.query_id].query_embedding.iloc[0], dtype=float)
        grp = pdf[pdf.label == r.label]
        dists = grp.embedding.map(
            lambda v: float(((np.array(v, dtype=float) - qv) ** 2).sum())
        )
        best = grp.assign(d=dists).sort_values(["d", "vec_id"]).iloc[0]
        assert int(best.vec_id) == r.vec_id


def test_topk_blas_duplicate_vector_tiebreak(spark):
    """Equidistant corpus vectors tying at the k-th boundary must
    resolve by smallest id (the documented (dist, id) contract) — the
    per-batch partial top-k may not drop a tied candidate early."""
    dim = 4
    base = [1.0] * dim
    corpus = spark.createDataFrame(
        [(i, base) for i in range(10)], ["vec_id", "embedding"]
    ).repartition(1)  # single batch: the worst case for partial top-k
    q = spark.createDataFrame([(0, base)], ["query_id", "query_embedding"])

    from resume_jd_matcher_spark.operators.similarity_blas import (
        topk_similarity_blas,
    )

    got = sorted(
        (r.query_id, r.vec_id, r.dist)
        for r in topk_similarity_blas(corpus, q, k=3).collect()
    )
    assert got == [(0, 0, 0.0), (0, 1, 0.0), (0, 2, 0.0)]


def test_blas_large_probe_side_chunked(spark):
    """A 10k-row probe side must work through the broadcast + chunked
    path (multiple _PROBE_CHUNK slices) with bounded executor temp
    memory, and still honor per-query top-k."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.similarity_blas import (
        topk_similarity_blas,
    )
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    # tile the fixture out to 10k probe rows with distinct ids
    probes = (
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )
        .crossJoin(spark.range(20).select((F.col("id") * 100000).alias("off")))
        .select(
            (F.col("query_id") + F.col("off")).alias("query_id"),
            "query_embedding",
        )
        .limit(10000)
    )
    n_probes = probes.count()
    assert n_probes == 10000
    out = topk_similarity_blas(corpus, probes, k=1)
    # exactly one nearest neighbor per probe: a self-match (dist 0) for
    # every probe that is a tiling of a corpus vector
    assert out.count() == n_probes
    assert out.filter(F.col("dist") == 0.0).count() == n_probes


def test_blas_probe_ceiling_raises(spark):
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.similarity_blas import (
        similarity_join_blas,
    )
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    left = emb.select(
        F.col("vec_id").alias("left_id"), F.col("embedding").alias("left_embedding")
    )
    right = emb.select(
        F.col("vec_id").alias("right_id"), F.col("embedding").alias("right_embedding")
    )
    import pytest as _pytest

    from resume_jd_matcher_spark.operators import similarity_blas as sb

    old = sb.MAX_PROBE_DRIVER_ROWS
    try:
        sb.MAX_PROBE_DRIVER_ROWS = 10
        with _pytest.raises(ValueError, match="probe side"):
            similarity_join_blas(left, right, threshold=1.0)
    finally:
        sb.MAX_PROBE_DRIVER_ROWS = old


def test_blas_empty_probe_gives_no_rows(emb):
    """A 0-row probe side is an empty result for both BLAS operators,
    as it is for the expression path."""
    from resume_jd_matcher_spark.operators.similarity_blas import (
        similarity_join_blas,
    )

    probe = _queries(emb, n=0)
    assert similarity.topk_similarity(emb, probe, k=5).collect() == []
    assert topk_similarity_blas(emb, probe, k=5).collect() == []
    left = probe.select(
        F.col("query_id").alias("left_id"),
        F.col("query_embedding").alias("left_embedding"),
    )
    right = emb.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").alias("right_embedding"),
    )
    assert similarity_join_blas(left, right, threshold=1.0).collect() == []
