"""Driver routes (``sources.io.DRIVER_LIMITS`` / ``driver_fetch``): the
user paths give the same answer on every route and partitioning, the
probe fetch is bounded, driver answers run no Spark job, and malformed
vectors stay an error."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.parsing import assemble_prompt, mean_score, parse_scores
from resume_jd_matcher_spark.operators import similarity_blas as sb
from resume_jd_matcher_spark.operators.cluster import dedup_clusters
from resume_jd_matcher_spark.operators.dedup import dedup_exact, minhash_lsh_candidates, release_persisted
from resume_jd_matcher_spark.operators.embedding import embed_documents, embed_query
from resume_jd_matcher_spark.operators.scoring import llm_transform
from resume_jd_matcher_spark.operators.sectioner import chunk_by_section
from resume_jd_matcher_spark.operators.textstats import bpe_learn_merges
from resume_jd_matcher_spark.sources.io import DRIVER_LIMITS, driver_rows

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
import gen  # noqa: E402
import oracles  # noqa: E402

THRESHOLD = 0.7  # the ingest workload's estimated-Jaccard cut


def _batch_chain(spark, batch, partitions: int) -> dict:
    """The upload path over ``batch`` in ``partitions`` input partitions:
    exact dedup, MinHash candidates, clusters, scores and embeddings."""
    pdf = pd.DataFrame(
        {"doc_id": [r.doc_id for r in batch.resumes], "text": [r.text for r in batch.resumes]}
    )
    df = spark.createDataFrame(pdf).repartition(partitions)
    exact = dedup_exact(df)
    surv = df.join(exact.select(F.col("rep_doc_id").alias("doc_id")), "doc_id", "left_semi").persist()
    try:
        cand = minhash_lsh_candidates(surv)
        clusters = dedup_clusters(cand.filter(F.col("est_jaccard") >= THRESHOLD))
        prompts = assemble_prompt(chunk_by_section(surv), batch.jd)
        final = mean_score(parse_scores(llm_transform(prompts, "score_prompt")))
        return {
            "minhash_on_driver": driver_rows(cand) is not None,
            "exact": sorted(tuple(r) for r in exact.collect()),
            "candidates": sorted(tuple(r) for r in cand.collect()),
            "clusters": sorted(tuple(r) for r in clusters.collect()),
            "final": sorted(tuple(r) for r in final.collect()),
            "embeddings": sorted(
                (r.doc_id, tuple(r.embedding)) for r in embed_documents(surv, dim=oracles.EMBED_DIM).collect()
            ),
        }
    finally:
        release_persisted()
        surv.unpersist()


def test_batch_path_is_route_and_partition_invariant(spark, spark_route):
    """Input partitions {1, 3, 8} on the driver route and then on the
    Spark route, with shuffle partitions alternating 1 and 8: identical
    exact-dedup rows, MinHash candidates, clusters, scores and
    embeddings, agreeing with the benchmark's oracles."""
    batch = gen.upload_batch(1301, 0, 300)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for route in ("driver", "spark"):
            if route == "spark":
                spark_route()
            for partitions in (1, 3, 8):
                spark.conf.set("spark.sql.shuffle.partitions", str(1 if len(runs) % 2 else 8))
                runs.append((route, partitions, _batch_chain(spark, batch, partitions)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    want = runs[0][2]
    assert want["clusters"] and want["final"]
    for route, partitions, got in runs:
        assert got.pop("minhash_on_driver") == (route == "driver"), (route, partitions)
        assert got == want, (route, partitions)
    err, recall = oracles.check_dedup(
        batch, [(rep, n) for _, rep, n in want["exact"]], want["clusters"]
    )
    assert err is None and recall >= oracles.RECALL_FLOOR
    assert oracles.check_ingest(batch, dict(want["final"])) is None
    reps = {g[0] for g in batch.exact_groups}
    texts = {r.doc_id: r.text for r in batch.resumes if r.doc_id in reps}
    assert oracles.check_embeddings(texts, dict(want["embeddings"])) is None


def _on_driver(df) -> bool:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName() == "LocalTableScanExec"


def test_shortlist_is_route_and_partition_invariant(spark):
    """The resident (cached corpus) and the distributed (uncached)
    top-k over 1 and 3 corpus partitions give the same rows, each
    agreeing with the benchmark's brute-force oracle."""
    texts = gen.index_resumes(1301, 400)
    docs = spark.createDataFrame(pd.DataFrame({"vec_id": np.arange(len(texts)), "text": texts}))
    emb = embed_documents(docs, id_col="vec_id", dim=oracles.EMBED_DIM).localCheckpoint()
    mat = np.stack([oracles.hash_embed(t) for t in texts])
    for i in range(2):
        jd = gen.jd_text(1301, i)
        answers = []
        for partitions in (1, 3):
            uncached = emb.repartition(partitions)
            cached = emb.repartition(partitions).cache()
            try:
                for corpus, resident in ((cached, True), (uncached, False)):
                    q = embed_query(spark, jd, dim=oracles.EMBED_DIM)
                    top = sb.topk_similarity_blas(corpus, q, k=oracles.SHORTLIST_K)
                    assert _on_driver(top) == resident, (partitions, resident)
                    answers.append(sorted(tuple(r) for r in top.collect()))
            finally:
                cached.unpersist()
        assert all(a == answers[0] for a in answers), i
        assert oracles.check_shortlist(mat, jd, [(r[1], r[2], r[3]) for r in answers[0]]) is None


@pytest.fixture()
def rows_fetched(spark, monkeypatch):
    """The most rows any one collect of a DataFrame brought to the
    driver since the fixture was set up."""
    seen = [0]
    cls = type(spark.range(0))
    for name, size in (("toArrow", lambda t: t.num_rows), ("toPandas", len), ("collect", len)):
        orig = getattr(cls, name)

        def spy(self, *a, _orig=orig, _size=size, **k):
            out = _orig(self, *a, **k)
            seen[0] = max(seen[0], _size(out))
            return out

        monkeypatch.setattr(cls, name, spy)
    return seen


def test_oversized_probe_raises_after_at_most_limit_plus_one_rows(spark, monkeypatch, rows_fetched):
    monkeypatch.setitem(DRIVER_LIMITS, "vectors", 5)
    probe = spark.range(50).select(
        F.col("id").alias("query_id"),
        F.array(F.col("id").cast("double"), F.lit(0.0)).alias("query_embedding"),
    )
    corpus = spark.range(3).select(
        F.col("id").alias("vec_id"), F.array(F.lit(0.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="probe side"):
        sb.topk_similarity_blas(corpus, probe, k=1)
    assert 0 < rows_fetched[0] <= 6


def _vectors(spark, vecs):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(len(vecs)), "embedding": vecs}),
        "vec_id long, embedding array<double>",
    )


@pytest.mark.parametrize(
    "vecs",
    [[[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]], [[1.0, 2.0, 3.0, 4.0], None]],
    ids=["ragged_divisible", "null_vector"],
)
def test_malformed_vectors_are_an_error(spark, vecs):
    """Vectors of unequal length whose total divides evenly, and a null
    vector, raise on the resident pull and on the probe."""
    good = _vectors(spark, [[0.0, 0.0, 0.0, 0.0]] * 3)
    bad = _vectors(spark, vecs).cache()
    try:
        bad.count()
        probe = bad.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
        with pytest.raises(ValueError, match="vector"):
            sb.topk_similarity_blas(good, probe, k=1)
        with pytest.raises(ValueError, match="vector"):
            sb.topk_similarity_blas(bad, embed_query(spark, "jd", dim=4), k=1)
    finally:
        bad.unpersist()


def test_driver_answers_run_no_job(spark, count_jobs):
    """An empty resident top-k answer and the BPE driver route's merges
    are local relations: collecting them runs no Spark job."""
    corpus = _vectors(spark, [[0.0, 1.0], [1.0, 0.0]]).cache()
    try:
        corpus.count()
        probe = embed_query(spark, "jd", dim=2).limit(0)
        rows, jobs = count_jobs(sb.topk_similarity_blas(corpus, probe, k=3).collect)
        assert rows == [] and jobs == 0
    finally:
        corpus.unpersist()
    docs = spark.createDataFrame(
        [(i, f"abab cd ab ce x{i % 3}y") for i in range(10)], "doc_id long, text string"
    )
    rows, jobs = count_jobs(bpe_learn_merges(docs, n_merges=3).collect)
    assert len(rows) == 3 and jobs == 0
