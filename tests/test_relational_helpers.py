"""Incremental embedding append, single-pass observed metrics, and
regression aggregates."""

from __future__ import annotations

from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.embedding import embed_documents
from resume_jd_matcher_spark.operators.relational import incremental_append
from resume_jd_matcher_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_incremental_append_embeds_only_delta(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("embstore") / "embeddings")
    docs = load_table(spark, SF, "documents")

    first = docs.filter(F.col("doc_id") < 300)
    embed_documents(first, backend="hash", dim=8).write.parquet(store)

    existing = spark.read.parquet(store)
    incoming = embed_documents(
        docs.filter(F.col("doc_id") < 400), backend="hash", dim=8
    )
    merged = incremental_append(existing, incoming, "doc_id")

    assert merged.count() == 400
    assert merged.select("doc_id").distinct().count() == 400
    # idempotent: appending the same delta again adds nothing
    again = incremental_append(merged, incoming, "doc_id")
    assert again.count() == 400


def test_observe_metrics_single_pass(spark, sf_dir):
    """Production jobs need row counts / quality metrics WITHOUT a
    second scan: Observation attaches aggregates to the one pass the
    job already makes (vs .count() + .agg() re-scans)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.textstats import text_quality
    from resume_jd_matcher_spark.sources.io import load_table

    obs = Observation("clean_metrics")
    scored = text_quality(load_table(spark, sf_dir, "documents")).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("quality").alias("mean_quality"),
        F.sum(F.col("quality").isNull().cast("int")).alias("null_quality"),
    )
    scored.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_docs"] == 500
    assert 0.0 < m["mean_quality"] <= 1.0
    assert m["null_quality"] == 0


class TestRegressionAndEWMA:
    def test_regression_recovers_perfect_line(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("g", i, 3.0 * i + 7.0) for i in range(50)],
            "grp string, x long, y double",
        )
        [r] = (
            df.groupBy("grp")
            .agg(
                F.round(F.regr_slope("y", "x"), 6).alias("slope"),
                F.round(F.regr_intercept("y", "x"), 6).alias("icpt"),
                F.round(F.corr("y", "x"), 6).alias("c"),
            )
            .collect()
        )
        assert r["slope"] == 3.0 and r["icpt"] == 7.0 and r["c"] == 1.0
