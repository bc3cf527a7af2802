"""§2.G: streamed result == batch twin on the same finite data."""

from __future__ import annotations

import pytest

from resume_jd_matcher_spark.streaming.events import run_stream_to_memory

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.slow
def test_cms_sketch_streams_equal_batch(spark):
    """The count-min sketch is a pure sum-aggregate over (seed, col)
    cells, so it runs unchanged as a streaming aggregation (complete
    mode): cells after consuming the whole stream equal the batch
    sketch of the same slice — merge-by-sum, CMS's streaming law."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.textstats import cms_sketch
    from resume_jd_matcher_spark.sources.io import load_table
    from resume_jd_matcher_spark.streaming.events import read_embeddings_stream

    stream = read_embeddings_stream(spark, SF).select(
        F.col("label").cast("string").alias("text")
    )
    got = run_stream_to_memory(
        cms_sketch(stream, d=4, w=32), "cms_stream", output_mode="complete"
    )
    want = cms_sketch(
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") % 4 == 3)
        .select(F.col("label").cast("string").alias("text")),
        d=4,
        w=32,
    )
    assert got.count() > 0
    assert _rows(got) == _rows(want)


@pytest.mark.slow
def test_ann_dedup_gate_stream_equals_batch(spark):
    """Stream-static ANN gate: arriving embeddings replayed through a
    file source, LSH-bucket-joined to the broadcast static index with
    a struct-min top-1 — streamed rows must equal the batch twin."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.queries.stream_q import q_stream_ann_dedup_gate
    from resume_jd_matcher_spark.sources.io import load_table
    from resume_jd_matcher_spark.streaming.events import (
        ann_dedup_gate,
        read_embeddings_stream,
    )

    static_index = load_table(spark, SF, "embeddings").filter(
        F.col("vec_id") % 4 != 3
    )
    stream = ann_dedup_gate(
        read_embeddings_stream(spark, SF), static_index, threshold=1.5
    )
    got = run_stream_to_memory(stream, "t_ann_gate", output_mode="complete")
    want = q_stream_ann_dedup_gate(spark, SF)
    assert _rows(got) == _rows(want)
    # the gate is non-vacuous: both verdicts appear
    verdicts = {r.is_dup for r in got.collect()}
    assert verdicts == {True, False}
