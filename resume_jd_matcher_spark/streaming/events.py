"""Structured Streaming surface (SURVEY.md §2.G — [EXT], no reference
analog: the reference is strictly request/response).

"New documents arriving for matching" is the streaming shape of the
reference's bulk route (app.py:133-180); here the arriving slice of
the `embeddings` fixture replays through a file source into the
stream-static ANN dedup gate. The gate has a BATCH TWIN with identical
transformation logic (`stream_ann_dedup_gate`) — the correctness gate
is stream-result == batch-result on the same data (DuckDB can't run a
stream, so the twin is what the oracle checks; tests assert the
equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming query to completion against the (finite) file
    source and return the materialized result — the test harness for
    stream/batch equivalence."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")



def ann_dedup_gate(
    arrivals: DataFrame,
    index_df: DataFrame,
    threshold: float = 1.5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stream-static ANN gate: each ARRIVING vector is checked against
    the STATIC LSH-indexed corpus — its nearest same-bucket neighbor
    plus an is_dup verdict at ``threshold`` (squared L2) — the online
    near-dup admission gate a training-data ingest runs before a new
    document enters the corpus.

    Streaming-safe by construction: the arriving side computes its
    bucket signature NARROWLY (no shuffle), joins the broadcast static
    index on the bucket key, and top-1 is a struct-min aggregate (not
    a rank window, which streams can't run) — identical result to
    row_number ORDER BY (dist, id). Arrivals whose bucket has no index
    member pass the gate silently (inner join; at production recall
    pair with multi-probe — lsh_multiprobe_topk — exactly as in the
    batch family). Output: (query_id, nn_id, bucket, dist, is_dup)."""
    from resume_jd_matcher_spark.functions.vector import squared_l2
    from resume_jd_matcher_spark.operators.ann import lsh_signature

    q = arrivals.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qe"),
        lsh_signature(F.col(vec_col), n_planes).alias("_qbucket"),
    )
    c = index_df.select(
        F.col(id_col).alias("_nn_id"),
        F.col(vec_col).alias("_ce"),
        lsh_signature(F.col(vec_col), n_planes).alias("_bucket"),
    )
    cand = q.join(F.broadcast(c), F.col("_qbucket") == F.col("_bucket"))
    d = squared_l2(F.col("_qe"), F.col("_ce"))
    best = cand.groupBy("query_id").agg(
        F.min(
            F.struct(
                d.alias("dist"),
                F.col("_nn_id").alias("nn_id"),
                F.col("_bucket").alias("bucket"),
            )
        ).alias("_m")
    )
    dist_r = F.round(F.col("_m.dist"), 4)
    return best.select(
        "query_id",
        F.col("_m.nn_id").alias("nn_id"),
        F.col("_m.bucket").alias("bucket"),
        dist_r.alias("dist"),
        (dist_r <= F.lit(threshold)).alias("is_dup"),
    )



def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the ARRIVING slice of the embeddings
    fixture (vec_id % 4 == 3 — scale-factor-proportional, so the
    stream is non-empty at every sf) for the stream-static ANN gate
    tests. The file stream source requires a *directory*, and the
    fixture dir mixes all tables — so the slice is staged once per
    sf_dir into a scratch directory named by a stable digest (not
    Python's salted hash()), written aside and renamed into place so
    a crashed or concurrent stager never leaves a half-written copy."""
    import hashlib
    import os
    import shutil
    import tempfile

    from resume_jd_matcher_spark.sources.io import load_table

    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"emb_stream_{digest}")
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        if os.path.isdir(stage):
            shutil.rmtree(stage, ignore_errors=True)
        tmp = f"{stage}_tmp_{os.getpid()}"
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 4 == 3
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        open(os.path.join(tmp, "_STAGED"), "w").close()
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    return spark.readStream.schema(schema).format("parquet").load(stage)

