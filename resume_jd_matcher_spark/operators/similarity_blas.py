"""Vectorized (Arrow + BLAS) implementations of the similarity
operators — the performance path for exact vector search at scale.

Why this exists: the expression-based distances in
``operators/similarity.py`` (``zip_with``/``aggregate``) are declarative
and oracle-transparent, but Spark evaluates higher-order array
functions interpreted — outside whole-stage codegen — so every
candidate pair pays an expression-tree walk. For N×Q pair volumes the
arithmetic belongs in a BLAS kernel.

Shape (the idiomatic Spark pattern for brute-force vector search):

  bounded side (queries / dedup probes) → driver pandas → a Q×d
  float64 matrix shipped via explicit ``sc.broadcast`` (torrent, once
  per executor — never re-serialized per task), guarded by a max-rows
  ceiling; corpus → ``mapInPandas`` — per Arrow batch, B×d @ d×chunk
  matmuls over bounded probe chunks, emit only survivors (top-k
  candidates or under-threshold pairs).

The corpus is never paired row-by-row, nothing is shuffled except
final survivors, and executors stream batches at Arrow speed. At
100 TB: corpus splits scan in parallel, each task does dense GEMMs,
the reduce side only sees k rows per (query, partition).

Numerics: matrices are cast to float64 before arithmetic;
``||a-b||² = ||a||² + ||b||² − 2·a·b`` (clamped at 0) agrees with the
sequential-fold oracle well within the exposed 1e-4 rounding.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.functions.vector import faiss_score
from resume_jd_matcher_spark.plans.optimize import ensure_parallelism


def _query_matrix(queries_pdf: pd.DataFrame, id_col: str, vec_col: str):
    qids = queries_pdf[id_col].to_numpy()
    if not len(qids):  # empty probe: the chunk loops emit no rows
        return qids, np.empty((0, 0))
    qmat = np.stack(queries_pdf[vec_col].to_numpy()).astype(np.float64)
    return qids, qmat


# Probe-side columns are processed this many queries at a time inside
# the UDF so the per-batch B×Q distance matrix stays bounded no matter
# how large the probe set is.
_PROBE_CHUNK = 1024

# Hard ceiling on probe rows materialized to the driver. At 64-dim
# float64 this is ~100 MB of matrix — beyond it, brute force over the
# probe side is the wrong plan anyway: route to the LSH/IVF candidates
# paths (operators/ann.py, plans/optimize.choose_similarity_strategy).
MAX_PROBE_DRIVER_ROWS = 200_000


def _broadcast_probe(df: DataFrame, id_col: str, vec_col: str):
    """Materialize the bounded probe side once and ship it via
    ``sc.broadcast`` (torrent, once per executor) instead of closing
    over it (re-serialized into every task)."""
    pdf = df.select(id_col, vec_col).toPandas()
    if len(pdf) > MAX_PROBE_DRIVER_ROWS:
        raise ValueError(
            f"probe side has {len(pdf)} rows > {MAX_PROBE_DRIVER_ROWS}; "
            "brute-force BLAS is the wrong plan at this size — use "
            "similarity_join_auto, which routes large joins to the LSH "
            "candidates path, or the IVF paths in operators/ann.py"
        )
    return df.sparkSession.sparkContext.broadcast(
        _query_matrix(pdf, id_col, vec_col)
    )


def _sq_l2(batch: np.ndarray, qmat: np.ndarray) -> np.ndarray:
    d2 = (
        (batch * batch).sum(axis=1)[:, None]
        + (qmat * qmat).sum(axis=1)[None, :]
        - 2.0 * (batch @ qmat.T)
    )
    return np.maximum(d2, 0.0)


def similarity_join_blas(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_vec: str = "left_embedding",
    right_vec: str = "right_embedding",
    dedup_pairs: bool = False,
) -> DataFrame:
    """V6/V8 fast path: all (left, right) pairs with squared-L2
    distance < threshold. ``left`` must be the bounded side — it is
    materialized once and shipped via an explicit ``sc.broadcast``
    (once per executor, never per task); ``right`` streams through
    mapInPandas. Inside the UDF the probe matrix is processed
    ``_PROBE_CHUNK`` queries at a time, so executor temp memory is
    O(B × chunk), independent of the probe count.
    """
    bc = _broadcast_probe(left, left_id, left_vec)

    out_schema = T.StructType(
        [
            T.StructField(left_id, T.LongType()),
            T.StructField(right_id, T.LongType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            rmat = np.stack(pdf[right_vec].to_numpy()).astype(np.float64)
            rids = pdf[right_id].to_numpy()
            for s in range(0, len(qids), _PROBE_CHUNK):
                qid_c = qids[s : s + _PROBE_CHUNK]
                d2 = np.round(_sq_l2(rmat, qmat[s : s + _PROBE_CHUNK]), 4)
                mask = d2 < threshold
                if dedup_pairs:
                    mask &= qid_c[None, :] < rids[:, None]
                ri, qi = np.nonzero(mask)
                if not len(ri):
                    continue
                yield pd.DataFrame(
                    {
                        left_id: qid_c[qi],
                        right_id: rids[ri],
                        "dist": d2[ri, qi],
                    }
                )

    return ensure_parallelism(right.select(right_id, right_vec)).mapInPandas(
        gen, out_schema
    )


def topk_similarity_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """V5 fast path: per-partition partial top-k (BLAS distances) →
    global top-k per query. The shuffle carries ~k rows per (query,
    partition) instead of the full N×Q pair set. Probe matrix ships by
    explicit broadcast and is processed in bounded chunks (see
    similarity_join_blas).
    """
    bc = _broadcast_probe(queries, query_id_col, query_vec_col)

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            rmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            rids = pdf[id_col].to_numpy()
            for s in range(0, len(qids), _PROBE_CHUNK):
                qid_c = qids[s : s + _PROBE_CHUNK]
                d2 = _sq_l2(rmat, qmat[s : s + _PROBE_CHUNK])  # B×chunk
                kk = min(k, d2.shape[0])
                # Partial top-k per query within this batch, KEEPING
                # boundary ties: emit every row with dist <= the
                # kth-smallest distance so equidistant candidates survive
                # to the global (dist, id) tie-break window. (argpartition
                # alone would drop an arbitrary one of the tied rows.)
                kth = np.partition(d2, kk - 1, axis=0)[kk - 1, :]
                ri, qi = np.nonzero(d2 <= kth[None, :])
                yield pd.DataFrame(
                    {
                        query_id_col: qid_c[qi],
                        id_col: rids[ri],
                        "dist": d2[ri, qi],
                    }
                )

    partial = ensure_parallelism(corpus.select(id_col, vec_col)).mapInPandas(
        gen, out_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("dist", 4).alias("dist"),
            faiss_score(F.col("dist")).alias("score"),
        )
    )
