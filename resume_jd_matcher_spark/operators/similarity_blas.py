"""Vectorized (Arrow + BLAS) implementations of the similarity
operators — the performance path for exact vector search at scale.

Why this exists: the expression-based distances in
``operators/similarity.py`` (``zip_with``/``aggregate``) are declarative
and oracle-transparent, but Spark evaluates higher-order array
functions interpreted — outside whole-stage codegen — so every
candidate pair pays an expression-tree walk. For N×Q pair volumes the
arithmetic belongs in a BLAS kernel.

Shape (the idiomatic Spark pattern for brute-force vector search):

  bounded side (queries / dedup probes) → driver Arrow → a Q×d
  float64 matrix shipped via explicit ``sc.broadcast`` (torrent, once
  per executor — never re-serialized per task), guarded by the vector
  row limit; corpus → ``mapInPandas`` — per Arrow batch, B×d @ d×chunk
  matmuls over bounded probe chunks, emit only survivors (top-k
  candidates or under-threshold pairs).

The corpus is never paired row-by-row, nothing is shuffled except
final survivors, and executors stream batches at Arrow speed. At
100 TB: corpus splits scan in parallel, each task does dense GEMMs,
the reduce side only sees k rows per (query, partition).

Top-k against a cached corpus is cost-routed: a corpus within the
vector limit (``sources.io.DRIVER_LIMITS``) is copied to the driver
once, on first use, and every later request is answered and scored
there with the same kernel — no Spark job, no corpus re-shipped into
Python, no shuffle. The JVM sees two local relations per request,
embed_query's row (read back on the driver, ``sources.io.driver_fetch``)
and the answer; nothing is collected in between. This is the interactive
``/shortlist`` shape (one JD against a standing index), which the
reference serves from an in-memory FAISS flat index
(rag_model_mass.py:17-47). Uncached or larger corpora take the
distributed path.

Numerics: matrices are cast to float64. Top-k survivors are chosen
with ``||a-b||² = ||a||² + ||b||² − 2·a·b`` (clamped at 0), keeping
every candidate within rounding of the k-th; each survivor's ``dist``
is then recomputed as ``Σ(a−b)²`` folded over the dimensions in
order, like the SQL oracles, and reported unrounded. Equal vectors
get equal distances bit for bit and a self-match is exactly 0.0, so
re-sorting the output by ``(dist, id)`` keeps its order. The
threshold join rounds its distances to 4 places before comparing.
"""

from __future__ import annotations

import weakref
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.functions.vector import faiss_score, faiss_score_values
from resume_jd_matcher_spark.plans.optimize import ensure_parallelism
from resume_jd_matcher_spark.sources.io import DRIVER_LIMITS, driver_fetch, driver_frame, driver_rows


def _matrix(table: pa.Table, id_col: str, vec_col: str):
    """(ids, float64 row-per-vector matrix) of a fetched table. A null
    vector, or vectors of unequal length, are a ValueError."""
    ids = table.column(id_col).to_numpy()
    vecs = table.column(vec_col).combine_chunks()
    if not len(vecs):  # empty probe: the chunk loops emit no rows
        return ids, np.empty((0, 0))
    if vecs.null_count:
        raise ValueError(f"{vec_col}: {vecs.null_count} null vectors")
    lens = pc.list_value_length(vecs).to_numpy()
    if (lens != lens[0]).any():
        raise ValueError(f"{vec_col}: vectors of unequal length")
    flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return ids, flat.reshape(len(vecs), lens[0])


# Probe-side columns are processed this many queries at a time inside
# the UDF so the per-batch B×Q distance matrix stays bounded no matter
# how large the probe set is.
_PROBE_CHUNK = 1024


def _probe_matrix(df: DataFrame, id_col: str, vec_col: str):
    """Materialize the bounded probe side on the driver as (ids, Q×d
    matrix), or raise once more rows than the vector limit arrive. A
    frame built on the driver (``driver_frame``, such as embed_query's
    row) is read back whole, without a Spark call; any other probe is
    projected to its two columns first."""
    if driver_rows(df) is None:
        df = df.select(id_col, vec_col)
    limit = DRIVER_LIMITS["vectors"]
    table = driver_fetch(df, limit)
    if table is None:
        raise ValueError(f"probe side has more than {limit} rows, the most the driver materializes")
    return _matrix(table, id_col, vec_col)


def _broadcast_probe(df: DataFrame, id_col: str, vec_col: str):
    """Ship the probe matrix via ``sc.broadcast`` (torrent, once per
    executor) instead of closing over it (re-serialized into every
    task)."""
    return df.sparkSession.sparkContext.broadcast(_probe_matrix(df, id_col, vec_col))


def _sq_l2(batch: np.ndarray, qmat: np.ndarray, batch_norms=None) -> np.ndarray:
    if batch_norms is None:
        batch_norms = (batch * batch).sum(axis=1)
    d2 = (
        batch_norms[:, None]
        + (qmat * qmat).sum(axis=1)[None, :]
        - 2.0 * (batch @ qmat.T)
    )
    return np.maximum(d2, 0.0)


def _exact_sq_l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise ``Σ(a−b)²``, folded over the dimensions left to right."""
    diff = a - b
    acc = np.zeros(len(diff))
    for j in range(diff.shape[1]):
        acc += diff[:, j] * diff[:, j]
    return acc


def _topk_candidates(
    rows: np.ndarray, qmat: np.ndarray, k: int, row_norms=None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(row index, probe index, exact dist) of each probe's top-k
    candidates among ``rows``, ``_PROBE_CHUNK`` probes at a time so the
    B×chunk distance matrix stays bounded. KEEPS boundary ties: every
    row within rounding of the k-th smallest expanded distance
    survives, so equidistant candidates (and neighbours the GEMM
    expansion may misorder by an ulp) reach the (dist, id) tie-break.
    (argpartition alone would drop an arbitrary one of the tied rows.)"""
    ris, qis, dists = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for s in range(0, len(qmat), _PROBE_CHUNK):
        chunk = qmat[s : s + _PROBE_CHUNK]
        d2 = _sq_l2(rows, chunk, row_norms)  # B×chunk
        kk = min(k, d2.shape[0])
        kth = np.partition(d2, kk - 1, axis=0)[kk - 1, :]
        ri, qi = np.nonzero(d2 <= kth + 1e-9 * np.maximum(kth, 1.0))
        ris.append(ri)
        qis.append(qi + s)
        dists.append(_exact_sq_l2(rows[ri], chunk[qi]))
    return np.concatenate(ris), np.concatenate(qis), np.concatenate(dists)


# Driver copies of cached corpora, per DataFrame object (an entry goes
# with its frame) and (id_col, vec_col): (ids, float64 matrix, squared
# row norms), or None for an empty corpus or one over the vector
# limit, which the distributed path serves.
_RESIDENT: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _resident(corpus: DataFrame, id_col: str, vec_col: str):
    """The driver copy of ``corpus`` if it is cached, non-empty and
    within the vector limit, else None. Pulled with one bounded fetch
    on first use."""
    if not corpus.is_cached:
        _RESIDENT.pop(corpus, None)
        return None
    per_cols = _RESIDENT.setdefault(corpus, {})
    if (id_col, vec_col) not in per_cols:
        table = driver_fetch(corpus.select(id_col, vec_col), DRIVER_LIMITS["vectors"])
        if table is None or not table.num_rows:
            per_cols[(id_col, vec_col)] = None
        else:
            ids, mat = _matrix(table, id_col, vec_col)
            per_cols[(id_col, vec_col)] = (ids, mat, (mat * mat).sum(axis=1))
    return per_cols[(id_col, vec_col)]


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
    """V5 fast path: (query, id, dist, score) for each query's k
    nearest corpus rows by squared L2, ties broken by smallest id.

    A cached corpus within the vector limit is answered on the
    driver from its resident copy (see ``_resident``) and scored there
    with ``faiss_score_values``; the result is a local relation.
    Otherwise: per-partition partial top-k (BLAS
    distances) → global top-k per query. The shuffle carries ~k rows
    per (query, partition) instead of the full N×Q pair set. Probe
    matrix ships by explicit broadcast and is processed in bounded
    chunks (see similarity_join_blas). Both paths pick the same rows
    and report the same unrounded ``dist``.
    """
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def scored(df: DataFrame) -> DataFrame:
        return df.select(
            query_id_col, id_col, "dist", faiss_score(F.col("dist")).alias("score")
        )

    resident = _resident(corpus, id_col, vec_col)
    if resident is not None:
        ids, mat, norms = resident
        qids, qmat = _probe_matrix(queries, query_id_col, query_vec_col)
        ri, qi, dist = _topk_candidates(mat, qmat, k, norms)
        qid, rid = qids[qi].astype(np.int64), ids[ri].astype(np.int64)
        order = np.lexsort((rid, dist, qid))
        qid, rid, dist = qid[order], rid[order], dist[order]
        # rank within each query's run of the (query, dist, id) order
        keep = np.arange(len(qid)) - np.searchsorted(qid, qid) < k
        top = pd.DataFrame(
            {query_id_col: qid[keep], id_col: rid[keep], "dist": dist[keep]}
        )
        top["score"] = faiss_score_values(top["dist"].to_numpy())
        schema = T.StructType(out_schema.fields + [T.StructField("score", T.DoubleType())])
        return driver_frame(queries.sparkSession, top, schema)

    bc = _broadcast_probe(queries, query_id_col, query_vec_col)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            rmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ri, qi, dist = _topk_candidates(rmat, qmat, k)
            yield pd.DataFrame(
                {query_id_col: qids[qi], id_col: pdf[id_col].to_numpy()[ri], "dist": dist}
            )

    partial = ensure_parallelism(corpus.select(id_col, vec_col)).mapInPandas(
        gen, out_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return scored(partial.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k))

