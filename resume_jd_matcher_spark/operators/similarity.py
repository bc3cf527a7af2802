"""Similarity search operators (SURVEY.md §2.C V4-V7, §2.E W1).

The reference's retrieval is FAISS exact search: per-section k=1
(``/root/reference/rag_model.py:59-62``) and flat-index top-k with
scores (``/root/reference/rag_model_mass.py:17-47``). Here search is a
relational operator: broadcast the (small) query side, linear-scan the
corpus, rank per query. No index is materialized — at 100 TB the corpus
scan is embarrassingly parallel, the only shuffle is the per-query
top-k aggregation, and the broadcast avoids shuffling the corpus at all.

Tie-break contract (engine AND oracle): ``ORDER BY dist, id`` so top-k
is deterministic (SURVEY.md §7 hard-part (b)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.vector import distance, faiss_score
from resume_jd_matcher_spark.plans.optimize import ensure_parallelism


def topk_similarity(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    metric: str = "sql2",
) -> DataFrame:
    """V5: top-k nearest corpus rows per query row, with 0-10 scores.

    Scale shape: ``BroadcastNestedLoopJoin`` (query side broadcast,
    usually a handful of JDs) → codegen'd distance projection → per-query
    rank. The rank is a shuffle keyed on query_id; with Q queries and N
    corpus rows it moves only the survivors if AQE's local top-k kicks
    in, else Q×N — for large Q prefer `similarity_join_auto` with a
    distance threshold prefilter.

    Output: (query_id, id, dist, score), dist = metric distance
    (default squared L2, FAISS IndexFlatL2 parity), score =
    round(10/(1+dist), 2) (rag_model_mass.py:13-15).
    """
    paired = ensure_parallelism(corpus).crossJoin(F.broadcast(queries))
    d = distance(F.col(vec_col), F.col(query_vec_col), metric)
    scored = paired.select(
        F.col(query_id_col),
        F.col(id_col),
        d.alias("dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("dist", 4).alias("dist"),
            faiss_score(F.col("dist")).alias("score"),
        )
    )


def argmin_per_group(
    corpus: DataFrame,
    queries: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
    metric: str = "sql2",
) -> DataFrame:
    """V4/A2: nearest corpus row *per group* per query (the honest
    generalization of the reference's per-section k=1 search,
    rag_model.py:59-62, where each section store held exactly 1 vector).

    Implemented as ``min(struct(dist, id))`` — a hash aggregate with
    map-side partial combine, which at scale beats a window sort: no
    per-group full sort, one shuffle of pre-combined partials.
    """
    paired = ensure_parallelism(corpus).crossJoin(F.broadcast(queries))
    d = distance(F.col(vec_col), F.col(query_vec_col), metric)
    best = (
        paired.select(
            F.col(query_id_col),
            F.col(group_col),
            F.struct(d.alias("dist"), F.col(id_col).alias("id")).alias("cand"),
        )
        .groupBy(query_id_col, group_col)
        .agg(F.min("cand").alias("best"))
    )
    return best.select(
        query_id_col,
        group_col,
        F.col("best.id").alias(id_col),
        F.round("best.dist", 4).alias("dist"),
        faiss_score(F.col("best.dist")).alias("score"),
    )


def similarity_join_auto(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_vec: str = "left_embedding",
    right_vec: str = "right_embedding",
    dedup_pairs: bool = False,
    max_exact_pairs: int = 50_000_000,
) -> DataFrame:
    """V6 with cost-based routing (SURVEY.md §4): pick the physical
    strategy from Catalyst's row-count estimates — no job runs to
    decide. Tractable estimated pair count → exact BLAS brute force
    (``similarity_join_blas``); beyond ``max_exact_pairs`` → the
    LSH-bucketed candidates path (``ann.lsh_similarity_join``), whose
    equi-join works big×big without materializing either side.

    Both routes emit the same (left_id, right_id, dist) schema."""
    from resume_jd_matcher_spark.operators.ann import lsh_similarity_join
    from resume_jd_matcher_spark.operators.similarity_blas import (
        similarity_join_blas,
    )
    from resume_jd_matcher_spark.plans.optimize import (
        choose_similarity_strategy,
    )

    route = choose_similarity_strategy(left, right, max_exact_pairs)
    if route == "exact":
        return similarity_join_blas(
            left, right, threshold, left_id, right_id, left_vec, right_vec,
            dedup_pairs,
        )
    return lsh_similarity_join(
        left, right, threshold,
        left_id=left_id, right_id=right_id,
        left_vec=left_vec, right_vec=right_vec,
        dedup_pairs=dedup_pairs,
    )
