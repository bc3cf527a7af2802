"""Corpus-hygiene queries (round 4): Gopher repetition filters,
product-quantization ANN.

Same oracle contract as every module: identical aliases, in-query
rounding with the 1e-9 boundary nudge, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators import quality
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.queries.text_q import SQL_TOKS
from resume_jd_matcher_spark.queries.vector_q import SQL_SQL2
from resume_jd_matcher_spark.sources.io import load_table


@register(
    "repetition_filter",
    f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), base AS (
  SELECT doc_id, len(toks) AS ntok, toks FROM t
), g2 AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
  FROM base, unnest(generate_series(1, ntok - 1)) s(i)
  WHERE ntok >= 2
), c2 AS (
  SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g
), m2 AS (
  SELECT doc_id, max(cnt) AS top2 FROM c2 GROUP BY doc_id
), g3 AS (
  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
  FROM base, unnest(generate_series(1, ntok - 2)) s(i)
  WHERE ntok >= 3
), c3 AS (
  SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY doc_id, g
), d3 AS (
  SELECT doc_id, sum(cnt * 3) AS dup3 FROM c3 WHERE cnt >= 2 GROUP BY doc_id
), r AS (
  SELECT b.doc_id,
         b.ntok,
         coalesce(m2.top2, 0) AS top2,
         round(coalesce(m2.top2, 0) * 2 / nullif(b.ntok::DOUBLE, 0) + 1e-9, 4)
           AS top_frac,
         round(coalesce(d3.dup3, 0) / nullif(b.ntok::DOUBLE, 0) + 1e-9, 4)
           AS dup_frac
  FROM base b
  LEFT JOIN m2 ON b.doc_id = m2.doc_id
  LEFT JOIN d3 ON b.doc_id = d3.doc_id
)
SELECT doc_id,
       ntok::INT AS n_tokens,
       top2::INT AS top_bigram_cnt,
       top_frac AS top_bigram_frac,
       dup_frac AS dup_trigram_frac,
       (top_frac <= {quality.TOP_BIGRAM_MAX}
        AND dup_frac <= {quality.DUP_TRIGRAM_MAX})::INT AS keep
FROM r
""",
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Gopher/MassiveText intra-document repetition filter (Rae
    et al. 2021 §A1.1): per-doc top-bigram coverage and duplicated-
    trigram coverage with keep/drop thresholds — the quality rule that
    catches keyword-stuffed/templated documents exact and near dedup
    both miss (repetition is intra-doc, dedup is inter-doc)."""
    return quality.repetition_stats(load_table(spark, sf_dir, "documents"))


def _pq_sql(
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    dp: int = 6,
    n_q: int = 3,
    k_top: int = 5,
) -> str:
    """PQ fit + encode + ADC rank as one unrolled CTE chain — the
    subspace-sliced generalization of vector_q._lloyd_sql. Per
    subspace: deterministic Lloyd (lowest-id seeds, per-iteration
    round to ``dp``); then each query's subspace-distance table joins
    the final codes and sums."""
    ctes = [
        "e0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE)"
        " AS e FROM embeddings)"
    ] + _pq_fit_ctes(m, k, n_iter, dim, dp)
    dtabs = _pq_dtabs(m, n_iter, dim, dp, n_q)
    pair_sums = "\n  UNION ALL\n".join(
        f"""  SELECT d{s}.query_id, a.vec_id, d{s}.d
  FROM s{s}af a JOIN d{s} ON d{s}.cid = a.cid"""
        for s in range(m)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + ",\n"
        + dtabs
        + f""",
parts AS (
{pair_sums}
), summed AS (
  SELECT query_id, vec_id, round(sum(d), {dp}) AS dist6
  FROM parts GROUP BY query_id, vec_id
), ranked AS (
  SELECT query_id, vec_id, dist6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist6, vec_id) AS rn
  FROM summed
)
SELECT query_id, vec_id,
       round(dist6 + 1e-9, 4) AS dist,
       rn::INT AS rn
FROM ranked WHERE rn <= {k_top}
"""
    )


def _pq_fit_ctes(m: int, k: int, n_iter: int, dim: int, dp: int) -> list[str]:
    """The per-subspace Lloyd fit + final encode CTEs (s{s}e …
    s{s}af); expects an ``e0`` CTE with (vec_id, e) in scope."""
    sub = dim // m
    ctes: list[str] = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"s{s}e AS (SELECT vec_id, e[{lo}:{hi}] AS v FROM e0)")
        ctes.append(
            f"""s{s}c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(v, x -> round(x, {dp})) AS c
  FROM (SELECT * FROM s{s}e ORDER BY vec_id LIMIT {k}))"""
        )
        dist = SQL_SQL2.format(a="t.v", b="s.c")
        for i in range(1, n_iter + 1):
            ctes.append(
                f"""s{s}a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT t.vec_id, t.v, s.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {dist}, s.cid) AS rn
    FROM s{s}e t, s{s}c{i - 1} s) WHERE rn = 1)"""
            )
            ctes.append(
                f"""s{s}c{i} AS (
  SELECT cid, list(round(cv, {dp}) ORDER BY dim) AS c
  FROM (
    SELECT a.cid, d.dim, avg(a.v[d.dim]) AS cv
    FROM s{s}a{i} a, (SELECT unnest(generate_series(1, {sub})) AS dim) d(dim)
    GROUP BY a.cid, d.dim
  ) GROUP BY cid)"""
            )
        ctes.append(
            f"""s{s}af AS (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, s.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {dist}, s.cid) AS rn
    FROM s{s}e t, s{s}c{n_iter} s) WHERE rn = 1)"""
        )
    return ctes


def _pq_dtabs(m: int, n_iter: int, dim: int, dp: int, n_q: int) -> str:
    """ADC: per-query per-subspace distance table over the FINAL
    centroids (d{s} CTEs), ready to join the final codes."""
    sub = dim // m
    return ",\n".join(
        f"""d{s} AS (
  SELECT q.vec_id AS query_id, s.cid,
         round({SQL_SQL2.format(a=f"q.e[{s * sub + 1}:{(s + 1) * sub}]", b="s.c")}, {dp}) AS d
  FROM (SELECT vec_id, e FROM e0 WHERE vec_id < {n_q}) q, s{s}c{n_iter} s)"""
        for s in range(m)
    )


@register("pq_topk", _pq_sql())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] product-quantization ANN (Jégou et al. 2011; the FAISS
    PQ compression half): 64-dim vectors → 4 subspace codes from
    deterministic per-subspace Lloyd codebooks, queries ranked by
    asymmetric distance (broadcast m×k lookup table + code join —
    no raw vector ever crosses the ranking join). operators/pq.py;
    64× vector-memory compression at serving time."""
    from resume_jd_matcher_spark.operators.pq import pq_adc_topk, pq_fit_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codes, books = pq_fit_encode(emb, m=4, k=4, n_iter=2)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    topk = pq_adc_topk(codes, books, qs, k_top=5, m=4)
    return topk.select(
        "query_id",
        "vec_id",
        F.round(F.col("dist") + F.lit(1e-9), 4).alias("dist"),
        "rn",
    )


def _ivf_pq_sql(
    nlist: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    dp: int = 6,
    n_q: int = 3,
    k_top: int = 5,
) -> str:
    """IVF-PQ oracle: the coarse Lloyd replay (vector_q._lloyd_sql:
    e0/c{i}/af CTEs) composed with the per-subspace PQ replay
    (_pq_fit_ctes/_pq_dtabs) — routing picks each query's nprobe
    nearest coarse centroids, candidates are the routed partitions'
    members, and only candidates enter the ADC sum."""
    from resume_jd_matcher_spark.queries.vector_q import _lloyd_sql

    coarse = _lloyd_sql(n_clusters=nlist, n_iter=n_iter)
    fit = _pq_fit_ctes(m, k, n_iter, dim, dp)
    dtabs = _pq_dtabs(m, n_iter, dim, dp, n_q)
    route_dist = SQL_SQL2.format(a="q.e", b="s.c")
    pair_sums = "\n  UNION ALL\n".join(
        f"""  SELECT c.query_id, c.vec_id, d{s}.d
  FROM cand c JOIN s{s}af a ON a.vec_id = c.vec_id
  JOIN d{s} ON d{s}.cid = a.cid AND d{s}.query_id = c.query_id"""
        for s in range(m)
    )
    return (
        coarse
        + ",\n"
        + ",\n".join(fit)
        + ",\n"
        + dtabs
        + f""",
routed AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, s.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {route_dist}, s.cid) AS crn
    FROM (SELECT vec_id, e FROM e0 WHERE vec_id < {n_q}) q, c{n_iter} s
  ) WHERE crn <= {nprobe}
), cand AS (
  SELECT r.query_id, a.vec_id FROM routed r JOIN af a ON a.cid = r.cid
), parts AS (
{pair_sums}
), summed AS (
  SELECT query_id, vec_id, round(sum(d), {dp}) AS dist6
  FROM parts GROUP BY query_id, vec_id
), ranked AS (
  SELECT query_id, vec_id, dist6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist6, vec_id) AS rn
  FROM summed
)
SELECT query_id, vec_id,
       round(dist6 + 1e-9, 4) AS dist,
       rn::INT AS rn
FROM ranked WHERE rn <= {k_top}
"""
    )


@register("ivf_pq_topk", _ivf_pq_sql())
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] IVF-PQ composition (FAISS ``IVF4,PQ4`` shape): the
    deterministic coarse Lloyd quantizer routes each query to its 2
    nearest of 4 partitions; only those partitions' members are
    ADC-ranked on their PQ codes. Candidates shrink ~nlist/nprobe-fold
    AND each candidate costs m code lookups instead of a 64-dim
    distance — both production ANN levers in one oracle-replayed
    plan (operators/pq.py:ivf_pq_topk)."""
    from resume_jd_matcher_spark.operators.pq import (
        ivf_pq_fit_encode,
        ivf_pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # fused fit: coarse quantizer + all 4 subspace codebooks in ONE
    # grouped Lloyd pass, corpus encoded (cid + codes) in ONE
    # projection — per-group trajectories bit-identical to the
    # separate fits, so the oracle replay is unchanged
    encoded, coarse, books = ivf_pq_fit_encode(
        emb.select("vec_id", "embedding"), n_lists=4, m=4, k=4, n_iter=2
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    topk, _ = ivf_pq_topk(
        encoded, books, encoded, coarse, qs, k_top=5, n_probe=2, m=4
    )
    return topk.select(
        "query_id",
        "vec_id",
        F.round(F.col("dist") + F.lit(1e-9), 4).alias("dist"),
        "rn",
    )
