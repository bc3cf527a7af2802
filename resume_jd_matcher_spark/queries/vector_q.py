"""Vector / similarity queries (SURVEY.md §2.C V4-V8, §2.E W1).

Engine paths live in operators/similarity.py and operators/ann.py;
oracle SQL re-expresses the same math over DOUBLE[] with identical
left-to-right folds and ``ORDER BY dist, vec_id`` tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators import similarity
from resume_jd_matcher_spark.operators.similarity_blas import (
    topk_similarity_blas,
)
from resume_jd_matcher_spark.operators.ann import lsh_bucket_topk
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

# Oracle-side squared L2 / dot over DOUBLE[] — same left-to-right fold
# as the engine's zip_with/aggregate (functions/vector.py).
SQL_SQL2 = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)
SQL_DOT = "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i]))"
SQL_NORM = "sqrt(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{a}[i])))"


def _emb_queries(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


@register(
    "topk_similarity",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings
), d AS (
  SELECT query_id, vec_id, {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c, q
), r AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT query_id, vec_id,
       round(dist, 4) AS dist,
       round(10.0/(1.0+dist), 2) AS score
FROM r WHERE rn <= 5
""",
)
def q_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 flagship: the reference's bulk /shortlist search
    (rag_model_mass.py:17-47) — top-5 per query with 0-10 scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_similarity_blas(
        emb.select("vec_id", "embedding"), _emb_queries(spark, sf_dir), k=5
    ).withColumn("dist", F.round("dist", 4))


@register(
    "knn_per_label",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS ce FROM embeddings
), d AS (
  SELECT query_id, label, vec_id, {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c, q
), r AS (
  SELECT query_id, label, vec_id, dist,
         row_number() OVER (PARTITION BY query_id, label ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT query_id, label, vec_id,
       round(dist, 4) AS dist,
       round(10.0/(1.0+dist), 2) AS score
FROM r WHERE rn = 1
""",
)
def q_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4/A2: nearest corpus vector per (query, label) group — the
    honest generalization of the reference's per-section k=1 retrieval
    (rag_model.py:59-62). Hash-aggregate argmin, no window sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.argmin_per_group(
        emb.select("vec_id", "label", "embedding"),
        _emb_queries(spark, sf_dir),
        group_col="label",
    )


@register(
    "similarity_join",
    f"""
WITH l AS (
  SELECT vec_id AS left_id, embedding::DOUBLE[] AS le
  FROM embeddings WHERE vec_id < 50
), r AS (
  SELECT vec_id AS right_id, embedding::DOUBLE[] AS re FROM embeddings
)
SELECT left_id, right_id, round({SQL_SQL2.format(a='le', b='re')}, 4) AS dist
FROM l, r
WHERE round({SQL_SQL2.format(a='le', b='re')}, 4) < 1.5 AND left_id < right_id
""",
)
def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6: all pairs within squared-L2 distance 1.5 (left side bounded
    to 50 query rows) — the batch generalization of top-k search.
    Routed by ``choose_similarity_strategy`` (Catalyst stats): at this
    pair count it takes the exact BLAS path; past ``max_exact_pairs``
    the same call degrades gracefully to LSH-bucketed candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("left_id"), F.col("embedding").alias("left_embedding")
    )
    right = emb.select(
        F.col("vec_id").alias("right_id"), F.col("embedding").alias("right_embedding")
    )
    return similarity.similarity_join_auto(
        left, right, threshold=1.5, dedup_pairs=True
    )


@register(
    "cosine_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings
), d AS (
  SELECT query_id, vec_id,
         {SQL_DOT.format(a='qe', b='ce')}
           / ({SQL_NORM.format(a='qe')} * {SQL_NORM.format(a='ce')}) AS cos_sim
  FROM c, q
), r AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM d
)
SELECT query_id, vec_id, round(cos_sim, 4) AS cos_sim
FROM r WHERE rn <= 5
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7: cosine-similarity top-5 per query (alternative metric for
    V5's search; ANN brute-force baseline for embedding columns)."""
    from pyspark.sql import Window

    from resume_jd_matcher_spark.functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    paired = emb.select("vec_id", "embedding").crossJoin(
        F.broadcast(_emb_queries(spark, sf_dir))
    )
    scored = paired.select(
        "query_id",
        "vec_id",
        cosine(F.col("embedding"), F.col("query_embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


@register(
    "neardup_embedding",
    f"""
WITH l AS (
  SELECT vec_id AS left_id, embedding::DOUBLE[] AS le FROM embeddings
), r AS (
  SELECT vec_id AS right_id, embedding::DOUBLE[] AS re FROM embeddings
)
SELECT left_id, right_id, round({SQL_SQL2.format(a='le', b='re')}, 4) AS dist
FROM l, r
WHERE round({SQL_SQL2.format(a='le', b='re')}, 4) < 1.2 AND left_id < right_id
""",
)
def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 near-dup via embedding distance: all pairs closer than ε=1.2
    squared L2 — the "embedding-cosine near-dup" dedup primitive over
    the full corpus (self-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.select(
        F.col("vec_id").alias("left_id"), F.col("embedding").alias("left_embedding")
    )
    right = emb.select(
        F.col("vec_id").alias("right_id"), F.col("embedding").alias("right_embedding")
    )
    return similarity.similarity_join_auto(
        left, right, threshold=1.2, dedup_pairs=True
    )


_LSH_PLANES = 8

_SQL_LSH_SIG = (
    "list_sum(list_transform(generate_series(0, {planes} - 1), j -> "
    "CASE WHEN list_sum(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * sin(0.7 * j * len({a}) + 0.3 * i))) > 0.0 "
    "THEN (1::BIGINT << j) ELSE 0 END))::BIGINT"
)


@register(
    "ann_lsh_topk",
    f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), c AS (
  SELECT vec_id, e AS ce,
         {_SQL_LSH_SIG.format(a='e', planes=_LSH_PLANES)} AS bucket
  FROM e0
), q AS (
  SELECT vec_id AS query_id, e AS qe,
         {_SQL_LSH_SIG.format(a='e', planes=_LSH_PLANES)} AS qbucket
  FROM e0 WHERE vec_id < 3
), d AS (
  SELECT q.query_id, c.vec_id, c.bucket,
         {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c JOIN q ON c.bucket = q.qbucket
), r AS (
  SELECT query_id, vec_id, bucket, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT query_id, vec_id, bucket, round(dist, 4) AS dist
FROM r WHERE rn <= 5
""",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH bucketing (deterministic
    sin-derived hyperplanes) → equi-join on bucket → exact re-rank
    within bucket. Candidate set shrinks ~2^planes-fold vs brute force;
    the bucket join is an equi-join Catalyst can hash-partition, so no
    crossJoin of the full corpus at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    queries_df = _emb_queries(spark, sf_dir)
    return lsh_bucket_topk(corpus, queries_df, k=5, n_planes=_LSH_PLANES)


@register(
    "ann_ivf_topk",
    f"""
WITH e0 AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
  SELECT label,
         list(cv ORDER BY dim) AS centroid
  FROM (
    SELECT label, dim, avg(e[dim]) AS cv
    FROM e0, (SELECT unnest(generate_series(1, 64)) AS dim) dims
    GROUP BY label, dim
  ) GROUP BY label
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM e0 WHERE vec_id < 3
), routed AS (
  SELECT query_id, qe, label FROM (
    SELECT q.query_id, q.qe, cent.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {SQL_SQL2.format(a='qe', b='centroid')}, cent.label
           ) AS crn
    FROM q, cent
  ) WHERE crn <= 2
), d AS (
  SELECT r.query_id, c.vec_id, c.label,
         {SQL_SQL2.format(a='r.qe', b='c.e')} AS dist
  FROM routed r JOIN e0 c ON c.label = r.label
), ranked AS (
  SELECT query_id, vec_id, label, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT query_id, vec_id, label, round(dist, 4) AS dist
FROM ranked WHERE rn <= 5
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2 — IVF: per-label centroids (coarse quantizer)
    route each query to its 2 nearest partitions; exact ranking touches
    only ~2/10 of the corpus. Complements the LSH path: IVF prunes by
    data geometry, LSH by random projection."""
    from resume_jd_matcher_spark.operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.select("vec_id", "label", "embedding"),
        _emb_queries(spark, sf_dir),
        k=5,
        n_probe=2,
    )


@register(
    "embedding_quantize",
    """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), p AS (
  SELECT vec_id, v,
         list_aggregate(v, 'min') AS mn,
         list_aggregate(v, 'max') AS mx
  FROM e
), q AS (
  SELECT vec_id, v, mn, mx,
         CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS scale
  FROM p
), err AS (
  SELECT vec_id, mn, mx, scale,
         list_transform(
           v, x -> abs(x - (mn + round((x - mn) / scale + 1e-12) * scale))
         ) AS errs,
         len(v) AS d
  FROM q
)
SELECT vec_id,
       round(mn + 1e-9, 6) AS v_min,
       round(mx + 1e-9, 6) AS v_max,
       round(list_aggregate(errs, 'max') + 1e-9, 6) AS max_abs_err,
       round(list_sum(list_transform(errs, x -> x * x)) / d + 1e-9, 9) AS mse
FROM err
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] int8 scalar quantization of the embedding column — the
    memory-side scale lever for ANN (4 bytes -> 1 byte per dim, 4×
    more vectors per executor). Per-vector (min, max) affine code:
    q = round((x - mn)/scale), scale = (mx - mn)/255. The query
    surfaces the reconstruction-error profile (max-abs + MSE per
    vector) — entirely native array lambdas on both engines, no UDF.
    Constant vectors take scale=1 so the code degenerates to q=0,
    err=0 (no div-by-zero)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    p = e.select(
        "vec_id",
        "v",
        F.array_min("v").alias("mn"),
        F.array_max("v").alias("mx"),
    ).withColumn(
        "scale",
        F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
            (F.col("mx") - F.col("mn")) / F.lit(255.0)
        ),
    )
    err = p.select(
        "vec_id",
        "mn",
        "mx",
        "scale",
        F.transform(
            "v",
            lambda x: F.abs(
                x
                - (
                    F.col("mn")
                    + F.round((x - F.col("mn")) / F.col("scale") + F.lit(1e-12), 0)
                    * F.col("scale")
                )
            ),
        ).alias("errs"),
        F.size("v").alias("d"),
    )
    sum_sq = F.aggregate(
        F.transform("errs", lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    eps = F.lit(1e-9)
    return err.select(
        "vec_id",
        F.round(F.col("mn") + eps, 6).alias("v_min"),
        F.round(F.col("mx") + eps, 6).alias("v_max"),
        F.round(F.array_max("errs") + eps, 6).alias("max_abs_err"),
        F.round(sum_sq / F.col("d") + eps, 9).alias("mse"),
    )


@register(
    "label_centroids",
    """
WITH e AS (
  SELECT label, vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), dims AS (
  SELECT label, i AS dim, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) AS s(i)
), c AS (
  SELECT label, dim, avg(x) AS m, count(*)::BIGINT AS n
  FROM dims GROUP BY label, dim
)
SELECT label,
       n AS n_vectors,
       round(sum(m * m) + 1e-9, 6) AS centroid_sq_norm,
       round(min(m) + 1e-9, 6) AS min_dim_mean,
       round(max(m) + 1e-9, 6) AS max_dim_mean
FROM c
GROUP BY label, n
""",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/IVF support op: per-label embedding centroid (element-wise
    mean) — the partition-centroid computation IVF routing relies on,
    expressed as one long-form explode → (label, dim) hash agg
    (map-side combined; shuffle = labels × dims compact rows, never
    vectors). Exposed as per-label centroid summary stats so the
    oracle compares scalars, not float arrays."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = e.select("label", F.posexplode("v").alias("dim0", "x"))
    c = dims.groupBy("label", "dim0").agg(
        F.avg("x").alias("m"), F.count("*").alias("n")
    )
    eps = F.lit(1e-9)
    return (
        c.groupBy("label", F.col("n").alias("n_vectors"))
        .agg(
            F.round(F.sum(F.col("m") * F.col("m")) + eps, 6).alias(
                "centroid_sq_norm"
            ),
            F.round(F.min("m") + eps, 6).alias("min_dim_mean"),
            F.round(F.max("m") + eps, 6).alias("max_dim_mean"),
        )
        .select(
            "label", "n_vectors", "centroid_sq_norm", "min_dim_mean", "max_dim_mean"
        )
    )


@register(
    "incremental_append",
    """
WITH existing AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id < 400
), incoming AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id >= 300
), fresh AS (
  SELECT i.vec_id, i.label FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.vec_id = i.vec_id)
)
SELECT vec_id, label, 0 AS is_new FROM existing
UNION ALL
SELECT vec_id, label, 1 AS is_new FROM fresh
""",
)
def q_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] incremental embedding-state append: the engine fix for the
    reference's per-request full re-embed (app.py:86,160) — embed
    once, persist, append only unseen keys (left-anti join). The
    overlapping id range (300-399 on both sides) is the idempotency
    case: re-delivered rows must NOT duplicate."""
    from resume_jd_matcher_spark.operators.relational import incremental_append

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    existing = emb.filter(F.col("vec_id") < 400).withColumn(
        "is_new", F.lit(0)
    )
    incoming = emb.filter(F.col("vec_id") >= 300).withColumn(
        "is_new", F.lit(1)
    )
    return incremental_append(existing, incoming, "vec_id")


def _lloyd_sql(n_clusters: int = 8, n_iter: int = 2, dp: int = 6) -> str:
    """Unrolled Lloyd-iteration CTE chain mirroring
    operators/ann.py lloyd_kmeans_partition: seeds = lowest-id vectors
    rounded to dp, then n_iter × (argmin assignment → per-dim mean
    rounded to dp). Rounding each iteration's centroids on BOTH engines
    quantizes away float-summation-order noise, so the trajectories are
    identical."""
    assign = """a{k} AS (
  SELECT vec_id, e, cid FROM (
    SELECT e0.vec_id, e0.e, s.cid,
           row_number() OVER (PARTITION BY e0.vec_id
                              ORDER BY {dist}, s.cid) AS rn
    FROM e0, {cents} s
  ) WHERE rn = 1
)"""
    update = """c{k} AS (
  SELECT cid, list(round(cv, {dp}) ORDER BY dim) AS c
  FROM (
    SELECT a.cid, d.dim, avg(a.e[d.dim]) AS cv
    FROM a{k} a, (SELECT unnest(generate_series(1, 64)) AS dim) d(dim)
    GROUP BY a.cid, d.dim
  ) GROUP BY cid
)"""
    ctes = [
        f"""e0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(e, x -> round(x, {dp})) AS c
  FROM (SELECT * FROM e0 ORDER BY vec_id LIMIT {n_clusters})
)""",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            assign.format(
                k=i, cents=f"c{i-1}", dist=SQL_SQL2.format(a="e0.e", b="s.c")
            )
        )
        ctes.append(update.format(k=i, dp=dp))
    # final assignment against the last centroids
    ctes.append(
        assign.format(
            k="f", cents=f"c{n_iter}", dist=SQL_SQL2.format(a="e0.e", b="s.c")
        )
    )
    return "WITH " + ",\n".join(ctes)


@register(
    "kmeans_ivf_topk",
    f"""
{_lloyd_sql(n_clusters=8, n_iter=2)},
q AS (
  SELECT vec_id AS query_id, e AS qe FROM e0 WHERE vec_id < 3
), routed AS (
  SELECT query_id, qe, cid FROM (
    SELECT q.query_id, q.qe, s.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {SQL_SQL2.format(a='q.qe', b='s.c')}, s.cid) AS crn
    FROM q, c2 s
  ) WHERE crn <= 2
), d AS (
  SELECT r.query_id, a.vec_id, a.cid,
         {SQL_SQL2.format(a='r.qe', b='a.e')} AS dist
  FROM routed r JOIN af a ON a.cid = r.cid
), ranked AS (
  SELECT query_id, vec_id, cid, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT query_id, vec_id, cid::INT AS cid, round(dist, 4) AS dist
FROM ranked WHERE rn <= 5
""",
)
def q_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/ANN with a LEARNED coarse quantizer: fixed-iteration
    deterministically-seeded Lloyd k-means clusters the corpus, then
    IVF-routes queries to the 2 nearest learned centroids and
    exact-ranks only inside those clusters. Per-iteration centroid
    rounding makes the learned quantizer itself oracle-checkable — the
    DuckDB twin replays the identical Lloyd trajectory as unrolled
    CTEs (flipped from rows-only in r03). The MLlib KMeans|| variant
    of the same shape keeps its recall-floor pytest
    (tests/test_vector.py)."""
    from resume_jd_matcher_spark.operators.ann import (
        ivf_topk,
        lloyd_kmeans_partition,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    parted, cents = lloyd_kmeans_partition(
        emb.select("vec_id", "embedding"), n_clusters=8, n_iter=2, out_col="cid"
    )
    return ivf_topk(
        parted,
        _emb_queries(spark, sf_dir),
        k=5,
        partition_col="cid",
        n_probe=2,
        centroids=cents,
    )


@register(
    "semdedup",
    f"""
{_lloyd_sql(n_clusters=8, n_iter=2)},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({SQL_DOT.format(a='a.e', b='b.e')} /
              ({SQL_NORM.format(a='a.e')} * {SQL_NORM.format(a='b.e')}), 4) >= 0.35
)
SELECT f.vec_id, f.cid::INT AS cid,
       (d.vec_id IS NULL)::INT AS is_kept
FROM af f LEFT JOIN dropped d ON f.vec_id = d.vec_id
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 [EXT]: SemDeDup (Abbas et al. 2023) semantic dedup — Lloyd
    coarse-quantize the embedding space, prune cosine-≥τ pairs ONLY
    within clusters (O(Σ cluster²), never corpus²), drop each vector
    with a lower-id near-duplicate cluster-mate. The DuckDB twin
    replays the identical deterministic Lloyd trajectory (unrolled
    CTEs) and the same rounded-cosine boundary calls."""
    from resume_jd_matcher_spark.operators.dedup import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(
        emb.select("vec_id", "embedding"), n_clusters=8, n_iter=2, tau=0.35
    )


@register(
    "embedding_drift",
    """
WITH e AS (
  SELECT vec_id, label,
         CASE WHEN vec_id < 250 THEN 'a' ELSE 'b' END AS half,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), dims AS (
  SELECT label, half, i AS dim, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) AS s(i)
), c AS (
  SELECT label, half, dim, avg(x) AS m FROM dims GROUP BY label, half, dim
), w AS (
  SELECT a.label, a.dim, a.m AS ma, b.m AS mb
  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
  WHERE a.half = 'a' AND b.half = 'b'
)
SELECT label,
       round(sqrt(sum((ma - mb) * (ma - mb))) + 1e-9, 6) AS centroid_shift,
       round(sum(abs(ma - mb)) / count(*) + 1e-9, 6) AS mean_abs_dim_shift
FROM w GROUP BY label
""",
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding drift monitor: per-label centroid shift between
    two corpus slices (old vs new embedding batches) — the check that
    catches a silently-changed embedding model before it poisons the
    ANN index. Long-form (label, half, dim) hash agg, then a
    self-join on (label, dim): all map-side-combined, shuffle carries
    labels × dims rows, never vectors."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.when(F.col("vec_id") < 250, "a").otherwise("b").alias("half"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = e.select("label", "half", F.posexplode("v").alias("dim", "x"))
    c = dims.groupBy("label", "half", "dim").agg(F.avg("x").alias("m"))
    a = c.filter(F.col("half") == "a").select(
        "label", "dim", F.col("m").alias("ma")
    )
    b = c.filter(F.col("half") == "b").select(
        "label", "dim", F.col("m").alias("mb")
    )
    eps = F.lit(1e-9)
    diff = F.col("ma") - F.col("mb")
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(diff * diff)) + eps, 6).alias("centroid_shift"),
            F.round(F.sum(F.abs(diff)) / F.count("*") + eps, 6).alias(
                "mean_abs_dim_shift"
            ),
        )
    )


@register(
    "chunk_embed_pool",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
), chunks AS (
  SELECT doc_id,
         array_to_string(toks[i : i + 127], ' ') AS chunk_text
  FROM t, unnest(generate_series(1, len(toks), 96)) AS s(i)
  WHERE len(toks) > 0
), ce AS (
  SELECT doc_id, d AS dim,
         round((('0x' || substr(md5(chunk_text || '#dim' || d), 1, 8))::BIGINT
          / 4294967296.0) * 2.0 - 1.0, 6) AS v
  FROM chunks, (SELECT unnest(generate_series(0, 7)) AS d) dims
), pooled AS (
  SELECT doc_id, dim, avg(v) AS pv, count(*)::BIGINT AS n_chunks
  FROM ce GROUP BY doc_id, dim
)
SELECT doc_id,
       any_value(n_chunks) AS n_chunks,
       round(sqrt(sum(pv * pv)) + 1e-9, 6) AS pooled_norm,
       round(min(pv) + 1e-9, 6) AS min_dim,
       round(max(pv) + 1e-9, 6) AS max_dim
FROM pooled GROUP BY doc_id
""",
)
def q_chunk_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] hierarchical long-document embedding: chunk each doc into
    128-token/96-stride windows, embed each chunk (hash backend), MEAN-POOL
    chunk vectors back to one doc vector — the standard recipe when a
    document exceeds the encoder's context window. Pooling is a
    long-form (doc, dim) hash agg; chunking and embedding stay inside
    one narrow map stage. Output: per-doc pooled-vector summary."""
    from resume_jd_matcher_spark.operators.embedding import embed_documents

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(96))
    chunks = (
        d.filter(F.size(toks) > 0)
        .select(
            "doc_id",
            F.explode(starts).alias("i"),
            toks.alias("toks"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("toks", F.col("i"), 128)).alias("text"),
        )
    )
    ce = embed_documents(chunks, backend="hash", dim=8)  # (doc_id, embedding)
    dims = ce.select("doc_id", F.posexplode("embedding").alias("dim", "v"))
    pooled = dims.groupBy("doc_id", "dim").agg(
        F.avg("v").alias("pv"), F.count("*").alias("n_chunks")
    )
    eps = F.lit(1e-9)
    return pooled.groupBy("doc_id").agg(
        F.first("n_chunks").alias("n_chunks"),
        F.round(F.sqrt(F.sum(F.col("pv") * F.col("pv"))) + eps, 6).alias(
            "pooled_norm"
        ),
        F.round(F.min("pv") + eps, 6).alias("min_dim"),
        F.round(F.max("pv") + eps, 6).alias("max_dim"),
    )


@register(
    "embedding_outliers",
    """
WITH dims AS (
  SELECT vec_id, label, i - 1 AS dim, embedding[i]::DOUBLE AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS s(i)
), c AS (
  SELECT label, dim, round(avg(x) + 1e-12, 6) AS m FROM dims GROUP BY label, dim
), d AS (
  SELECT vec_id, dims.label AS label,
         round(sum((x - m) * (x - m)) + 1e-9, 4) AS d2
  FROM dims JOIN c ON dims.label = c.label AND dims.dim = c.dim
  GROUP BY vec_id, dims.label
), st AS (
  SELECT label, avg(d2) AS mu, stddev_samp(d2) AS sd FROM d GROUP BY label
)
SELECT d.vec_id, d.label, d.d2,
       round((d.d2 - mu) / sd + 1e-9, 3) AS z,
       (abs((d.d2 - mu) / sd) > 2.0)::INT AS is_outlier
FROM d JOIN st ON d.label = st.label
""",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding-space outlier screen: per-label centroid →
    per-vector squared distance → per-label z-score, flag |z| > 2 —
    the mislabeled/garbage-vector detector run before an ANN index
    build. Long-form hash aggs + broadcast centroid join; rounding at
    each stage boundary quenches cross-engine float-sum ordering."""
    from resume_jd_matcher_spark.operators.quality import embedding_outliers

    return embedding_outliers(load_table(spark, sf_dir, "embeddings"))


@register(
    "ann_recall_eval",
    f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), c AS (
  SELECT vec_id, e AS ce,
         {{sig_c}} AS bucket
  FROM e0
), q AS (
  SELECT vec_id AS query_id, e AS qe,
         {{sig_q}} AS qbucket
  FROM e0 WHERE vec_id < 3
), d AS (
  SELECT q.query_id, c.vec_id,
         {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c JOIN q ON c.bucket = q.qbucket
), lsh AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
    FROM d) WHERE rn <= 5
), xd AS (
  SELECT q.query_id, c0.vec_id,
         {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM (SELECT vec_id, e AS ce FROM e0) c0, q
), ex AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
    FROM xd) WHERE rn <= 5
), hits AS (
  SELECT lsh.query_id, count(*)::BIGINT AS n_hits
  FROM lsh JOIN ex ON lsh.query_id = ex.query_id AND lsh.vec_id = ex.vec_id
  GROUP BY lsh.query_id
)
SELECT qq.query_id, coalesce(n_hits, 0)::INT AS n_hits,
       round(coalesce(n_hits, 0) / 5.0 + 1e-12, 2) AS recall_at_5
FROM (SELECT DISTINCT query_id FROM ex) qq
LEFT JOIN hits ON qq.query_id = hits.query_id
""".format(
        sig_c=_SQL_LSH_SIG.format(a="e", planes=_LSH_PLANES),
        sig_q=_SQL_LSH_SIG.format(a="e", planes=_LSH_PLANES),
    ),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ANN quality evaluation IN-ENGINE: recall@5 of the
    hyperplane-LSH index against exact brute-force ground truth, per
    query — the accept/reject gate an index build runs before
    promotion (the recall SLO check). Both rankings execute in one
    plan; the comparison is an equi-join on (query, vec), never a
    collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    queries_df = _emb_queries(spark, sf_dir)
    lsh = lsh_bucket_topk(corpus, queries_df, k=5, n_planes=_LSH_PLANES).select(
        "query_id", "vec_id"
    )
    exact = topk_similarity_blas(corpus, queries_df, k=5).select(
        "query_id", "vec_id"
    )
    hits = lsh.join(exact, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    qq = exact.select("query_id").distinct()
    return qq.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0) + F.lit(1e-12), 2
        ).alias("recall_at_5"),
    )


@register(
    "embedding_whiten",
    """
WITH ex AS (
  SELECT vec_id, t.i - 1 AS dim, embedding[t.i]::DOUBLE AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), stats AS (
  SELECT dim, round(avg(x), 6) AS mu, round(stddev_pop(x), 6) AS sd
  FROM ex GROUP BY dim
)
SELECT e.vec_id, e.dim::INT AS dim,
       round((e.x - s.mu)
             * (CASE WHEN s.sd = 0.0 THEN 0.0 ELSE 1.0 / s.sd END),
             6) AS z
FROM ex e JOIN stats s ON e.dim = s.dim
WHERE e.vec_id < 3
""",
)
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] per-dimension standardization (diagonal whitening) of the
    embedding column — corpus-wide μ/σ per dim, z = (x−μ)/σ — the
    pre-ANN conditioning step that stops high-variance dims dominating
    distance. Stats are one map-side-combined agg (≤ n_dims rows,
    rounded before use so the transform replays exactly); the
    transform itself is a zip_with against literal arrays — no second
    shuffle. Exposed long-form for the first 3 vectors
    (operators/embedding.py:whiten_embeddings)."""
    from resume_jd_matcher_spark.operators.embedding import whiten_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    wh = whiten_embeddings(emb.select("vec_id", "embedding"))
    return (
        wh.filter(F.col("vec_id") < 3)
        .select("vec_id", F.posexplode("whitened").alias("dim", "z"))
        .select("vec_id", F.col("dim").cast("int").alias("dim"), F.round("z", 6).alias("z"))
    )


def _pca_oracle(d: int = 64, n_iter: int = 8) -> str:
    """Unrolled power-iteration oracle: distributed covariance (pair
    join, rounded 6), then n_iter SQL matvec+normalize steps with each
    iterate rounded to 9 — the identical trajectory the engine's
    driver loop walks (operators/embedding.py:pca_power_top1)."""
    head = f"""WITH ex AS MATERIALIZED (
  SELECT vec_id, t.i - 1 AS dim, embedding[t.i]::DOUBLE AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), mu AS MATERIALIZED (
  SELECT dim, round(avg(x), 6) AS mu FROM ex GROUP BY dim
), cx AS MATERIALIZED (
  SELECT e.vec_id, e.dim, e.x - m.mu AS c
  FROM ex e JOIN mu m ON e.dim = m.dim
), nn AS MATERIALIZED (
  SELECT count(*)::BIGINT AS n FROM embeddings
), cov AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         round(sum(a.c * b.c) / any_value(nn.n), 6) AS c
  FROM cx a JOIN cx b ON a.vec_id = b.vec_id, nn
  GROUP BY a.dim, b.dim
), mrow AS MATERIALIZED (
  SELECT i, list(c ORDER BY j) AS mr FROM cov GROUP BY i
), v0 AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {d}),
                        x -> round(1.0 / sqrt({d}.0), 9)) AS v
)"""
    steps = []
    for t in range(1, n_iter + 1):
        steps.append(
            f""", it{t} AS MATERIALIZED (
  SELECT m.i AS i,
         list_sum(list_transform(generate_series(1, {d}),
                  j -> m.mr[j] * p.v[j])) AS y
  FROM mrow m, v{t - 1} p
), v{t} AS MATERIALIZED (
  SELECT list_transform(ys, y -> round(y / nrm, 9)) AS v
  FROM (SELECT list(y ORDER BY i) AS ys,
               sqrt(list_sum(list_transform(list(y ORDER BY i),
                                            t2 -> t2 * t2))) AS nrm
        FROM it{t})
)"""
        )
    tail = f""", mulist AS MATERIALIZED (
  SELECT list(mu ORDER BY dim) AS ml FROM mu
)
SELECT e.vec_id,
       round(list_sum(list_transform(generate_series(1, len(e.embedding)),
             k -> (e.embedding[k]::DOUBLE - ml.ml[k]) * vf.v[k])), 6)
         AS pc1_proj
FROM embeddings e, mulist ml, v{n_iter} vf
WHERE e.vec_id < 50"""
    return head + "".join(steps) + tail


@register("pca_top_component", _pca_oracle())
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] top principal component of the embedding column:
    distributed centered Gram via mapInPandas partial Cᵀ·C per Arrow
    batch (shuffle ≤ d² rows per batch), then driver power iteration
    on the collected d×d covariance with every number rounded before
    use so the oracle's unrolled-SQL twin replays the exact
    trajectory. Exposes the per-vector projection for the first 50
    ids (operators/embedding.py:pca_power_top1)."""
    from resume_jd_matcher_spark.operators.embedding import pca_power_top1

    emb = load_table(spark, sf_dir, "embeddings")
    proj, _v, _ev = pca_power_top1(emb.select("vec_id", "embedding"), n_iter=8)
    return proj.filter(F.col("vec_id") < 50)


def _jl_oracle(k: int = 16, d: int = 64) -> str:
    """Oracle twin of jl_project: the same ±1 sign literals (generated
    from the same md5 derivation), the same ascending-j fold per
    output dim, the same 1/√k scale applied after the fold."""
    import math

    from resume_jd_matcher_spark.operators.embedding import _jl_sign

    inv = repr(1.0 / math.sqrt(k))
    rows = []
    for i in range(k):
        signs = ", ".join(
            f"{float(_jl_sign(i, j))!r}" for j in range(d)
        )
        rows.append(
            f"SELECT {i} AS out_dim, [{signs}]::DOUBLE[] AS s"
        )
    return f"""
WITH signs AS MATERIALIZED ({' UNION ALL '.join(rows)})
SELECT e.vec_id, g.out_dim::INT AS out_dim,
       round(list_sum(list_transform(generate_series(1, {d}),
             j -> e.embedding[j]::DOUBLE * g.s[j])) * {inv}, 6) AS value
FROM embeddings e, signs g
WHERE e.vec_id < 20
"""


@register("jl_projection", _jl_oracle())
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Johnson–Lindenstrauss ±1/√k random projection (Achlioptas
    2001) of the 64-d embeddings to 16 dims — the shuffle-free
    dimensionality reduction used before LSH/clustering at large d.
    The deterministic md5-derived sign matrix is baked into both
    engines as literals, so the projection is a pure codegen'd fold
    with no stored model (operators/embedding.py:jl_project). Exposed
    long-form for the first 20 vectors."""
    from resume_jd_matcher_spark.operators.embedding import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    pr = jl_project(emb.select("vec_id", "embedding"), k=16, in_dim=64)
    return (
        pr.filter(F.col("vec_id") < 20)
        .select("vec_id", F.posexplode("proj").alias("out_dim", "v"))
        .select(
            "vec_id",
            F.col("out_dim").cast("int").alias("out_dim"),
            F.round("v", 6).alias("value"),
        )
    )


_MP_FLIPS = ", ".join(f"xor(qbucket, {1 << j})" for j in range(8))


@register(
    "ann_multiprobe_topk",
    f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), c AS (
  SELECT vec_id, e AS ce,
         {_SQL_LSH_SIG.format(a='e', planes=_LSH_PLANES)} AS bucket
  FROM e0
), q AS (
  SELECT vec_id AS query_id, e AS qe,
         {_SQL_LSH_SIG.format(a='e', planes=_LSH_PLANES)} AS qbucket
  FROM e0 WHERE vec_id < 3
), probes AS (
  SELECT query_id, qe, unnest([qbucket::BIGINT, {_MP_FLIPS}]) AS probe
  FROM q
), d AS (
  SELECT p.query_id, c.vec_id, c.bucket,
         {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c JOIN probes p ON c.bucket = p.probe
), r AS (
  SELECT query_id, vec_id, bucket, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
  FROM d
)
SELECT query_id, vec_id, bucket, round(dist, 4) AS dist
FROM r WHERE rn <= 5
""",
)
def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall lever: multi-probe LSH (Lv et al. VLDB'07) — each
    query probes its bucket plus all 1-bit-flip neighbors, recovering
    the likeliest single-probe misses (vectors just across ONE
    hyperplane) without doubling hash tables. Probe keys fan out on
    the broadcast query side only; the corpus join stays a plain
    equi-join (operators/ann.py:lsh_multiprobe_topk)."""
    from resume_jd_matcher_spark.operators.ann import lsh_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_multiprobe_topk(
        emb.select("vec_id", "embedding"),
        _emb_queries(spark, sf_dir),
        k=5,
        n_planes=_LSH_PLANES,
    )


@register(
    "align_uniformity",
    f"""
WITH s AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e
  FROM embeddings WHERE vec_id < 250
), c AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.label AS la, b.label AS lb,
         2.0 - 2.0 * ({SQL_DOT.format(a='a.e', b='b.e')})
           / (({SQL_NORM.format(a='a.e')}) * ({SQL_NORM.format(a='b.e')})) AS d2
  FROM s a JOIN s b ON a.vec_id < b.vec_id
), al AS (
  SELECT count(*)::BIGINT AS n_pos, avg(d2) AS alignment
  FROM c WHERE la = lb
), un AS (
  SELECT count(*)::BIGINT AS n_all, ln(avg(exp(-2.0 * d2))) AS uniformity
  FROM c
)
SELECT al.n_pos, un.n_all,
       round(al.alignment + 1e-9, 6) AS alignment,
       round(un.uniformity + 1e-9, 6) AS uniformity
FROM al CROSS JOIN un
""",
)
def q_align_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding-space quality metrics of Wang & Isola 2020
    ("Understanding Contrastive Representation Learning through
    Alignment and Uniformity"): alignment = mean squared distance of
    NORMALIZED same-label pairs (lower = positives cluster);
    uniformity = log mean Gaussian-potential over all pairs (lower =
    mass spreads over the hypersphere). The pair a collapsing encoder
    fails: great alignment, terrible uniformity — the standard
    monitor for embedding training runs.

    Normalized squared distance computed as 2 − 2·cos via the shared
    deterministic cosine fold. The pair base is a BOUNDED sample
    (vec_id < 250, asserted ≤ 1024 rows) — at corpus scale this metric
    is always sampled; pair volume is sample², never corpus²."""
    from resume_jd_matcher_spark.functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.filter(F.col("vec_id") < 250).select("vec_id", "label", "embedding")
    n_sample = s.count()
    assert n_sample <= 1024, "alignment/uniformity runs on a bounded sample"
    a = s.select(
        F.col("vec_id").alias("ia"), F.col("label").alias("la"), F.col("embedding").alias("ea")
    )
    b = s.select(
        F.col("vec_id").alias("ib"), F.col("label").alias("lb"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "la",
            "lb",
            (F.lit(2.0) - F.lit(2.0) * cosine("ea", "eb")).alias("d2"),
        )
    )
    al = pairs.filter(F.col("la") == F.col("lb")).agg(
        F.count("*").alias("n_pos"), F.avg("d2").alias("alignment")
    )
    un = pairs.agg(
        F.count("*").alias("n_all"),
        F.log(F.avg(F.exp(F.lit(-2.0) * F.col("d2")))).alias("uniformity"),
    )
    eps = F.lit(1e-9)
    return al.crossJoin(F.broadcast(un)).select(
        "n_pos",
        "n_all",
        F.round(F.col("alignment") + eps, 6).alias("alignment"),
        F.round(F.col("uniformity") + eps, 6).alias("uniformity"),
    )


@register(
    "silhouette_score",
    """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), dims AS (
  SELECT vec_id, label, i AS dim, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) s(i)
), c AS (
  SELECT label AS lc, dim, avg(x) AS m FROM dims GROUP BY label, dim
), d2 AS (
  SELECT d.vec_id, d.label, c.lc,
         sum((d.x - c.m) * (d.x - c.m)) AS d2
  FROM dims d JOIN c ON d.dim = c.dim
  GROUP BY d.vec_id, d.label, c.lc
), pp AS (
  SELECT vec_id, label,
         sqrt(min(CASE WHEN lc = label THEN d2 END)) AS a,
         sqrt(min(CASE WHEN lc <> label THEN d2 END)) AS b
  FROM d2 GROUP BY vec_id, label
)
SELECT label,
       count(*)::BIGINT AS n_points,
       round(avg(CASE WHEN greatest(a, b) > 0
                      THEN (b - a) / greatest(a, b) ELSE 0.0 END) + 1e-9,
             4) AS avg_silhouette,
       round(avg(CASE WHEN b > a THEN 1.0 ELSE 0.0 END) + 1e-9, 4)
         AS frac_well_separated
FROM pp GROUP BY label
""",
)
def q_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] clustering-quality monitor: simplified (centroid-based)
    silhouette per label — a(i) = distance to own-label centroid,
    b(i) = distance to the nearest other-label centroid,
    s = (b-a)/max(a,b) (Rousseeuw 1987 silhouette; the centroid
    simplification of Hruschka et al. 2004 replaces the O(n²)
    mean-pairwise distances with O(n·k) centroid distances — the only
    formulation that scales). The per-label average is the standing
    health gate for any labeled / clustered embedding corpus (e.g.
    after IVF k-means or SemDeDup clustering).

    Scale shape: centroids are one long-form (label, dim) hash agg
    (bounded k·d rows, broadcast back); assignment distances are the
    IVF-assignment shape — the (point, dim) stream joins the broadcast
    centroid table and map-side-combines to n·k partial sums before
    the shuffle; no vector ever crosses the wire whole, no pairwise
    point-point join anywhere."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dims = e.select("vec_id", "label", F.posexplode("v").alias("dim", "x"))
    cents = (
        dims.groupBy(F.col("label").alias("lc"), "dim")
        .agg(F.avg("x").alias("m"))
    )
    d2 = (
        dims.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "lc")
        .agg(F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m"))).alias("d2"))
    )
    pp = d2.groupBy("vec_id", "label").agg(
        F.sqrt(F.min(F.when(F.col("lc") == F.col("label"), F.col("d2")))).alias("a"),
        F.sqrt(F.min(F.when(F.col("lc") != F.col("label"), F.col("d2")))).alias("b"),
    )
    g = F.greatest(F.col("a"), F.col("b"))
    s = F.when(g > 0, (F.col("b") - F.col("a")) / g).otherwise(F.lit(0.0))
    eps = F.lit(1e-9)
    return pp.groupBy("label").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg(s) + eps, 4).alias("avg_silhouette"),
        F.round(
            F.avg(F.when(F.col("b") > F.col("a"), 1.0).otherwise(0.0)) + eps, 4
        ).alias("frac_well_separated"),
    )


# ---------------------------------------------------------------------------
# Embedding covariance spectrum functionals (round 10)
# ---------------------------------------------------------------------------

@register(
    "embedding_effective_rank",
    """
WITH ex AS MATERIALIZED (
  SELECT vec_id, t.i - 1 AS dim, embedding[t.i]::DOUBLE AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), mu AS MATERIALIZED (
  SELECT dim, round(avg(x), 6) AS mu FROM ex GROUP BY dim
), cx AS MATERIALIZED (
  SELECT e.vec_id, e.dim, e.x - m.mu AS c
  FROM ex e JOIN mu m ON e.dim = m.dim
), nn AS (
  SELECT count(*)::BIGINT AS n FROM embeddings
), cov AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         round(sum(a.c * b.c) / any_value(nn.n), 6) AS c
  FROM cx a JOIN cx b ON a.vec_id = b.vec_id, nn
  GROUP BY a.dim, b.dim
), f AS (
  SELECT count(DISTINCT i)::INT AS d,
         sum(CASE WHEN i = j THEN c ELSE 0 END) AS trace,
         sum(c * c) AS fro2
  FROM cov
)
SELECT d, (SELECT n FROM nn) AS n_vecs,
       round(trace + 1e-9, 4) AS trace,
       round(trace * trace / nullif(fro2, 0.0) + 1e-9, 4)
         AS participation_ratio
FROM f
""",
)
def q_embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] covariance-spectrum health of the embedding column
    WITHOUT an eigendecomposition: total variance tr(C) and the
    participation ratio tr(C)²/tr(C²) = (Σλ)²/Σλ² — the effective
    number of dimensions the embedding actually uses (d if isotropic,
    →1 if one direction dominates; Gao et al. 2019's dimensionality
    diagnostic). The collapse early-warning beside embedding_drift
    (mean shift) and pca_top_component (the dominant direction
    itself): a falling participation ratio means representations are
    collapsing long before ANN recall visibly degrades.

    Scale shape: the covariance is the SAME Arrow-batch partial-Gram
    kernel as PCA (operators/embedding.covariance_matrix — per batch
    a vectorized Cᵀ·C, shuffle ≤ d² rows per batch) but stays
    DISTRIBUTED: both functionals reduce the d² grain in one hash
    agg, so nothing is collected and the driver never holds M.
    Entries round to 6 dp before the reduction exactly like the PCA
    path, so the oracle's recomputed covariance replays the same
    numbers; tr identities make the spectrum readable with zero
    iteration."""
    from resume_jd_matcher_spark.operators.embedding import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # bounded scalar, same contract as the PCA kernel
    cov = covariance_matrix(emb.select("vec_id", "embedding"))
    f = cov.agg(
        F.countDistinct("i").cast("int").alias("d"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(0.0)).alias(
            "trace"
        ),
        F.sum(F.col("c") * F.col("c")).alias("fro2"),
    )
    return f.select(
        "d",
        F.lit(n).cast("bigint").alias("n_vecs"),
        F.round(F.col("trace") + F.lit(1e-9), 4).alias("trace"),
        F.round(
            F.col("trace") * F.col("trace")
            / F.nullif(F.col("fro2"), F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("participation_ratio"),
    )
