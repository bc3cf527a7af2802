"""Advanced / composite operators: the full shortlist lifecycle, map
assembly, array scalar suite, MLlib LSH (SURVEY.md
§2.D A3, §2.H, §3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.embedding import embed_documents, embed_query
from resume_jd_matcher_spark.operators.similarity_blas import topk_similarity_blas
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.queries.scoring_q import JD_TEXT, _expected_sections
from resume_jd_matcher_spark.sources.io import load_table


_SQL_EMBED = (
    "list_transform(generate_series(0, 7), d -> "
    "round((('0x' || substr(md5({t} || '#dim' || d), 1, 8))::BIGINT "
    "/ 4294967296.0) * 2.0 - 1.0, 6))"
)

_SQL_SQL2_D = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)


@register(
    "shortlist_e2e",
    f"""
WITH corpus AS (
  SELECT doc_id, {_SQL_EMBED.format(t='text')} AS ce FROM documents
), q AS (
  SELECT 0::BIGINT AS query_id, {_SQL_EMBED.format(t=f"'{JD_TEXT}'")} AS qe
), d AS (
  SELECT query_id, doc_id, {_SQL_SQL2_D.format(a='qe', b='ce')} AS dist
  FROM corpus, q
), r AS (
  SELECT query_id, doc_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id) AS rn
  FROM d
)
SELECT query_id, doc_id, round(dist, 4) AS dist,
       round(10.0/(1.0+dist), 2) AS score
FROM r WHERE rn <= 10
""",
)
def q_shortlist_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 full /shortlist lifecycle: embed corpus (V1, hash backend)
    → embed JD (V2) → top-k with scores (V5+T5+W1) — every stage the
    real operator, embeddings computed in-flight by the iterator UDF."""
    corpus = embed_documents(
        load_table(spark, sf_dir, "documents"), backend="hash", dim=8
    )
    q = embed_query(spark, JD_TEXT, backend="hash", dim=8)
    return topk_similarity_blas(
        corpus, q, k=10, id_col="doc_id", query_id_col="query_id"
    ).withColumn("dist", F.round("dist", 4))


@register(
    "sections_map",
    """
WITH base AS (
  SELECT doc_id,
         substr(text, 1, 80) AS s1, substr(text, 81, 160) AS s2
  FROM documents
), sections AS (
  SELECT doc_id, 'summary' AS section, trim(s1) AS body FROM base
  UNION ALL SELECT doc_id, 'experience', trim(s2) FROM base
  UNION ALL SELECT doc_id, 'skills', trim(s1 || ' extra') FROM base
  UNION ALL SELECT doc_id, 'education', trim(s2) FROM base
)
SELECT doc_id,
       count(*)::INT AS n_sections,
       string_agg(section || '=' || substr(body, 1, 12), '; ' ORDER BY section)
         AS sections_repr
FROM sections GROUP BY doc_id
""",
)
def q_sections_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: collect-to-map (the reference's dict-of-sections, D3) —
    map_from_entries over sorted entries, re-serialized deterministically
    for comparison."""
    secs = _expected_sections(spark, sf_dir)
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct(F.col("section"), F.col("body"))))
    )
    return (
        secs.groupBy("doc_id")
        .agg(m.alias("m"))
        .select(
            "doc_id",
            F.size(F.map_keys("m")).cast("int").alias("n_sections"),
            F.concat_ws(
                "; ",
                F.transform(
                    F.map_entries("m"),
                    lambda e: F.concat(
                        e["key"], F.lit("="), F.substring(e["value"], 1, 12)
                    ),
                ),
            ).alias("sections_repr"),
        )
    )


@register(
    "array_ops",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       len(v)::INT AS dim,
       round(v[1], 6) AS first_v,
       round(list_sum(list_transform(v, x -> abs(x))), 4) AS l1_norm,
       len(list_filter(v, x -> x > 0))::INT AS n_pos,
       (list_max(v) > 0.5)::INT AS has_big
FROM e
""",
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 array suite: size / element_at / transform+aggregate /
    filter / exists over the embedding column."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.element_at(v, 1), 6).alias("first_v"),
        F.round(
            F.aggregate(
                F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x
            ),
            4,
        ).alias("l1_norm"),
        F.size(F.filter(v, lambda x: x > 0)).cast("int").alias("n_pos"),
        F.exists(v, lambda x: x > 0.5).cast("int").alias("has_big"),
    )


@register("mllib_lsh_join", None)
def q_mllib_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8/V6 via MLlib (rows-only: hash functions are MLlib-internal):
    BucketedRandomProjectionLSH approxSimilarityJoin on the embedding
    column — the library counterpart of operators/ann.py. Fixed seed
    for reproducibility; recall vs exact checked in pytest."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(emb)
    left = emb.filter(F.col("vec_id") < 50)
    joined = model.approxSimilarityJoin(left, emb, 1.25, distCol="l2_dist")
    return (
        joined.select(
            F.col("datasetA.vec_id").alias("left_id"),
            F.col("datasetB.vec_id").alias("right_id"),
            F.round(F.col("l2_dist") * F.col("l2_dist"), 4).alias("dist"),
        )
        .filter(F.col("left_id") < F.col("right_id"))
    )


@register(
    "mllib_lsh_agreement",
    """
WITH a AS (
  SELECT vec_id AS left_id, embedding::DOUBLE[] AS le
  FROM embeddings WHERE vec_id < 50
), b AS (
  SELECT vec_id AS right_id, embedding::DOUBLE[] AS re FROM embeddings
)
SELECT left_id, right_id,
       round(list_sum(list_transform(generate_series(1, len(le)),
             i -> (le[i]-re[i])*(le[i]-re[i]))), 4) AS dist
FROM a JOIN b ON left_id < right_id
WHERE list_sum(list_transform(generate_series(1, len(le)),
      i -> (le[i]-re[i])*(le[i]-re[i]))) < 1.5625
""",
)
def q_mllib_lsh_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8/V6: the MLlib BucketedRandomProjectionLSH path under a HARD
    oracle — the full-recall agreement gate the rows-only
    ``mllib_lsh_join`` can't give. At (bucketLength=2.0,
    numHashTables=15, seed=42, threshold 1.25) the OR-amplified
    candidate join achieves recall 1.0 vs exact on the fixture, so the
    MLlib pair set EQUALS the exact SQL pair set: the oracle is the
    brute-force SQL join, and any recall regression in the MLlib path
    (seed drift, hashing change, candidate pruning bug) shows up as a
    row-count/hash mismatch. Distances are recomputed from the pair
    ids with the engine's deterministic squared-L2 fold (not MLlib's
    distCol) so the doubles are bit-identical to the oracle's.

    Scale shape: approxSimilarityJoin is a bucket equi-join (explode
    hash tables → join on (table, bucket) → distinct candidates →
    true-distance filter) — same candidate-generation shape as
    operators/ann.py, never corpus².
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from resume_jd_matcher_spark.functions.vector import squared_l2

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=15,
        seed=42,
    )
    model = lsh.fit(emb)
    left = emb.filter(F.col("vec_id") < 50)
    pair_ids = (
        model.approxSimilarityJoin(left, emb, 1.25, distCol="l2_dist")
        .select(
            F.col("datasetA.vec_id").alias("left_id"),
            F.col("datasetB.vec_id").alias("right_id"),
        )
        .filter(F.col("left_id") < F.col("right_id"))
    )
    ea = emb.select(F.col("vec_id").alias("left_id"), F.col("embedding").alias("_ea"))
    eb = emb.select(F.col("vec_id").alias("right_id"), F.col("embedding").alias("_eb"))
    return (
        pair_ids.join(F.broadcast(ea), "left_id")
        .join(eb, "right_id")
        .select(
            "left_id",
            "right_id",
            F.round(squared_l2(F.col("_ea"), F.col("_eb")), 4).alias("dist"),
        )
    )


@register(
    "pipeline_e2e",
    f"""
WITH scored AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
         len(string_split_regex(trim(lower(text)), '\\s+')) AS ntok
  FROM documents
), reps AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM scored WHERE ntok BETWEEN 20 AND 1000
), kept AS (
  SELECT doc_id, text FROM reps WHERE rn = 1
), corpus AS (
  SELECT doc_id, {_SQL_EMBED.format(t='text')} AS ce FROM kept
), q AS (
  SELECT 0::BIGINT AS query_id, {_SQL_EMBED.format(t=f"'{JD_TEXT}'")} AS qe
), d AS (
  SELECT query_id, doc_id, {_SQL_SQL2_D.format(a='qe', b='ce')} AS dist
  FROM corpus, q
), r AS (
  SELECT query_id, doc_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id) AS rn
  FROM d
)
SELECT query_id, doc_id, round(dist, 4) AS dist,
       round(10.0/(1.0+dist), 2) AS score
FROM r WHERE rn <= 10
""",
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data lifecycle in one declarative plan:
    exact dedup (keep lowest id per md5 fingerprint) → length gate →
    embed survivors (V1 hash backend, in-flight) → top-10 vs the JD
    with normalized scores (V5+T5+W1). One scan; dedup is one window,
    the match is the partial-top-k BLAS path — the full
    ingest→clean→match chain a 100 TB deployment runs nightly."""
    from pyspark.sql import Window

    from resume_jd_matcher_spark.functions.text import fingerprint_md5, tokens

    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens("text"))
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    kept = (
        d.select("doc_id", "text", fingerprint_md5("text").alias("fp"))
        .filter(ntok.between(20, 1000))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    corpus = embed_documents(kept, backend="hash", dim=8)
    q = embed_query(spark, JD_TEXT, backend="hash", dim=8)
    return topk_similarity_blas(
        corpus, q, k=10, id_col="doc_id", query_id_col="query_id"
    ).withColumn("dist", F.round("dist", 4))


@register(
    "score_deciles",
    """
WITH q AS (
  SELECT doc_id,
         round(0.5 * least((length(text) - length(replace(text, ' ', ''))
                            + 1)::DOUBLE / 100.0, 1.0), 4) AS quality
  FROM documents
), v AS (
  SELECT doc_id, quality, floor(quality * 1000)::BIGINT AS b FROM q
), hist AS (
  SELECT b, count(*)::BIGINT AS cnt FROM v GROUP BY b
), tot AS (
  SELECT sum(cnt)::BIGINT AS n FROM hist
), cdf AS (
  SELECT b, sum(cnt) OVER (ORDER BY b)::DOUBLE / t.n AS cdf
  FROM hist, tot t
)
SELECT v.doc_id, v.quality,
       least(ceil(10.0 * c.cdf), 10)::INT AS decile
FROM v JOIN cdf c ON v.b = c.b
""",
)
def q_score_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] scale-safe quantile calibration: map a per-document score
    onto corpus deciles WITHOUT a global sort/percent_rank — the
    bucket-histogram CDF trick: scores bucket at fixed resolution,
    the cumulative window runs over ≤1001 BUCKET rows (never
    documents), and each doc joins its bucket's CDF. The
    rank-normalization step that makes heterogeneous quality signals
    comparable before blending; docs sharing a bucket share a decile
    (deterministic). Score = the length component of
    text_quality, recomputed with pure string functions so the oracle
    replays it exactly."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    n_tok = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    ).cast("double")
    q = d.select(
        "doc_id",
        F.round(
            F.lit(0.5) * F.least(n_tok / 100.0, F.lit(1.0)), 4
        ).alias("quality"),
    )
    v = q.withColumn("b", F.floor(F.col("quality") * 1000).cast("bigint"))
    hist = v.groupBy("b").agg(F.count("*").alias("cnt"))
    tot = hist.agg(F.sum("cnt").alias("n"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cdf = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("cdf", F.sum("cnt").over(w) / F.col("n").cast("double"))
        .select("b", "cdf")
    )
    return v.join(F.broadcast(cdf), "b").select(
        "doc_id",
        "quality",
        F.least(F.ceil(10.0 * F.col("cdf")), F.lit(10)).cast("int").alias(
            "decile"
        ),
    )
