"""Advanced / composite operators: the full shortlist lifecycle, map
assembly, array scalar suite, pivot/unpivot, MLlib LSH (SURVEY.md
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
    )


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


@register(
    "pivot_unpivot",
    """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS qty
FROM lineitem
WHERE l_linestatus IN ('F', 'O')
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: pivot to wide (status → columns) then stack back to long —
    the round trip must reproduce the direct group-by."""
    l = load_table(spark, sf_dir, "lineitem")
    wide = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(2, 'F', F, 'O', O) AS (l_linestatus, qty)",
    ).filter(F.col("qty").isNotNull())


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
    "top_orders_global",
    """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q_top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: global top-N — orderBy().limit() compiles to
    TakeOrderedAndProject (per-partition partial top-N + driver merge,
    no full sort; the plan shape FAISS's k-NN return implies,
    rag_model_mass.py:37-47)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@register(
    "agg_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)::BIGINT AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: explicit GROUPING SETS via the SQL API (same Catalyst plan
    as the DataFrame rollup/cube paths — the engine exposes both)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "fuzzy_match",
    """
WITH t AS (SELECT DISTINCT event_type FROM events)
SELECT a.event_type AS left_type, b.event_type AS right_type,
       levenshtein(a.event_type, b.event_type)::INT AS edit_dist
FROM t a, t b
WHERE a.event_type < b.event_type
  AND levenshtein(a.event_type, b.event_type) <= 4
""",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: fuzzy string matching — Levenshtein distance over distinct
    value pairs (typo-dedup primitive; both engines implement the
    classic DP edit distance)."""
    t = load_table(spark, sf_dir, "events").select("event_type").distinct()
    a = t.select(F.col("event_type").alias("left_type"))
    b = t.select(F.col("event_type").alias("right_type"))
    return (
        a.crossJoin(b)
        .filter(F.col("left_type") < F.col("right_type"))
        .select(
            "left_type",
            "right_type",
            F.levenshtein("left_type", "right_type").cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 4)
    )


@register(
    "window_stats",
    """
SELECT o_orderkey, o_custkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def q_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: the full ranking-window surface — ntile / percent_rank /
    cume_dist / rank / dense_rank per customer."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "date_arithmetic",
    """
SELECT o_orderkey,
       strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
       strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
       quarter(o_orderdate)::INT AS q,
       (dayofweek(o_orderdate) + 1)::INT AS dow,
       dayofyear(o_orderdate)::INT AS doy,
       date_diff('month', DATE '1995-01-01', o_orderdate::DATE)::INT AS months_since
FROM orders
WHERE o_orderkey < 2000
""",
)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 date suite: interval arithmetic, last_day, quarter,
    day-of-week (Spark 1=Sunday ↔ DuckDB 0=Sunday, mapped), day-of-
    year, month deltas — exposed as strings/ints for exact compare."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.quarter(d).cast("int").alias("q"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.dayofyear(d).cast("int").alias("doy"),
        (
            (F.year(d) - F.lit(1995)) * 12 + F.month(d) - F.lit(1)
        ).cast("int").alias("months_since"),
    )


@register(
    "json_struct",
    """
SELECT event_id,
       json_extract_string(props, '$.k')::INT AS k_int,
       (json_extract_string(props, '$.k')::INT * 2)::INT AS k_doubled,
       (json_extract_string(props, '$.k') IS NOT NULL)::INT AS has_k
FROM events
WHERE user_id < 30
""",
)
def q_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 json: from_json into a typed struct, then project/compute on
    the parsed fields (schema-on-read for the props column)."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.IntegerType())])
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    parsed = e.select("event_id", F.from_json("props", schema).alias("p"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_int"),
        (F.col("p.k") * 2).cast("int").alias("k_doubled"),
        F.col("p.k").isNotNull().cast("int").alias("has_k"),
    )


@register(
    "stats_moments",
    """
SELECT l_returnflag,
       round(avg(l_extendedprice), 4) AS mean_price,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_samp(l_extendedprice), 2) AS var_price,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: second-moment statistics — sample stddev/variance and
    bivariate corr/covar per group (single-pass algebraic aggregates;
    both engines agree to the exposed rounding)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
        F.round(F.stddev("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
    )


def _bucketed_pair(spark: SparkSession, sf_dir: str):
    """Write orders/customer as bucketed+sorted tables once per
    (session, sf_dir) — the storage-side lever that makes every later
    join on the bucket key shuffle-free (tests/test_bucketing.py
    asserts the no-Exchange plan). Lives in the session warehouse dir;
    reused on subsequent calls."""
    import hashlib
    import shutil

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]

    def ensure(table: str, source: str, bucket_col: str) -> None:
        if spark.catalog.tableExists(table):
            return
        # A fresh session's in-memory catalog forgets managed tables,
        # but their warehouse directories survive — clear the stale
        # location so saveAsTable can recreate deterministically.
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh.rstrip('/')}/{table}", ignore_errors=True)
        (
            load_table(spark, sf_dir, source)
            .write.bucketBy(8, bucket_col)
            .sortBy(bucket_col)
            .mode("overwrite")
            .saveAsTable(table)
        )

    to, tc = f"bkt_orders_{key}", f"bkt_customer_{key}"
    ensure(to, "orders", "o_custkey")
    ensure(tc, "customer", "c_custkey")
    return spark.table(to), spark.table(tc)


@register(
    "bucketed_join",
    """
SELECT c.c_nationkey AS nationkey,
       count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 via bucketed storage: both sides pre-bucketed (and sorted)
    on the join key, so the join needs no shuffle exchange — at scale
    this is THE repeated-join lever (write once, join shuffle-free
    forever). Result is identical to the plain join, which is what the
    oracle checks; the plan shape (SortMergeJoin, zero Exchange) is
    asserted in tests/test_bucketing.py."""
    bo, bc = _bucketed_pair(spark, sf_dir)
    return (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
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
    )


@register(
    "winsorize_stats",
    """
WITH v AS (
  SELECT l_returnflag AS g, l_extendedprice AS x,
         floor(l_extendedprice)::BIGINT AS b
  FROM lineitem
), hist AS (
  SELECT g, b, count(*)::BIGINT AS cnt FROM v GROUP BY g, b
), tot AS (
  SELECT g, sum(cnt)::BIGINT AS n FROM hist GROUP BY g
), cum AS (
  SELECT hist.g, b, cnt, n,
         sum(cnt) OVER (PARTITION BY hist.g ORDER BY b) AS c
  FROM hist JOIN tot ON hist.g = tot.g
), cuts AS (
  SELECT g, max(n)::BIGINT AS n,
         min(CASE WHEN c >= ceil(0.01 * n) THEN b END)::BIGINT AS lo_b,
         min(CASE WHEN c >= ceil(0.99 * n) THEN b END)::BIGINT AS hi_b
  FROM cum GROUP BY g
)
SELECT v.g AS l_returnflag, cuts.n, cuts.lo_b, cuts.hi_b,
       round(avg(x) + 1e-9, 4) AS mean_raw,
       round(avg(least(greatest(x, lo_b::DOUBLE), hi_b::DOUBLE)) + 1e-9, 4)
         AS mean_winsorized
FROM v JOIN cuts ON v.g = cuts.g
GROUP BY v.g, cuts.n, cuts.lo_b, cuts.hi_b
""",
)
def q_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 data-cleaning: per-group winsorization at nearest-rank
    p01/p99, bucket resolution — the outlier-capping pass reward/score
    pipelines run before normalization. Scan 1 builds the bounded integer-bucket
    histogram (map-side combined; the rank→bucket lookup is a tiny
    window over bucket rows, never over raw values), scan 2 clips and
    re-aggregates. NO per-group sort of raw values anywhere — a
    window over values would hand each group's 33 TB to one reducer.
    Cutoffs are exact integers (no float boundary risk); only the two
    means are rounded floats."""
    from pyspark.sql import Window

    v = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("x"),
        F.floor("l_extendedprice").alias("b"),
    )
    hist = v.groupBy("g", "b").agg(F.count("*").alias("cnt"))
    tot = hist.groupBy("g").agg(F.sum("cnt").alias("n"))
    wb = Window.partitionBy("g").orderBy("b")
    cum = hist.join(F.broadcast(tot), "g").withColumn(
        "c", F.sum("cnt").over(wb)
    )
    cuts = cum.groupBy("g").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.col("c") >= F.ceil(F.lit(0.01) * F.col("n")), F.col("b"))
        ).alias("lo_b"),
        F.min(
            F.when(F.col("c") >= F.ceil(F.lit(0.99) * F.col("n")), F.col("b"))
        ).alias("hi_b"),
    )
    clipped = F.least(
        F.greatest(F.col("x"), F.col("lo_b").cast("double")),
        F.col("hi_b").cast("double"),
    )
    eps = F.lit(1e-9)
    return (
        v.join(F.broadcast(cuts), "g")
        .groupBy("g", "n", "lo_b", "hi_b")
        .agg(
            F.round(F.avg("x") + eps, 4).alias("mean_raw"),
            F.round(F.avg(clipped) + eps, 4).alias("mean_winsorized"),
        )
        .select(
            F.col("g").alias("l_returnflag"),
            "n",
            "lo_b",
            "hi_b",
            "mean_raw",
            "mean_winsorized",
        )
    )


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
    bucket-histogram CDF trick (as in winsorize_stats):
    scores bucket at fixed resolution, the cumulative window runs over
    ≤1001 BUCKET rows (never documents), and each doc joins its
    bucket's CDF. The rank-normalization step that makes heterogeneous
    quality signals comparable before blending; docs sharing a bucket
    share a decile (deterministic). Score = the length component of
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
