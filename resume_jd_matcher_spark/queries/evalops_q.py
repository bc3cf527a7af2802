"""Evaluation & data-ops queries over the corpus and its embeddings
(round 8, SURVEY.md §2.D/§2.F [EXT]): cross-source vocabulary overlap,
curriculum ordering by cumulative token budget, graded nDCG evaluation
of the ANN index against exact ground truth, and small-file compaction
planning.

Reuses `operators/prefix.global_prefix` (the distributed prefix scan,
here with the r8 ``bounds="height"`` sampled equal-height buckets) for
the two global-order queries, and the deterministic LSH building
blocks from `operators/ann` for the retrieval-eval query.

Portability contracts shared with the oracles (FIXTURES.md):
- every exposed float rounded in-query on both sides (+1e-9 dodge);
- deterministic tie-breaks on every rank/min pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

# Oracle-side macros IMPORTED from vector_q (squared-L2 / LSH
# signature) so every oracle shares ONE spelling that stays in
# lockstep with functions/vector.squared_l2 and
# operators/ann.lsh_signature.
from resume_jd_matcher_spark.queries.vector_q import (
    SQL_SQL2 as _SQL_SQL2,
)
from resume_jd_matcher_spark.queries.vector_q import (
    _SQL_LSH_SIG,  # noqa: F401  (same package; shared oracle macro)
)


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap
# ---------------------------------------------------------------------------

@register(
    "vocab_overlap",
    """
WITH v AS (
  SELECT DISTINCT source, tok
  FROM (
    SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok != ''
), sz AS (
  SELECT source, count(*)::BIGINT AS vocab FROM v GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*)::BIGINT AS n_common
  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
       i.n_common,
       round(i.n_common
             / (sa.vocab + sb.vocab - i.n_common)::DOUBLE + 1e-9, 6) AS jaccard
FROM inter i
JOIN sz sa ON sa.source = i.source_a
JOIN sz sb ON sb.source = i.source_b
""",
)
def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/A4 [EXT]: cross-source vocabulary overlap matrix — pairwise
    Jaccard between each source's distinct-token vocabulary, the
    source-redundancy screen a data-mixing run consults before
    weighting corpora (near-identical vocabularies = overlapping
    crawls; disjoint = genuinely new domain).

    Scale shape: one tokenize+explode pass reduced to the DISTINCT
    (source, token) grain (vocabulary-sized, not corpus-sized); the
    pair intersection is a token-keyed self-EQUI-join of that grain —
    never a doc×doc or source×source cross join — and the output is
    bounded by |sources|² rows. Per-token fan-out of the join is
    |sources per token| ≤ |sources| (a constant), so candidate pairs
    stay linear in vocabulary size."""
    from resume_jd_matcher_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count("*").cast("bigint").alias("vocab"))
    a = v.select(F.col("source").alias("source_a"), "tok")
    b = v.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sz.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    sb = sz.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
                ).cast("double")
                + F.lit(1e-9),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget curriculum phases (distributed prefix scan)
# ---------------------------------------------------------------------------

@register(
    "token_budget_curriculum",
    """
WITH d AS (SELECT doc_id, n_chars FROM documents),
t AS (SELECT sum(n_chars)::BIGINT AS total FROM d),
r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
         sum(n_chars) OVER (ORDER BY n_chars, doc_id
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_chars
  FROM d
)
SELECT r.doc_id, r.n_chars, r.rank::BIGINT AS rank,
       round(r.cum_chars / t.total::DOUBLE + 1e-9, 6) AS cum_share,
       CASE WHEN r.cum_chars / t.total::DOUBLE <= 0.10 THEN 'warmup'
            WHEN r.cum_chars / t.total::DOUBLE <= 0.70 THEN 'core'
            ELSE 'polish' END AS phase
FROM r CROSS JOIN t
""",
)
def q_token_budget_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling/W3 [EXT]: curriculum ordering — documents ranked
    easiest-first (length proxy, doc_id tie-break) with each doc's
    cumulative share of the total character budget and a
    warmup/core/polish phase cut at 10%/70% of CUMULATIVE budget (a
    token-budget-aware curriculum: phases are sized by what the
    model will consume, not by doc counts).

    Scale shape: the global rank AND running character total come
    from one operators/prefix.global_prefix pass (bucketed shuffle,
    no single-partition window); the total is one broadcast 1-row
    agg. Phase cuts compare the same exact-integer ratio on both
    engines, so the boundary assignment can't drift.
    bounds="height": document lengths are heavy-tailed (the
    spend/length power-law case the measured skew curve favors
    equal-height for); checkpoint=False: the input is a bare
    2-column scan projection — re-reading the pruned scan beats
    materializing the fact (see operators/prefix docstring)."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = global_prefix(
        d,
        ["n_chars", "doc_id"],
        "n_chars",
        sum_type="bigint",
        bounds="height",
        checkpoint=False,
    )
    t = d.agg(F.sum("n_chars").cast("bigint").alias("total"))
    share = F.col("cum_sum") / F.col("total").cast("double")
    return ranked.crossJoin(F.broadcast(t)).select(
        "doc_id",
        "n_chars",
        F.col("rank").cast("bigint").alias("rank"),
        F.round(share + F.lit(1e-9), 6).alias("cum_share"),
        F.when(share <= 0.10, F.lit("warmup"))
        .when(share <= 0.70, F.lit("core"))
        .otherwise(F.lit("polish"))
        .alias("phase"),
    )


# ---------------------------------------------------------------------------
# Graded nDCG evaluation of the ANN index
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_PLANES = 8


@register(
    "ndcg_eval",
    f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), c AS (
  SELECT vec_id, e AS ce,
         {_SQL_LSH_SIG.format(a='e', planes=_NDCG_PLANES)} AS bucket
  FROM e0
), q AS (
  SELECT vec_id AS query_id, e AS qe,
         {_SQL_LSH_SIG.format(a='e', planes=_NDCG_PLANES)} AS qbucket
  FROM e0 WHERE vec_id < 3
), d AS (
  SELECT q.query_id, c.vec_id,
         {_SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c JOIN q ON c.bucket = q.qbucket
), lsh AS (
  SELECT query_id, vec_id, rn AS lrank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist, vec_id) AS rn
    FROM d) WHERE rn <= {_NDCG_K}
), xd AS (
  SELECT q.query_id, c0.vec_id,
         {_SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM (SELECT vec_id, e AS ce FROM e0) c0, q
), ex AS (
  SELECT query_id, vec_id, rn AS xrank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist, vec_id) AS rn
    FROM xd) WHERE rn <= {_NDCG_K}
), dcg AS (
  SELECT l.query_id,
         sum(coalesce({_NDCG_K + 1} - ex.xrank, 0)
             / log2(l.lrank + 1.0)) AS dcg
  FROM lsh l LEFT JOIN ex
    ON l.query_id = ex.query_id AND l.vec_id = ex.vec_id
  GROUP BY l.query_id
), idcg AS (
  SELECT query_id,
         sum(({_NDCG_K + 1} - xrank) / log2(xrank + 1.0)) AS idcg
  FROM ex GROUP BY query_id
)
SELECT i.query_id,
       round(coalesce(d.dcg, 0) + 1e-9, 6) AS dcg,
       round(i.idcg + 1e-9, 6) AS idcg,
       round(coalesce(d.dcg, 0) / i.idcg + 1e-9, 6) AS ndcg
FROM idcg i LEFT JOIN dcg d ON i.query_id = d.query_id
""",
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/V5 [EXT]: graded nDCG@10 of the deterministic-LSH index
    against exact brute-force ground truth, per query — the ranked
    companion to `ann_recall_eval` (recall says WHETHER the truth
    showed up; nDCG says WHERE it landed). Relevance is graded by
    exact rank (best neighbor = 10 … 10th = 1, absent = 0); IDCG is
    the exact list's own DCG, so ndcg = 1.0 means the index ordered
    the true top-10 perfectly.

    Scale shape: the LSH list comes from a bucket EQUI-join (corpus
    hash-partitioned on bucket id, broadcast query side); the exact
    list is a broadcast-bounded crossJoin (|queries| rows). Both
    rankings use UNROUNDED distances with the (dist, vec_id)
    tie-break, and both engines fold the distance sums
    left-to-right, so ranks are bit-reproducible. The DCG/IDCG
    reduction is a per-query agg over ≤10 rows."""
    from resume_jd_matcher_spark.operators.ann import lsh_signature
    from resume_jd_matcher_spark.functions.vector import squared_l2

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select(
        "vec_id",
        F.col("embedding").alias("ce"),
        lsh_signature(F.col("embedding"), _NDCG_PLANES).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        lsh_signature(F.col("embedding"), _NDCG_PLANES).alias("qbucket"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    lsh = (
        c.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select(
            "query_id",
            "vec_id",
            squared_l2(F.col("ce"), F.col("qe")).alias("dist"),
        )
        .withColumn("lrank", F.row_number().over(w))
        .filter(F.col("lrank") <= _NDCG_K)
        .select("query_id", "vec_id", "lrank")
    )
    ex = (
        c.select("vec_id", "ce")
        .crossJoin(F.broadcast(q.select("query_id", "qe")))
        .select(
            "query_id",
            "vec_id",
            squared_l2(F.col("ce"), F.col("qe")).alias("dist"),
        )
        .withColumn("xrank", F.row_number().over(w))
        .filter(F.col("xrank") <= _NDCG_K)
        .select("query_id", "vec_id", "xrank")
    )
    dcg = (
        lsh.join(ex, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.lit(_NDCG_K + 1) - F.col("xrank"), F.lit(0))
                / F.log2(F.col("lrank") + F.lit(1.0))
            ).alias("dcg")
        )
    )
    idcg = ex.groupBy("query_id").agg(
        F.sum(
            (F.lit(_NDCG_K + 1) - F.col("xrank"))
            / F.log2(F.col("xrank") + F.lit(1.0))
        ).alias("idcg")
    )
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) + F.lit(1e-9), 6).alias(
            "dcg"
        ),
        F.round(F.col("idcg") + F.lit(1e-9), 6).alias("idcg"),
        F.round(
            F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")
            + F.lit(1e-9),
            6,
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Compaction planning (contiguous bin packing by cumulative size)
# ---------------------------------------------------------------------------

@register(
    "compaction_plan",
    """
WITH p AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
), b AS (
  SELECT ((cum - n_chars) // 100000)::BIGINT AS bin, doc_id, n_chars
  FROM p
)
SELECT bin, count(*)::BIGINT AS n_files,
       sum(n_chars)::BIGINT AS total_chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       round(sum(n_chars) / 100000.0 + 1e-9, 4) AS fill_ratio
FROM b GROUP BY bin
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC8 [EXT]: small-file compaction planning — assign documents
    (stand-ins for data files, sized by n_chars) to contiguous output
    groups of ~100k chars by bucketing the EXCLUSIVE running total:
    bin = floor(cum_before / target). Contiguity preserves the
    doc_id sort order inside every output group (the property that
    keeps downstream zone maps tight), which
    is why this is a prefix-scan problem and not a bin-packing
    heuristic. The running total comes from operators/prefix.
    global_prefix with bigint accumulation — distributed, no
    single-partition window, bit-deterministic.

    Scale shape: the bucketed prefix-scan shuffle (data partitioned
    by range bucket, one n_buckets-row offsets broadcast), then a
    bin-grain agg — both linear, no global window over data rows.
    bounds="width" deliberately: the order key is doc_id, a dense
    UNIFORM surrogate key — equal-width buckets are already balanced
    and skip the height mode's extra percentile pass (the skew curve
    only favors height for power-law keys); checkpoint=False: bare
    2-column scan projection, re-read beats materializing."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p = global_prefix(
        d, ["doc_id"], "n_chars", sum_type="bigint", checkpoint=False
    )
    b = p.select(
        F.floor(
            (F.col("cum_sum") - F.col("n_chars")) / F.lit(100000)
        ).alias("bin"),
        "doc_id",
        "n_chars",
    )
    return b.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.round(
            F.sum("n_chars") / F.lit(100000.0) + F.lit(1e-9), 4
        ).alias("fill_ratio"),
    )
