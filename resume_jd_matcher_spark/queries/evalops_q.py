"""Evaluation & data-ops queries over the corpus
(round 8, SURVEY.md §2.D/§2.F [EXT]): cross-source vocabulary overlap,
curriculum ordering by cumulative token budget, and small-file
compaction planning.

Reuses `operators/prefix.global_prefix` (the distributed prefix scan,
here with the r8 ``bounds="height"`` sampled equal-height buckets) for
the two global-order queries.

Portability contracts shared with the oracles (FIXTURES.md):
- every exposed float rounded in-query on both sides (+1e-9 dodge);
- deterministic tie-breaks on every rank/min pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table


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
