"""Corpus-hygiene queries (round 4): Gopher repetition filters.

Same oracle contract as every module: identical aliases, in-query
rounding with the 1e-9 boundary nudge, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from resume_jd_matcher_spark.operators import quality
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.queries.text_q import SQL_TOKS
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
