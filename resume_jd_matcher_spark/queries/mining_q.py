"""Document-profiling queries over the ``documents`` table: ARI
readability per document, per-source boilerplate bigrams, and a
deterministic stratified k-fold assignment.

Portability contract shared with the oracles (FIXTURES.md): every
exposed float is rounded in-query on both sides with the +1e-9
tie-dodge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

_SQL_TOKS = "string_split_regex(trim(lower({c})), '\\s+')"


# ---------------------------------------------------------------------------
# ARI readability
# ---------------------------------------------------------------------------

@register(
    "readability_ari",
    f"""
WITH m AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::BIGINT AS n_alnum,
         len({_SQL_TOKS.format(c='text')})::BIGINT AS n_words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS n_sentences
  FROM documents
)
SELECT doc_id, n_alnum, n_words, n_sentences,
       round(4.71 * n_alnum / n_words::DOUBLE
             + 0.5 * n_words / n_sentences::DOUBLE - 21.43 + 1e-9, 4) AS ari,
       CASE WHEN 4.71 * n_alnum / n_words::DOUBLE
                 + 0.5 * n_words / n_sentences::DOUBLE - 21.43 < 8 THEN 'easy'
            WHEN 4.71 * n_alnum / n_words::DOUBLE
                 + 0.5 * n_words / n_sentences::DOUBLE - 21.43 < 14 THEN 'medium'
            ELSE 'hard' END AS band
FROM m
""",
)
def q_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: Automated Readability Index per document (Senter &
    Smith 1967) — 4.71·(chars/words) + 0.5·(words/sentences) − 21.43,
    from alphanumeric char count, whitespace word count, and
    [.!?]-run sentence count (min 1 so fragment-only docs stay
    finite). ARI is the syllable-free readability formula, the one
    that stays deterministic cross-engine (syllable heuristics
    aren't).

    Scale shape: a pure per-row projection — three regex/size
    expressions inside whole-stage codegen, no shuffle at all."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n_alnum = F.length(F.regexp_replace("text", "[^A-Za-z0-9]", "")).cast(
        "bigint"
    )
    n_words = F.size(tokens("text")).cast("bigint")
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0))
    ).cast("bigint")
    m = d.select(
        "doc_id",
        n_alnum.alias("n_alnum"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
    )
    ari = (
        4.71 * F.col("n_alnum") / F.col("n_words").cast("double")
        + 0.5 * F.col("n_words") / F.col("n_sentences").cast("double")
        - 21.43
    )
    return m.select(
        "doc_id",
        "n_alnum",
        "n_words",
        "n_sentences",
        F.round(ari + F.lit(1e-9), 4).alias("ari"),
        F.when(ari < 8, F.lit("easy"))
        .when(ari < 14, F.lit("medium"))
        .otherwise(F.lit("hard"))
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# Per-source boilerplate n-grams
# ---------------------------------------------------------------------------

@register(
    "boilerplate_ngrams",
    f"""
WITH t AS (
  SELECT doc_id, source, {_SQL_TOKS.format(c='text')} AS toks FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i + 1]))) AS gram
  FROM t WHERE len(toks) >= 2
), docs AS (SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs FROM t GROUP BY source),
df AS (
  SELECT source, gram, count(*)::BIGINT AS df FROM grams GROUP BY source, gram
), ranked AS (
  SELECT d.source, d.gram, d.df,
         round(d.df / s.n_docs::DOUBLE + 1e-9, 4) AS doc_share,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY d.df DESC, d.gram) AS rn
  FROM df d JOIN docs s USING (source) WHERE d.df >= 2
)
SELECT source, gram, df, doc_share, rn::INT AS rn
FROM ranked WHERE rn <= 10
""",
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/V8 [EXT]: per-source boilerplate detector — the top-10
    word bigrams by document frequency within each source (df ≥ 2).
    High-share n-grams are template/boilerplate signatures that
    per-document repetition filters miss; the per-source view is the
    remediation unit (drop or strip by source).

    Scale shape: distinct per-doc grams explode once; df is a
    (source, gram) hash agg. The df ≥ 2 pre-filter bounds the ranked
    set BEFORE the per-source top-k window (the term_frequency
    lesson: never rank a raw vocabulary); the window partitions by
    source over the surviving grams only."""
    from resume_jd_matcher_spark.functions.text import shingles, tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id",
        "source",
        F.explode(shingles(tokens("text"), 2)).alias("gram"),
    )
    docs = d.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    df = (
        grams.groupBy("source", "gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
    )
    w = Window.partitionBy("source").orderBy(F.col("df").desc(), F.col("gram"))
    return (
        df.join(F.broadcast(docs), "source")
        .select(
            "source",
            "gram",
            "df",
            F.round(
                F.col("df") / F.col("n_docs").cast("double") + F.lit(1e-9), 4
            ).alias("doc_share"),
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .filter(F.col("rn") <= 10)
    )


# ---------------------------------------------------------------------------
# Stratified k-fold assignment
# ---------------------------------------------------------------------------

_KFOLD_K = 5


@register(
    "kfold_assign",
    f"""
WITH folds AS (
  SELECT lang,
         ({{h}} % {_KFOLD_K})::INT AS fold
  FROM documents
), per_lang AS (
  SELECT lang, count(*)::BIGINT AS n_lang FROM folds GROUP BY lang
)
SELECT f.lang, f.fold, count(*)::BIGINT AS n_docs,
       round(count(*) / p.n_lang::DOUBLE + 1e-9, 4) AS frac_of_lang
FROM folds f JOIN per_lang p USING (lang)
GROUP BY f.lang, f.fold, p.n_lang
""".format(h="('0x' || substr(md5(doc_id::VARCHAR || '#kfold'), 1, 8))::BIGINT"),
)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling [EXT]: deterministic stratified k-fold assignment —
    fold = portable_hash(doc_id, salt) mod k, summarized as per-
    (lang, fold) counts with the within-language fraction (the
    stratification balance check a CV harness runs before training).
    Hash-based folds are reproducible across engines, runs, and
    cluster sizes — no RNG state, no shuffle-order dependence.

    Scale shape: fold id is a pure projection; the summary is one
    (lang, fold) hash agg plus a language-total broadcast join —
    k × |langs| result rows."""
    from resume_jd_matcher_spark.functions.text import hash32

    d = load_table(spark, sf_dir, "documents")
    folds = d.select(
        "lang",
        (
            hash32(F.concat(F.col("doc_id").cast("string"), F.lit("#kfold")))
            % _KFOLD_K
        )
        .cast("int")
        .alias("fold"),
    )
    per_lang = folds.groupBy("lang").agg(F.count("*").alias("n_lang"))
    return (
        folds.groupBy("lang", "fold")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "fold",
            "n_docs",
            F.round(
                F.col("n_docs") / F.col("n_lang").cast("double") + F.lit(1e-9),
                4,
            ).alias("frac_of_lang"),
        )
    )
