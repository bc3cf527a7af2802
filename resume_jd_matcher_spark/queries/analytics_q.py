"""Corpus analytics queries (SURVEY.md §2.D A4 / §2.E W4 [EXT] — the
monitoring layer a training-data pipeline runs beside dedup/quality
filtering): Wilson-bound source ranking, Heaps'-law vocabulary-growth
fit, distinct-n diversity, capped inverted-index heads, cross-source
quantile normalization, Zipf fit, log-likelihood keyness and
effective source count.

Every float is rounded in-query on both sides (the oracle contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table


@register(
    "wilson_ranking",
    """
WITH per_src AS (
  SELECT source,
         count(*)::BIGINT AS n_docs,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT AS n_keep
  FROM documents GROUP BY source
), scored AS (
  SELECT source, n_docs, n_keep,
         round(n_keep / n_docs::DOUBLE, 4) AS keep_rate,
         round(
           (n_keep / n_docs::DOUBLE + 1.9208 / n_docs
            - 1.96 * sqrt((n_keep / n_docs::DOUBLE) * (1 - n_keep / n_docs::DOUBLE) / n_docs
                          + 0.9604 / (n_docs * n_docs::DOUBLE)))
           / (1 + 3.8416 / n_docs) + 1e-9, 4) AS wilson_lower
  FROM per_src
)
SELECT source, n_docs, n_keep, keep_rate, wilson_lower,
       row_number() OVER (ORDER BY wilson_lower DESC, source)::INT AS rank
FROM scored
""",
)
def q_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: rank corpus sources by the Wilson score lower bound
    (z = 1.96) of their quality keep-rate — the small-sample-robust
    ranking (Wilson 1927; the "how not to sort by average rating"
    correction): a source with 3/3 good docs must NOT outrank one
    with 95/100. z² = 3.8416 folded in as literals on both engines.

    Scale shape: one source-keyed hash agg over the corpus; the
    scored table is |sources|-bounded, so the rank runs over a
    bounded dimension (collect_list/posexplode, no unbounded
    window)."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_chars") >= 300).cast("bigint")).alias("n_keep"),
    )
    p = F.col("n_keep") / F.col("n_docs").cast("double")
    n = F.col("n_docs")
    wilson = (
        p
        + F.lit(1.9208) / n
        - F.lit(1.96)
        * F.sqrt(p * (1 - p) / n + F.lit(0.9604) / (n * n.cast("double")))
    ) / (1 + F.lit(3.8416) / n)
    scored = per_src.select(
        "source",
        "n_docs",
        "n_keep",
        F.round(p, 4).alias("keep_rate"),
        F.round(wilson + F.lit(1e-9), 4).alias("wilson_lower"),
    )
    # |sources| is a bounded dimension: rank via one sorted-array fold
    ranked = scored.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("wilson_lower")).alias("_neg"),
                    "source",
                    "n_docs",
                    "n_keep",
                    "keep_rate",
                    "wilson_lower",
                )
            )
        ).alias("arr")
    ).select(F.posexplode("arr").alias("pos", "s"))
    return ranked.select(
        F.col("s.source").alias("source"),
        F.col("s.n_docs").alias("n_docs"),
        F.col("s.n_keep").alias("n_keep"),
        F.col("s.keep_rate").alias("keep_rate"),
        F.col("s.wilson_lower").alias("wilson_lower"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


_SQL_TOKS = "string_split_regex(trim(lower({c})), '\\s+')"


@register(
    "heaps_law",
    f"""
WITH per_doc AS (
  SELECT source,
         len(toks)::BIGINT AS dn_tokens,
         len(list_distinct(toks))::BIGINT AS dn_types
  FROM (SELECT source, {_SQL_TOKS.format(c='text')} AS toks FROM documents)
), fit AS (
  SELECT round(regr_slope(ln(dn_types::DOUBLE), ln(dn_tokens::DOUBLE)) + 1e-9, 4) AS beta,
         round(exp(regr_intercept(ln(dn_types::DOUBLE), ln(dn_tokens::DOUBLE))) + 1e-9, 4) AS k,
         round(regr_r2(ln(dn_types::DOUBLE), ln(dn_tokens::DOUBLE)) + 1e-9, 4) AS r2
  FROM per_doc WHERE dn_tokens >= 2
), per_src AS (
  SELECT source, count(*)::BIGINT AS n_tokens, count(DISTINCT tok)::BIGINT AS n_types
  FROM (
    SELECT source, unnest({_SQL_TOKS.format(c='text')}) AS tok
    FROM documents
  ) GROUP BY source
)
SELECT p.source, p.n_tokens, p.n_types,
       round(p.n_types / p.n_tokens::DOUBLE + 1e-9, 4) AS ttr,
       f.beta, f.k, f.r2
FROM per_src p CROSS JOIN fit f
""",
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: vocabulary-growth diagnostics — per-source type/token
    counts with type-token ratio, plus a corpus-level Heaps'-law fit
    V = k·T^beta via log-log OLS (Heaps 1978; natural text sits at
    beta ≈ 0.4-0.6 — template/boilerplate corpora fall far below,
    making beta a corpus-health signal).

    The fit runs over DOCUMENT-level (ln tokens, ln types) points, not
    the per-source totals: the fixture's sources are equal-sized, so
    source points have ~zero x-variance and the OLS is ill-conditioned
    (the sf0.1 drift sweep caught r² diverging between engines on
    exactly that degeneracy); document lengths vary 10×, giving the
    regression real support at every scale.

    Scale shape (r7 rework — the corpus was previously scanned AND
    tokenized twice, once per side): ONE scan → ONE explode → ONE
    rollup(source, doc_id) with count + countDistinct(tok). The
    (source, doc_id) grouping level IS the per-doc fit points and the
    (source) level IS the per-source totals, so both consumers read
    the same materialized rollup output — bounded at n_docs +
    n_sources + 1 rows, the only thing stored. localCheckpoint (not
    persist: the two consumers form a self-join whose
    DeduplicateRelations expr-ID rewrite defeats cache-plan matching,
    silently recomputing one side from parquet — observed in the r7
    plan) truncates lineage so BOTH branches provably read the one
    materialized RDD. The Expand the rollup inserts triples rows
    BEFORE the map-side partial-distinct combine, which is still far
    cheaper at 100 TB than a second full corpus scan +
    re-tokenization."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    grain = (
        d.select("source", "doc_id", F.explode(toks).alias("tok"))
        .rollup("source", "doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.countDistinct("tok").alias("n_typ"),
            F.grouping_id().alias("gid"),
        )
        .localCheckpoint()
    )
    # gid 0 = (source, doc_id) rows; gid 1 = (source) rows; gid 3 = ()
    per_doc = grain.filter(F.col("gid") == 0).filter(F.col("n_toks") >= 2)
    lx = F.log(F.col("n_toks").cast("double"))
    ly = F.log(F.col("n_typ").cast("double"))
    eps = F.lit(1e-9)
    fit = per_doc.agg(
        F.round(F.regr_slope(ly, lx) + eps, 4).alias("beta"),
        F.round(F.exp(F.regr_intercept(ly, lx)) + eps, 4).alias("k"),
        F.round(F.regr_r2(ly, lx) + eps, 4).alias("r2"),
    )
    per_src = grain.filter(F.col("gid") == 1).select(
        "source",
        F.col("n_toks").alias("n_tokens"),
        F.col("n_typ").alias("n_types"),
    )
    return per_src.crossJoin(F.broadcast(fit)).select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") / F.col("n_tokens").cast("double") + eps, 4).alias("ttr"),
        "beta",
        "k",
        "r2",
    )


@register(
    "ngram_diversity",
    f"""
WITH t AS (
  SELECT source, {_SQL_TOKS.format(c='text')} AS toks FROM documents
), bi AS (
  SELECT source,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM t WHERE len(toks) >= 2
)
SELECT source,
       count(*)::BIGINT AS n_bigrams,
       count(DISTINCT bg)::BIGINT AS n_distinct,
       round(count(DISTINCT bg) / count(*)::DOUBLE + 1e-9, 4) AS distinct_2
FROM bi GROUP BY source
""",
)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: distinct-n diversity (the distinct-2 metric of Li et
    al. 2016, "A Diversity-Promoting Objective Function") per source —
    the share of bigram occurrences that are unique. Low distinct-2
    flags template/boilerplate-heavy sources that per-doc repetition
    filters miss (each doc clean, source degenerate).

    Scale shape: pre-aggregate to (source, bigram, n) FIRST (one
    map-side-combinable hash agg — the distinct), then roll up per
    source; avoids Spark's multi-distinct Expand, which would double
    the exploded stream."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    bi = d.select(
        "source",
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    per_bg = bi.groupBy("source", "bg").agg(F.count("*").alias("n"))
    return per_bg.groupBy("source").agg(
        F.sum("n").alias("n_bigrams"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.count("*") / F.sum("n").cast("double") + F.lit(1e-9), 4
        ).alias("distinct_2"),
    )


@register(
    "inverted_index",
    f"""
WITH t AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKS.format(c='text')})) AS tok
  FROM documents
), df AS (
  SELECT tok, count(*)::BIGINT AS df FROM t GROUP BY tok
  ORDER BY df DESC, tok LIMIT 20
)
SELECT d.tok AS token, d.df,
       array_to_string(list_sort(list(i.doc_id))[1:10], ',') AS posting_head
FROM df d JOIN t i USING (tok)
GROUP BY d.tok, d.df
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: capped inverted-index build — posting lists for the
    top-20 document-frequency terms, each truncated to its 10 lowest
    doc ids (the deterministic "head" a search system materializes;
    full postings for stopword-frequency terms are exactly what an
    indexer does NOT store). The df cut is TakeOrderedAndProject; the
    posting assembly joins the BROADCAST 20-term dim against the
    distinct (doc, token) stream — corpus-sized work is one explode +
    two hash aggs."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    stream = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    top = (
        stream.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(20)
    )
    return (
        stream.join(F.broadcast(top), "tok")
        .groupBy("tok", "df")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10), ","
            ).alias("posting_head")
        )
        .select(F.col("tok").alias("token"), "df", "posting_head")
    )


@register(
    "quantile_normalize",
    """
WITH v AS (
  SELECT doc_id, source, least(n_chars, 2000)::BIGINT AS b FROM documents
), shist AS (
  SELECT source, b, count(*)::BIGINT AS cnt FROM v GROUP BY source, b
), scdf AS (
  SELECT source, b,
         (sum(cnt) OVER (PARTITION BY source ORDER BY b))::DOUBLE
           / (sum(cnt) OVER (PARTITION BY source))::DOUBLE AS cdf
  FROM shist
), phist AS (
  SELECT b, count(*)::BIGINT AS cnt FROM v GROUP BY b
), ptot AS (SELECT sum(cnt)::BIGINT AS n FROM phist),
pcdf AS (
  SELECT b, (sum(cnt) OVER (ORDER BY b))::DOUBLE / t.n AS cdf
  FROM phist, ptot t
), qmap AS (
  SELECT k.k, min(p.b) AS pooled_b
  FROM (SELECT unnest(generate_series(1, 20)) AS k) k
  JOIN pcdf p ON p.cdf >= k.k / 20.0
  GROUP BY k.k
)
SELECT v.doc_id, v.source, v.b AS n_chars_b,
       round(s.cdf + 1e-9, 4) AS src_cdf,
       least(ceil(s.cdf * 20), 20)::INT AS qbin,
       q.pooled_b AS norm_chars
FROM v
JOIN scdf s ON v.source = s.source AND v.b = s.b
JOIN qmap q ON least(ceil(s.cdf * 20), 20) = q.k
""",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] cross-source quantile normalization (the microarray-era
    normalization, Bolstad et al. 2003, applied to corpus scores):
    map each document's score onto its SOURCE's quantile, then read
    off the POOLED distribution's value at that quantile — after
    which every source's score distribution is comparable (a source
    that systematically over-scores no longer dominates mixtures).

    Scale shape: both CDFs live on BUCKET histograms (score capped to
    ≤2000 buckets), never raw rows — the per-source CDF window is
    partitioned by source over bucket rows; the pooled inverse-CDF is
    a 20-row quantile map built from a bounded bucket×20 theta join
    and broadcast back; each doc joins its (source, bucket) CDF by
    equi-join. The score_deciles trick, generalized to
    distribution-to-distribution mapping."""
    d = load_table(spark, sf_dir, "documents")
    v = d.select(
        "doc_id",
        "source",
        F.least(F.col("n_chars"), F.lit(2000)).cast("bigint").alias("b"),
    )
    shist = v.groupBy("source", "b").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("source").orderBy("b").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    w_all = Window.partitionBy("source")
    scdf = shist.select(
        "source",
        "b",
        (
            F.sum("cnt").over(w_cum).cast("double")
            / F.sum("cnt").over(w_all).cast("double")
        ).alias("cdf"),
    )
    phist = v.groupBy("b").agg(F.count("*").alias("cnt"))
    ptot = phist.agg(F.sum("cnt").alias("n"))
    w_p = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pcdf = (
        phist.crossJoin(F.broadcast(ptot))
        .withColumn("cdf", F.sum("cnt").over(w_p) / F.col("n").cast("double"))
        .select("b", "cdf")
    )
    ks = spark.range(1, 21).select(F.col("id").cast("int").alias("k"))
    qmap = (
        ks.join(
            F.broadcast(pcdf), F.col("cdf") >= F.col("k") / F.lit(20.0)
        )
        .groupBy("k")
        .agg(F.min("b").alias("pooled_b"))
    )
    qbin = F.least(F.ceil(F.col("cdf") * 20), F.lit(20)).cast("int")
    return (
        v.join(scdf, ["source", "b"])
        .select(
            "doc_id",
            "source",
            F.col("b").alias("n_chars_b"),
            F.round(F.col("cdf") + F.lit(1e-9), 4).alias("src_cdf"),
            qbin.alias("qbin"),
        )
        .join(F.broadcast(qmap), F.col("qbin") == F.col("k"))
        .select(
            "doc_id",
            "source",
            "n_chars_b",
            "src_cdf",
            "qbin",
            F.col("pooled_b").alias("norm_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (top-k term law)
# ---------------------------------------------------------------------------

_ZIPF_TOP_K = 1000


@register(
    "zipf_fit",
    f"""
WITH tf AS (
  SELECT unnest({_SQL_TOKS.format(c='text')}) AS token FROM documents
), c AS (
  SELECT token, count(*)::BIGINT AS cnt FROM tf GROUP BY token
), r AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS rank
  FROM c
), t AS (
  SELECT ln(rank::DOUBLE) AS lx, ln(cnt::DOUBLE) AS ly
  FROM r WHERE rank <= {_ZIPF_TOP_K}
), f AS (
  SELECT count(*)::BIGINT AS n_terms,
         regr_slope(ly, lx) AS s, regr_intercept(ly, lx) AS i,
         regr_r2(ly, lx) AS r2
  FROM t
), cov AS (
  SELECT sum(CASE WHEN rank <= {_ZIPF_TOP_K} THEN cnt ELSE 0 END)::BIGINT
           AS top_mass,
         sum(cnt)::BIGINT AS total_mass,
         count(*)::BIGINT AS vocab_size
  FROM r
)
SELECT f.n_terms, cov.vocab_size,
       round(f.s + 1e-9, 4) AS zipf_exponent,
       round(exp(f.i) + 1e-9, 2) AS c0,
       round(f.r2 + 1e-9, 4) AS r2,
       round(cov.top_mass / cov.total_mass::DOUBLE + 1e-9, 4)
         AS topk_coverage
FROM f CROSS JOIN cov
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: Zipf's-law rank-frequency fit over the corpus
    vocabulary — log-log OLS of ln(freq) on ln(rank) for the top-1000
    terms (Zipf 1949; natural language sits near exponent -1, and a
    much flatter/steeper slope flags synthetic or template-heavy
    corpora — the companion corpus-health signal to heaps_law). Also
    reports the head coverage (token mass captured by the top-1000),
    the skew number a mixture/sampling plan needs.

    Scale shape: ONE scan -> explode -> token hash agg (map-side
    combined), then the global top-k is a sort-LIMIT
    (TakeOrderedAndProject — per-partition heaps, never a full sort
    or a vocab-sized window; the rank window runs over the k
    surviving rows). The fit and coverage are 1-row aggs crossed
    together. Vocabulary never leaves the distributed agg."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # The vocab agg feeds three consumers (fit, head mass, coverage);
    # without the cache each one re-scans and re-tokenizes the corpus
    # (the heaps_law lesson). Vocab is orders of magnitude smaller
    # than the corpus, so caching it is the cheap side of the trade.
    c = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist()
    )
    # k rows; checkpointed so the fit and the head-mass agg provably
    # share the one TakeOrdered result instead of re-running it.
    top = (
        c.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(_ZIPF_TOP_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
            ),
        )
        .localCheckpoint()
    )
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    eps = F.lit(1e-9)
    f = top.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.regr_slope(ly, lx).alias("s"),
        F.regr_intercept(ly, lx).alias("i"),
        F.regr_r2(ly, lx).alias("r2"),
        F.sum("cnt").cast("bigint").alias("top_mass"),
    )
    cov = c.agg(
        F.sum("cnt").cast("bigint").alias("total_mass"),
        F.count("*").cast("bigint").alias("vocab_size"),
    )
    out = (
        f.crossJoin(F.broadcast(cov))
        .select(
            "n_terms",
            "vocab_size",
            F.round(F.col("s") + eps, 4).alias("zipf_exponent"),
            F.round(F.exp(F.col("i")) + eps, 2).alias("c0"),
            F.round(F.col("r2") + eps, 4).alias("r2"),
            F.round(
                F.col("top_mass") / F.col("total_mass").cast("double")
                + eps,
                4,
            ).alias("topk_coverage"),
        )
    )
    # The vocab cache is enrolled in the engine-wide ledger
    # (dedup._PERSISTED): the sweep hooks release it after the
    # query's action (r8 advisor note), and the LAZY persist keeps
    # the full subplan visible to the plan audits — an eager
    # materialize here hid it behind a Scan ExistingRDD node.
    _PERSISTED.append(c)
    return out


# ---------------------------------------------------------------------------
# Log-likelihood-ratio keyness (Dunning 1993) per source
# ---------------------------------------------------------------------------

_LLR_MIN_DF = 5
_LLR_TOP_K = 10


@register(
    "llr_keyness",
    f"""
WITH tf AS (
  SELECT source, unnest({_SQL_TOKS.format(c='text')}) AS token
  FROM documents
), st AS (
  SELECT source, token, count(*)::BIGINT AS a
  FROM tf GROUP BY source, token
), tok AS (
  SELECT token, sum(a)::BIGINT AS tok_total FROM st GROUP BY token
), src AS (
  SELECT source, sum(a)::BIGINT AS src_total FROM st GROUP BY source
), tot AS (
  SELECT sum(a)::BIGINT AS grand FROM st
), cells AS (
  SELECT st.source, st.token,
         st.a::DOUBLE AS a,
         (tok.tok_total - st.a)::DOUBLE AS b,
         (src.src_total - st.a)::DOUBLE AS c,
         (tot.grand - tok.tok_total - src.src_total + st.a)::DOUBLE AS d,
         tot.grand::DOUBLE AS n
  FROM st
  JOIN tok ON tok.token = st.token AND tok.tok_total >= {_LLR_MIN_DF}
  JOIN src ON src.source = st.source
  CROSS JOIN tot
), scored AS (
  SELECT source, token, a,
         2.0 * ((CASE WHEN a > 0 THEN a * ln(a) ELSE 0.0 END)
              + (CASE WHEN b > 0 THEN b * ln(b) ELSE 0.0 END)
              + (CASE WHEN c > 0 THEN c * ln(c) ELSE 0.0 END)
              + (CASE WHEN d > 0 THEN d * ln(d) ELSE 0.0 END)
              - (a + b) * ln(a + b) - (a + c) * ln(a + c)
              - (CASE WHEN b + d > 0 THEN (b + d) * ln(b + d)
                      ELSE 0.0 END)
              - (CASE WHEN c + d > 0 THEN (c + d) * ln(c + d)
                      ELSE 0.0 END)
              + n * ln(n)) AS llr,
         sign(a * (b + d) - b * (a + c)) AS direction
  FROM cells
), ranked AS (
  SELECT source, token, a::BIGINT AS n_in_source,
         round(llr + 1e-9, 4) AS llr, direction::INT AS direction,
         row_number() OVER (PARTITION BY source
                            ORDER BY round(llr, 6) DESC, token)
           AS rk
  FROM scored WHERE direction > 0
)
SELECT source, token, n_in_source, llr, rk::INT AS rk
FROM ranked WHERE rk <= {_LLR_TOP_K}
""",
)
def q_llr_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: per-source keyness — the top-{_LLR_TOP_K} terms most
    OVER-represented in each source versus the rest of the corpus by
    Dunning's log-likelihood ratio (Dunning 1993, the standard
    keyness statistic in corpus linguistics; robust where chi-square
    misbehaves on rare events). The 2x2 table per (source, token) is
    (a=in-source count, b=elsewhere count, c/d=complements); only
    positively-keyed terms (observed > expected) rank. Ranking uses
    round(llr, 6) so a last-ulp libm divergence between engines can
    never flip the top-k cut; ties break on token.

    Scale shape: token hash agg -> (source, token) grain; the token
    df-filter (>= {_LLR_MIN_DF}) prunes the vocabulary BEFORE the
    per-source window (the term_frequency lesson), and the
    source/grand totals are dimension-bounded broadcasts. The window
    partitions by source over the df-filtered grain."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # (source, token) grain feeds four consumers (token df, source
    # totals, grand total, the cell join) — cached so the corpus is
    # scanned and tokenized ONCE (the heaps_law lesson).
    st = (
        d.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("a"))
        .persist()
    )
    tok = (
        st.groupBy("token")
        .agg(F.sum("a").cast("bigint").alias("tok_total"))
        .filter(F.col("tok_total") >= _LLR_MIN_DF)
    )
    src = st.groupBy("source").agg(
        F.sum("a").cast("bigint").alias("src_total")
    )
    tot = st.agg(F.sum("a").cast("bigint").alias("grand"))
    cells = (
        st.join(tok, "token")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "token",
            F.col("a").cast("double").alias("a"),
            (F.col("tok_total") - F.col("a")).cast("double").alias("b"),
            (F.col("src_total") - F.col("a")).cast("double").alias("c"),
            (
                F.col("grand")
                - F.col("tok_total")
                - F.col("src_total")
                + F.col("a")
            )
            .cast("double")
            .alias("d"),
            F.col("grand").cast("double").alias("n"),
        )
    )

    def xlnx(col):
        return F.when(col > 0, col * F.log(col)).otherwise(F.lit(0.0))

    llr = 2.0 * (
        xlnx(F.col("a"))
        + xlnx(F.col("b"))
        + xlnx(F.col("c"))
        + xlnx(F.col("d"))
        - (F.col("a") + F.col("b")) * F.log(F.col("a") + F.col("b"))
        - (F.col("a") + F.col("c")) * F.log(F.col("a") + F.col("c"))
        - xlnx(F.col("b") + F.col("d"))
        - xlnx(F.col("c") + F.col("d"))
        + F.col("n") * F.log(F.col("n"))
    )
    direction = F.signum(
        F.col("a") * (F.col("b") + F.col("d"))
        - F.col("b") * (F.col("a") + F.col("c"))
    )
    scored = cells.select(
        "source",
        "token",
        F.col("a").cast("bigint").alias("n_in_source"),
        llr.alias("llr"),
        direction.alias("direction"),
    ).filter(F.col("direction") > 0)
    w = Window.partitionBy("source").orderBy(
        F.round(F.col("llr"), 6).desc(), F.col("token").asc()
    )
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LLR_TOP_K)
        .select(
            "source",
            "token",
            "n_in_source",
            F.round(F.col("llr") + F.lit(1e-9), 4).alias("llr"),
            F.col("rk").cast("int").alias("rk"),
        )
    )
    # The (source, token) grain cache is enrolled in the engine-wide
    # ledger: released by the sweep hooks after the action; the lazy
    # persist keeps the subplan visible to the plan audits.
    _PERSISTED.append(st)
    return out


# ---------------------------------------------------------------------------
# Effective number of sources (entropy-based corpus diversity)
# ---------------------------------------------------------------------------

@register(
    "effective_sources",
    """
WITH s AS (
  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
), t AS (
  SELECT sum(n_docs)::BIGINT AS total FROM s
), p AS (
  SELECT s.source, s.n_docs, s.n_docs / t.total::DOUBLE AS share
  FROM s CROSS JOIN t
)
SELECT count(*)::BIGINT AS n_sources,
       max(total)::BIGINT AS n_docs,
       round(-sum(share * ln(share)) + 1e-9, 4) AS shannon_h,
       round(exp(-sum(share * ln(share))) + 1e-9, 4) AS effective_shannon,
       round(1.0 / sum(share * share) + 1e-9, 4) AS effective_simpson,
       round(-sum(share * ln(share))
             / nullif(ln(count(*)), 0.0) + 1e-9, 4) AS evenness
FROM p CROSS JOIN t
""",
)
def q_effective_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/A4 [EXT]: effective number of sources in the corpus — the
    exponential of Shannon entropy (Hill number of order 1) and the
    inverse-Simpson (order 2) over per-source document shares, plus
    Pielou evenness H/ln(k) (Hill 1973; Jost 2006). THE mixture
    diagnostic before weighting a training blend: 10 sources with one
    holding 95% of documents behave like ~1.4 effective sources.
    Shares derive from exact integer counts; the entropy sum runs
    over the |sources|-bounded share table (share > 0 always — a
    source only exists by having documents), and evenness is
    nullif-guarded for the single-source corpus (ln(1) = 0).

    Scale shape: ONE source-grain hash agg over the corpus
    (map-side combined), then scalar arithmetic on |sources| rows —
    no window, no join wider than the 1-row total broadcast."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    t = s.agg(F.sum("n_docs").cast("bigint").alias("total"))
    p = s.crossJoin(F.broadcast(t)).select(
        "n_docs",
        "total",
        (F.col("n_docs") / F.col("total").cast("double")).alias("share"),
    )
    h = -F.sum(F.col("share") * F.log(F.col("share")))
    return p.agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.max("total").cast("bigint").alias("n_docs"),
        F.round(h + F.lit(1e-9), 4).alias("shannon_h"),
        F.round(F.exp(h) + F.lit(1e-9), 4).alias("effective_shannon"),
        F.round(
            F.lit(1.0) / F.sum(F.col("share") * F.col("share"))
            + F.lit(1e-9),
            4,
        ).alias("effective_simpson"),
        F.round(
            h / F.nullif(F.log(F.count("*").cast("double")), F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("evenness"),
    )
