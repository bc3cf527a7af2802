"""Round-9 query family: corpus curation & release governance.

The operations a training-data release runs between "corpus
assembled" and "corpus shipped": eval-set contamination screening
(Brown et al. 2020, app. C), intra-document repetition filters (Rae
et al. 2021 "Gopher" §A1.1), LM-based quality scoring (Wenzek et al.
2019 "CCNet"), stratified-sampling design (Neyman 1934), SPC release
monitoring (Montgomery, "Introduction to Statistical Quality
Control"), ordinal-pattern complexity (Bandt & Pompe 2002), rank
correlation, physical-layout advice, group-sequential experiment
monitoring (O'Brien & Fleming 1979), and FDR control across many
segment tests (Benjamini & Hochberg 1995).

Reference scope: the reference app (SURVEY.md §2) has no analog —
everything here is [EXT] per the north star's training-data-pipeline
mandate, exercised on the driver fixtures.

Shared engineering contract (queries/__init__ docstring): identical
aliases both sides, floats rounded in-query (+1e-9 nudge), exact
integer/decimal accumulation wherever a comparison or boundary
depends on it, and NO data-sized unpartitioned windows — day/vocab/
dimension grains only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

_SQL_TOKS = "string_split_regex(trim(lower({c})), '\\s+')"


def _sql_grams(n: int, toks: str = "toks", distinct: bool = True) -> str:
    """DuckDB word-n-gram generator over a token-list column."""
    g = " || ' ' || ".join([f"{toks}[i + {j}]" for j in range(n)])
    inner = f"list_transform(generate_series(1, len({toks}) - {n - 1}), i -> {g})"
    if distinct:
        inner = f"list_distinct({inner})"
    return f"unnest({inner})"


# ---------------------------------------------------------------------------
# Eval-set n-gram contamination screen
# ---------------------------------------------------------------------------

_CONTAM_N = 5  # 13-grams in GPT-3's screen; 5 fits the fixture doc length


@register(
    "ngram_contamination",
    f"""
WITH t AS (
  SELECT doc_id, doc_id % 5 = 0 AS is_eval,
         {_SQL_TOKS.format(c='text')} AS toks
  FROM documents
), g AS (
  SELECT doc_id, is_eval, {_sql_grams(_CONTAM_N)} AS gram
  FROM t WHERE len(toks) >= {_CONTAM_N}
), tr AS (
  SELECT DISTINCT gram FROM g WHERE NOT is_eval
), ev AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
  FROM g LEFT JOIN tr USING (gram)
  WHERE g.is_eval GROUP BY g.doc_id
)
SELECT doc_id, n_shingles, n_hit,
       round(n_hit / n_shingles::DOUBLE + 1e-9, 4) AS contamination,
       CASE WHEN round(n_hit / n_shingles::DOUBLE + 1e-9, 4) >= 0.5
            THEN 'dirty' ELSE 'clean' END AS verdict
FROM ev
""",
)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/V8 [EXT]: train/eval contamination screen — the n-gram
    overlap audit every LLM data release runs before trusting its
    eval numbers (Brown et al. 2020, appendix C run 13-gram overlap;
    {_CONTAM_N}-grams here to fit the fixture doc length). The corpus
    is split train/eval by doc_id % 5; each eval doc reports how many
    of its distinct {_CONTAM_N}-gram shingles also appear anywhere in
    the train split. Every eval doc WITH ≥ {_CONTAM_N} tokens emits a
    row (contamination 0 is a result, not an absence); shorter docs
    have no shingles and are excluded on both sides — on the driver
    fixtures every doc qualifies (fixture_has_rows pytest), so the
    driver rows stay non-vacuous there.

    Scale shape: the shingle expression is evaluated per consuming
    branch (train distinct, eval probe — two column-pruned scans, the
    checkpoint=False trade); the train side collapses to
    DISTINCT grams (map-side combined); the probe is one hash
    equi-join on the gram key — the same banded/bucketed discipline
    as the dedup family, no pair enumeration, no window. At 100 TB
    the train-gram set is the big side and the join shuffles by gram
    hash — linear, AQE-skew-splittable."""
    from resume_jd_matcher_spark.functions.text import shingles, tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    g = d.select(
        "doc_id",
        (F.col("doc_id") % 5 == 0).alias("is_eval"),
        F.explode(shingles(tokens("text"), _CONTAM_N)).alias("gram"),
    )
    train = g.filter(~F.col("is_eval")).select("gram").distinct()
    ev = (
        g.filter(F.col("is_eval"))
        .join(train.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    rate = F.round(
        F.col("n_hit") / F.col("n_shingles").cast("double") + F.lit(1e-9), 4
    )
    return ev.select(
        "doc_id",
        "n_shingles",
        "n_hit",
        rate.alias("contamination"),
        F.when(rate >= 0.5, F.lit("dirty"))
        .otherwise(F.lit("clean"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition filters (Gopher A1.1)
# ---------------------------------------------------------------------------


@register(
    "intradoc_repetition",
    f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS.format(c='text')} AS toks FROM documents
), g AS (
  SELECT doc_id, {_sql_grams(2, distinct=False)} AS gram
  FROM t WHERE len(toks) >= 2
), c AS (
  SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM g GROUP BY doc_id, gram
), d AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
         count(*)::BIGINT AS n_distinct, max(cnt)::BIGINT AS top_cnt
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_distinct,
       round(1.0 - n_distinct / n_bigrams::DOUBLE + 1e-9, 4) AS dup_ratio,
       round(top_cnt / n_bigrams::DOUBLE + 1e-9, 4) AS top_share,
       CASE WHEN round(1.0 - n_distinct / n_bigrams::DOUBLE + 1e-9, 4) > 0.6
              OR round(top_cnt / n_bigrams::DOUBLE + 1e-9, 4) > 0.18
            THEN 'drop' ELSE 'keep' END AS verdict
FROM d
""",
)
def q_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: per-document repetition filter — duplicate-bigram
    mass (1 − distinct/total) and top-bigram share, the two
    intra-document repetition signals from the Gopher data pipeline
    (Rae et al. 2021 §A1.1; their "fraction of characters in
    duplicated n-grams" family). Differs from `boilerplate_ngrams`
    (per-SOURCE df of distinct grams) and `ngram_diversity`
    (source-level distinct-2 ratio): this is the per-DOC drop/keep
    gate, counting every occurrence. Thresholds compare the ROUNDED
    ratios on both engines so a verdict can't flip on a last-bit
    float diff.

    Scale shape: one non-distinct bigram explode, one (doc, gram)
    hash agg (map-side combined — repeated grams collapse early),
    one doc-grain agg. No window, no join; linear at any sf."""
    from resume_jd_matcher_spark.functions.text import shingles_all, tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    c = (
        d.select(
            "doc_id", F.explode(shingles_all(tokens("text"), 2)).alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    agg = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    dup = F.round(
        F.lit(1.0)
        - F.col("n_distinct") / F.col("n_bigrams").cast("double")
        + F.lit(1e-9),
        4,
    )
    top = F.round(
        F.col("top_cnt") / F.col("n_bigrams").cast("double") + F.lit(1e-9), 4
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        dup.alias("dup_ratio"),
        top.alias("top_share"),
        F.when((dup > 0.6) | (top > 0.18), F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------


@register(
    "unigram_logprob_quality",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS token
  FROM documents
), dt AS (
  SELECT doc_id, token, count(*)::BIGINT AS cnt FROM tok GROUP BY doc_id, token
), v AS (
  SELECT token, sum(cnt)::BIGINT AS c FROM dt GROUP BY token
), s AS (
  SELECT sum(c)::BIGINT AS t_total, count(*)::BIGINT AS v_size FROM v
), nll AS (
  SELECT dt.doc_id, sum(dt.cnt)::BIGINT AS n_tokens,
         round(-sum(dt.cnt * ln((v.c + 1) / (s.t_total + s.v_size)::DOUBLE))
               / sum(dt.cnt)::DOUBLE + 1e-9, 4) AS nll
  FROM dt JOIN v USING (token) CROSS JOIN s
  GROUP BY dt.doc_id
), m AS (
  SELECT avg(nll) AS mu, stddev_samp(nll) AS sd FROM nll
)
SELECT doc_id, n_tokens, nll,
       round((nll - m.mu) / nullif(m.sd, 0.0) + 1e-9, 4) AS z,
       CASE WHEN round((nll - m.mu) / nullif(m.sd, 0.0) + 1e-9, 4) < 1.0
            THEN 'clean'
            WHEN round((nll - m.mu) / nullif(m.sd, 0.0) + 1e-9, 4) < 2.0
            THEN 'suspect' ELSE 'junk' END AS band
FROM nll CROSS JOIN m
""",
)
def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: LM-based quality scoring — per-document mean
    negative log-likelihood under the corpus's own add-1-smoothed
    unigram LM, banded by corpus z-score. The CCNet recipe (Wenzek
    et al. 2019) scores documents with an LM and keeps the
    low-perplexity head; a unigram LM is the degenerate-but-
    deterministic member of that family, which makes the whole
    pipeline (LM fit -> score -> band -> filter) oracle-checkable.
    High-NLL docs are lexically atypical for the corpus (noise,
    boilerplate, wrong language) — the 'junk' band.

    Determinism: per-doc NLL is rounded to 4 decimals IN-QUERY
    before the corpus-moment pass, so both engines band from
    identical inputs; z is rounded before the band comparison.

    Scale shape: the (doc, token, cnt) grain is REBUILT for each of
    its two consumers (vocab agg, scoring join) from the pruned
    parquet scan — caching a fact × token grain on executors is the
    wrong trade at 100 TB (the global_prefix checkpoint=False
    rationale); the VOCAB is checkpointed instead (orders of
    magnitude smaller, two consumers: the LM totals and the join),
    and the per-doc NLL table is checkpointed once because it is the
    pipeline's own product (the moments pass and the banded output
    both read it; at scale this is the table the filter step writes
    anyway). 1-row LM totals and corpus moments broadcast."""
    from resume_jd_matcher_spark.functions.text import tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    def dt() -> DataFrame:
        return (
            d.select("doc_id", F.explode(tokens("text")).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )

    v = (
        dt()
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    s = v.agg(
        F.sum("c").cast("bigint").alias("t_total"),
        F.count("*").cast("bigint").alias("v_size"),
    )
    logp = F.log(
        (F.col("c") + 1)
        / (F.col("t_total") + F.col("v_size")).cast("double")
    )
    nll = (
        dt()
        .join(v, "token")
        .crossJoin(F.broadcast(s))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.col("cnt") * logp)
                / F.sum("cnt").cast("double")
                + F.lit(1e-9),
                4,
            ).alias("nll"),
        )
        .localCheckpoint()
    )
    m = nll.agg(
        F.avg("nll").alias("mu"), F.stddev_samp("nll").alias("sd")
    )
    z = F.round(
        (F.col("nll") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0))
        + F.lit(1e-9),
        4,
    )
    return nll.crossJoin(F.broadcast(m)).select(
        "doc_id",
        "n_tokens",
        "nll",
        z.alias("z"),
        F.when(z < 1.0, F.lit("clean"))
        .when(z < 2.0, F.lit("suspect"))
        .otherwise(F.lit("junk"))
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# Neyman optimal stratified-sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation",
    f"""
WITH s AS (
  SELECT c_nationkey,
         count(*)::BIGINT AS n_h,
         sum(floor(c_acctbal * 100 + 0.5)::BIGINT)::HUGEINT AS sc,
         sum(floor(c_acctbal * 100 + 0.5)::BIGINT::HUGEINT
             * floor(c_acctbal * 100 + 0.5)::BIGINT) AS ssc
  FROM customer GROUP BY c_nationkey
), v AS (
  SELECT c_nationkey, n_h,
         sqrt(((n_h * ssc - sc * sc)
               / (n_h::HUGEINT * (n_h - 1)))::DOUBLE) / 100.0 AS sd_h
  FROM s WHERE n_h >= 2
), t AS (
  SELECT sum(n_h)::BIGINT AS n_total, sum(n_h * sd_h) AS w_total FROM v
)
SELECT c_nationkey, n_h, round(sd_h + 1e-9, 2) AS sd_acctbal,
       floor({_NEYMAN_BUDGET}
             * round((n_h * sd_h) / t.w_total + 1e-12, 9) + 0.5)::BIGINT
         AS alloc_neyman,
       floor({_NEYMAN_BUDGET}
             * round(n_h / t.n_total::DOUBLE + 1e-12, 9) + 0.5)::BIGINT
         AS alloc_proportional
FROM v CROSS JOIN t
""",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Neyman-optimal stratified-sample allocation — given
    strata (customer nations) and a target budget of
    {_NEYMAN_BUDGET} samples, allocate n_h ∝ N_h·σ_h (Neyman 1934):
    bigger and more variable strata get more samples, the design
    that minimizes the estimator variance at fixed budget.
    Proportional allocation alongside shows what naive sampling
    would do. The sampling-design complement to the executing
    samplers in sampling_q (stratified/temperature/DSIR).

    Determinism: σ_h comes from the exact-integer variance identity
    (n·Σx² − (Σx)²) / (n(n−1)) accumulated in decimal(38,0) ≡
    HUGEINT (the r8 diff-in-differences discipline); the allocation
    share is then ROUNDED to 9 decimals before the floor(+0.5), so
    an engine float gap in the weight sum can't flip an allocation
    sitting on a half-integer.

    Scale shape: one map-side-combined hash agg over the dim table
    to |nations| rows; a 1-row total broadcast; pure projection out.
    Nothing grows with the fact."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    dec = "decimal(38,0)"
    s = c.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum(cents.cast(dec)).alias("sc"),
        F.sum(cents.cast(dec) * cents.cast(dec)).alias("ssc"),
    )
    v = s.filter(F.col("n_h") >= 2).select(
        "c_nationkey",
        "n_h",
        (
            F.sqrt(
                (
                    (
                        F.col("n_h").cast(dec) * F.col("ssc")
                        - F.col("sc") * F.col("sc")
                    )
                    / (
                        F.col("n_h").cast(dec)
                        * (F.col("n_h") - 1).cast(dec)
                    )
                ).cast("double")
            )
            / 100.0
        ).alias("sd_h"),
    )
    t = v.agg(
        F.sum("n_h").cast("bigint").alias("n_total"),
        F.sum(F.col("n_h") * F.col("sd_h")).alias("w_total"),
    )
    # floor(+0.5) on a RAW double share can straddle engines (and
    # Spark's partial-agg order makes w_total itself run-dependent)
    # when the exact allocation sits on a half-integer — two equal
    # strata put it at exactly 500.5. Round the share to 9 decimals
    # first, so both engines floor the SAME number; a flip now needs
    # raw shares differing across a 5e-10 boundary (the repo-standard
    # +1e-9-class residual, not a designed-in coin toss).
    w_share = F.round(
        (F.col("n_h") * F.col("sd_h")) / F.col("w_total") + F.lit(1e-12), 9
    )
    p_share = F.round(
        F.col("n_h") / F.col("n_total").cast("double") + F.lit(1e-12), 9
    )
    return v.crossJoin(F.broadcast(t)).select(
        "c_nationkey",
        "n_h",
        F.round(F.col("sd_h") + F.lit(1e-9), 2).alias("sd_acctbal"),
        F.floor(_NEYMAN_BUDGET * w_share + F.lit(0.5))
        .cast("bigint")
        .alias("alloc_neyman"),
        F.floor(_NEYMAN_BUDGET * p_share + F.lit(0.5))
        .cast("bigint")
        .alias("alloc_proportional"),
    )


# ---------------------------------------------------------------------------
# Individuals/moving-range (I-MR) control chart of daily revenue
# ---------------------------------------------------------------------------


@register(
    "imr_control_chart",
    """
WITH g AS (
  SELECT o_orderdate::DATE AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), mr AS (
  SELECT day, rev,
         abs(rev - lag(rev) OVER (ORDER BY day)) AS mrange
  FROM g
), p AS (
  SELECT count(*)::BIGINT AS n_days,
         sum(rev)::BIGINT AS s_rev,
         avg(mrange) AS mr_bar
  FROM mr
), lim AS (
  SELECT n_days,
         s_rev / n_days::DOUBLE AS center,
         3.0 * mr_bar / 1.128 AS spread
  FROM p
)
SELECT l.n_days,
       round(l.center / 100.0 + 1e-9, 2) AS center_dollars,
       round(l.spread / 100.0 + 1e-9, 2) AS spread_dollars,
       sum(CASE WHEN m.rev > l.center + l.spread THEN 1 ELSE 0 END)::BIGINT
         AS n_out_hi,
       sum(CASE WHEN m.rev < l.center - l.spread THEN 1 ELSE 0 END)::BIGINT
         AS n_out_lo
FROM mr m CROSS JOIN lim l
GROUP BY l.n_days, l.center, l.spread
""",
)
def q_imr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: individuals/moving-range (I-MR) control chart of
    daily revenue — the Shewhart chart for one-observation-per-period
    processes (Montgomery, SQC): sigma is estimated from the mean
    absolute difference of CONSECUTIVE observed days divided by the
    d2=1.128 bias constant, limits at center ± 3σ̂. It flags the
    out-of-control days rather than locating a single drift point
    (what a CUSUM does). Gaps in the calendar
    contribute the range between adjacent OBSERVED days — the
    standard irregular-sampling convention, identical on both sides.

    Determinism: center and the MR mean derive from exact integer
    cents (sum/count rational), so the out-of-control comparisons
    evaluate identical doubles on both engines — no rounded-boolean
    dance needed.

    Scale shape: fact -> day grain (one hash agg); ONE bounded
    unpartitioned lag window over calendar days; 1-row limits
    broadcast back over the day grain; 1-row output."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.orderBy("day")
    mr = g.select(
        "day",
        "rev",
        F.abs(F.col("rev") - F.lag("rev").over(w)).alias("mrange"),
    )
    p = mr.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("rev").cast("bigint").alias("s_rev"),
        F.avg("mrange").alias("mr_bar"),
    )
    lim = p.select(
        "n_days",
        (F.col("s_rev") / F.col("n_days").cast("double")).alias("center"),
        (F.lit(3.0) * F.col("mr_bar") / F.lit(1.128)).alias("spread"),
    )
    return (
        mr.crossJoin(F.broadcast(lim))
        .groupBy("n_days", "center", "spread")
        .agg(
            F.sum(
                F.when(
                    F.col("rev") > F.col("center") + F.col("spread"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_out_hi"),
            F.sum(
                F.when(
                    F.col("rev") < F.col("center") - F.col("spread"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_out_lo"),
        )
        .select(
            "n_days",
            F.round(F.col("center") / 100.0 + F.lit(1e-9), 2).alias(
                "center_dollars"
            ),
            F.round(F.col("spread") / 100.0 + F.lit(1e-9), 2).alias(
                "spread_dollars"
            ),
            "n_out_hi",
            "n_out_lo",
        )
    )


# ---------------------------------------------------------------------------
# Permutation entropy of the daily-revenue series (Bandt-Pompe)
# ---------------------------------------------------------------------------


@register(
    "permutation_entropy",
    """
WITH g AS (
  SELECT o_orderdate::DATE AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), w AS (
  SELECT rev AS y0,
         lead(rev, 1) OVER (ORDER BY day) AS y1,
         lead(rev, 2) OVER (ORDER BY day) AS y2
  FROM g
), pat AS (
  SELECT (CASE WHEN y1 > y0 THEN 1 ELSE 0 END
          + 2 * CASE WHEN y2 > y0 THEN 1 ELSE 0 END
          + 4 * CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS code
  FROM w WHERE y1 IS NOT NULL AND y2 IS NOT NULL
), c AS (
  SELECT code, count(*)::BIGINT AS cnt FROM pat GROUP BY code
), tot AS (
  SELECT sum(cnt)::BIGINT AS n_windows FROM c
), t AS (
  SELECT max(n_windows)::BIGINT AS n_windows,
         count(*)::BIGINT AS n_patterns,
         -sum((cnt / n_windows::DOUBLE) * ln(cnt / n_windows::DOUBLE)) AS h
  FROM c CROSS JOIN tot
), top AS (
  SELECT code AS top_code, cnt AS top_cnt FROM c
  ORDER BY cnt DESC, code LIMIT 1
)
SELECT n_windows, n_patterns,
       round(h / ln(6.0) + 1e-9, 4) AS h_norm,
       top_code::INT AS top_code,
       round(top_cnt / n_windows::DOUBLE + 1e-9, 4) AS top_share
FROM t CROSS JOIN top
""",
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: permutation entropy of daily revenue — the
    Shannon entropy of order-3 ordinal patterns (which of the 6
    orderings each consecutive day-triple takes), normalized by
    ln(6) (Bandt & Pompe 2002). The model-free complexity gauge that
    separates trending/seasonal series (low H — few patterns
    dominate) from noise (H -> 1); the screen run before committing
    to a forecasting model. The pattern code is three exact integer
    comparisons (cents), so ties and orderings are bit-identical
    across engines; the entropy runs over at most 6 pattern rows.

    Scale shape: fact -> day grain (hash agg); one bounded lead
    window over calendar days; a <= 6-row pattern agg; 1-row out.
    The top pattern is a 6-row sort with an explicit (cnt desc,
    code) tie-break."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
    )
    w = Window.orderBy("day")
    pat = (
        g.select(
            F.col("rev").alias("y0"),
            F.lead("rev", 1).over(w).alias("y1"),
            F.lead("rev", 2).over(w).alias("y2"),
        )
        .filter(F.col("y1").isNotNull() & F.col("y2").isNotNull())
        .select(
            (
                F.when(F.col("y1") > F.col("y0"), 1).otherwise(0)
                + 2 * F.when(F.col("y2") > F.col("y0"), 1).otherwise(0)
                + 4 * F.when(F.col("y2") > F.col("y1"), 1).otherwise(0)
            ).alias("code")
        )
    )
    c = pat.groupBy("code").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint()  # <=6 rows, three consumers (total, entropy, top)
    tot = c.agg(F.sum("cnt").cast("bigint").alias("n_windows"))
    share = F.col("cnt") / F.col("n_windows").cast("double")
    t = (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_windows").alias("n_windows"),
            F.count("*").cast("bigint").alias("n_patterns"),
            (-F.sum(share * F.log(share))).alias("h"),
        )
    )
    top = c.orderBy(F.col("cnt").desc(), F.col("code").asc()).limit(1)
    return t.crossJoin(F.broadcast(top)).select(
        "n_windows",
        "n_patterns",
        F.round(F.col("h") / F.log(F.lit(6.0)) + F.lit(1e-9), 4).alias(
            "h_norm"
        ),
        F.col("code").cast("int").alias("top_code"),
        F.round(
            F.col("cnt") / F.col("n_windows").cast("double") + F.lit(1e-9), 4
        ).alias("top_share"),
    )


# ---------------------------------------------------------------------------
# Tie-aware Spearman rank correlation (daily revenue vs order count)
# ---------------------------------------------------------------------------


@register(
    "spearman_daily_corr",
    """
WITH g AS (
  SELECT o_orderdate::DATE AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev,
         count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1
), r AS (
  SELECT rev, n_orders,
         rank() OVER (ORDER BY rev)
           + (count(*) OVER (PARTITION BY rev) - 1) / 2.0 AS rx,
         rank() OVER (ORDER BY n_orders)
           + (count(*) OVER (PARTITION BY n_orders) - 1) / 2.0 AS ry
  FROM g
)
SELECT count(*)::BIGINT AS n_days,
       round(corr(rx, ry) + 1e-9, 4) AS spearman,
       round(corr(rev::DOUBLE, n_orders::DOUBLE) + 1e-9, 4) AS pearson
FROM r
""",
)
def q_spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: tie-aware Spearman rank correlation between daily
    revenue and daily order count — Pearson on AVERAGE ranks
    (min-rank + (ties-1)/2, the fractional-rank convention), the
    robust monotone-association check that survives the outlier days
    wrecking raw Pearson (reported alongside for contrast). Spearman
    ~ 1 with Pearson << 1 flags a monotone-but-nonlinear
    relationship — use rank models; both low flags independence.

    Determinism: ranks derive from exact integer cents/counts with
    identical min-rank semantics on both engines, so the rank
    vectors agree exactly; corr is rounded in-query.

    Scale shape: fact -> day grain; rank windows run over the
    CALENDAR-bounded day grain only (the day-grain-first discipline
    — at 100 TB this is still thousands of rows, not the fact); one
    1-row agg out."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    rx = F.rank().over(Window.orderBy("rev")) + (
        F.count("*").over(Window.partitionBy("rev")) - 1
    ) / 2.0
    ry = F.rank().over(Window.orderBy("n_orders")) + (
        F.count("*").over(Window.partitionBy("n_orders")) - 1
    ) / 2.0
    r = g.select(
        "rev", "n_orders", rx.alias("rx"), ry.alias("ry")
    )
    return r.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.corr("rx", "ry") + F.lit(1e-9), 4).alias("spearman"),
        F.round(
            F.corr(
                F.col("rev").cast("double"), F.col("n_orders").cast("double")
            )
            + F.lit(1e-9),
            4,
        ).alias("pearson"),
    )


# ---------------------------------------------------------------------------
# Physical-layout (sort-key) advisor via zone-map tightness
# ---------------------------------------------------------------------------

_SKA_BLOCK = 4096


@register(
    "sort_key_advisor",
    f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '1970-01-01', l_shipdate::DATE) AS sd,
         l_partkey AS pk,
         floor(l_extendedprice * 100 + 0.5)::BIGINT AS pc
  FROM lineitem
), r AS (
  SELECT sd, pk, pc,
         (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1)
           // {_SKA_BLOCK} AS blk
  FROM li
), b AS (
  SELECT blk,
         min(sd) AS sd_lo, max(sd) AS sd_hi,
         min(pk) AS pk_lo, max(pk) AS pk_hi,
         min(pc) AS pc_lo, max(pc) AS pc_hi
  FROM r GROUP BY blk
), g AS (
  SELECT min(sd_lo) AS g_sd_lo, max(sd_hi) AS g_sd_hi,
         min(pk_lo) AS g_pk_lo, max(pk_hi) AS g_pk_hi,
         min(pc_lo) AS g_pc_lo, max(pc_hi) AS g_pc_hi,
         count(*)::BIGINT AS n_blocks
  FROM b
), spans AS (
  SELECT n_blocks,
         avg(coalesce((sd_hi - sd_lo)
             / nullif(g_sd_hi - g_sd_lo, 0)::DOUBLE, 0.0)) AS s_sd,
         avg(coalesce((pk_hi - pk_lo)
             / nullif(g_pk_hi - g_pk_lo, 0)::DOUBLE, 0.0)) AS s_pk,
         avg(coalesce((pc_hi - pc_lo)
             / nullif(g_pc_hi - g_pc_lo, 0)::DOUBLE, 0.0)) AS s_pc
  FROM b CROSS JOIN g GROUP BY n_blocks
)
SELECT col, n_blocks,
       round(avg_span + 1e-9, 4) AS avg_span,
       round(1.0 - avg_span + 1e-9, 4) AS est_skip,
       CASE WHEN round(avg_span + 1e-9, 4) < 0.5
            THEN 'clustered' ELSE 'scattered' END AS verdict
FROM (
  SELECT 'l_shipdate' AS col, n_blocks, s_sd AS avg_span FROM spans
  UNION ALL
  SELECT 'l_partkey', n_blocks, s_pk FROM spans
  UNION ALL
  SELECT 'l_extendedprice', n_blocks, s_pc FROM spans
)
""",
)
def q_sort_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC8/W3 [EXT]: physical-layout advisor — zone-map tightness of
    candidate predicate columns under the CURRENT file order. Rows
    are blocked into {_SKA_BLOCK}-row row groups by physical
    position (l_orderkey, l_linenumber); each candidate column
    reports the mean normalized min-max span of its blocks. A column
    whose values cluster along the layout (span -> 0) gets real
    zone-map/rowgroup pruning (est_skip ~ the fraction of blocks a
    point/range probe skips); a scattered column (span -> 1) tells
    the table owner a re-sort or Z-order would pay. Cf. the sort-key
    advice in Redshift/Snowflake docs and the zone-map literature
    (Moerkotte 1998, "Small Materialized Aggregates").

    Scale shape: the physical rank comes from operators/prefix.
    global_prefix (bucketed — no single-partition window over the
    fact; checkpoint=False, the input is a bare 5-column scan
    projection); blocks collapse to n/{_SKA_BLOCK} summary rows; the
    global range is a 1-row broadcast; the final unpivot runs on 3
    rows. Block min/max and ranges are exact integers (days /
    surrogate keys / cents), so the spans are identical rationals on
    both engines."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01")).alias("sd"),
        F.col("l_partkey").alias("pk"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("pc"),
    )
    r = global_prefix(
        li, ["l_orderkey", "l_linenumber"], None, checkpoint=False
    ).select(
        "sd",
        "pk",
        "pc",
        F.floor((F.col("rank") - 1) / _SKA_BLOCK).alias("blk"),
    )
    b = r.groupBy("blk").agg(
        F.min("sd").alias("sd_lo"),
        F.max("sd").alias("sd_hi"),
        F.min("pk").alias("pk_lo"),
        F.max("pk").alias("pk_hi"),
        F.min("pc").alias("pc_lo"),
        F.max("pc").alias("pc_hi"),
    ).localCheckpoint()  # bounded (n/block rows); feeds g and spans
    g = b.agg(
        F.min("sd_lo").alias("g_sd_lo"),
        F.max("sd_hi").alias("g_sd_hi"),
        F.min("pk_lo").alias("g_pk_lo"),
        F.max("pk_hi").alias("g_pk_hi"),
        F.min("pc_lo").alias("g_pc_lo"),
        F.max("pc_hi").alias("g_pc_hi"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )

    def span(lo, hi, glo, ghi):
        return F.coalesce(
            (F.col(hi) - F.col(lo))
            / F.nullif((F.col(ghi) - F.col(glo)), F.lit(0)).cast("double"),
            F.lit(0.0),
        )

    spans = (
        b.crossJoin(F.broadcast(g))
        .groupBy("n_blocks")
        .agg(
            F.avg(span("sd_lo", "sd_hi", "g_sd_lo", "g_sd_hi")).alias("s_sd"),
            F.avg(span("pk_lo", "pk_hi", "g_pk_lo", "g_pk_hi")).alias("s_pk"),
            F.avg(span("pc_lo", "pc_hi", "g_pc_lo", "g_pc_hi")).alias("s_pc"),
        )
    )
    unpiv = spans.selectExpr(
        "n_blocks",
        "stack(3, 'l_shipdate', s_sd, 'l_partkey', s_pk, "
        "'l_extendedprice', s_pc) AS (col, avg_span_raw)",
    )
    avg_span = F.round(F.col("avg_span_raw") + F.lit(1e-9), 4)
    return unpiv.select(
        "col",
        "n_blocks",
        avg_span.alias("avg_span"),
        F.round(F.lit(1.0) - F.col("avg_span_raw") + F.lit(1e-9), 4).alias(
            "est_skip"
        ),
        F.when(avg_span < 0.5, F.lit("clustered"))
        .otherwise(F.lit("scattered"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Group-sequential A/B monitoring (O'Brien-Fleming boundary)
# ---------------------------------------------------------------------------

_OBF_LOOKS = 5
_OBF_C = 2.04  # two-sided alpha ~ 0.05 at K=5 (O'Brien & Fleming 1979)

# canonical portable-hash SQL spelling (must stay bit-for-bit with
# functions/text.hash32); {c}-keyed in text_q, re-keyed to {x} here
from resume_jd_matcher_spark.queries.text_q import (  # noqa: E402
    SQL_HASH32 as _SQL_H32_C,
)

_SQL_H32_X = _SQL_H32_C.replace("{c}", "{x}")


@register(
    "obrien_fleming_monitor",
    f"""
WITH p AS (
  SELECT {_SQL_H32_X.format(x="user_id::VARCHAR || '#obf'")} % 2 AS arm,
         ts::DATE AS day,
         floor(value * 1000000 + 0.5)::BIGINT AS micros
  FROM events WHERE event_type = 'purchase'
), span AS (
  SELECT min(day) AS d0, date_diff('day', min(day), max(day)) + 1 AS s
  FROM p
), lk AS (
  SELECT arm,
         (floor({_OBF_LOOKS} * date_diff('day', span.d0, day)
                / span.s) + 1)::INT AS look,
         micros
  FROM p CROSS JOIN span
), g0 AS (
  SELECT arm, look, count(*)::BIGINT AS n,
         sum(micros::HUGEINT) AS s,
         sum(micros::HUGEINT * micros) AS ss
  FROM lk GROUP BY arm, look
), spine AS (
  SELECT a.arm, l.look
  FROM (SELECT unnest([0, 1])::BIGINT AS arm) a
  CROSS JOIN (SELECT unnest(generate_series(1, {_OBF_LOOKS}))::INT AS look) l
), g AS (
  SELECT spine.arm, spine.look,
         coalesce(g0.n, 0)::BIGINT AS n,
         coalesce(g0.s, 0::HUGEINT) AS s,
         coalesce(g0.ss, 0::HUGEINT) AS ss
  FROM spine LEFT JOIN g0 USING (arm, look)
), cum AS (
  SELECT arm, look,
         sum(n) OVER w AS cn, sum(s) OVER w AS cs, sum(ss) OVER w AS css
  FROM g
  WINDOW w AS (PARTITION BY arm ORDER BY look
               ROWS UNBOUNDED PRECEDING)
), piv AS (
  SELECT look,
         max(CASE WHEN arm = 0 THEN cn END)::BIGINT AS n_a,
         max(CASE WHEN arm = 1 THEN cn END)::BIGINT AS n_b,
         max(CASE WHEN arm = 0 THEN cs END) AS s_a,
         max(CASE WHEN arm = 1 THEN cs END) AS s_b,
         max(CASE WHEN arm = 0 THEN css END) AS ss_a,
         max(CASE WHEN arm = 1 THEN css END) AS ss_b
  FROM cum GROUP BY look
), z AS (
  SELECT look, n_a, n_b,
         (s_a::DOUBLE / nullif(n_a, 0) - s_b::DOUBLE / nullif(n_b, 0))
         / sqrt(((n_a * ss_a - s_a * s_a)
                 / nullif(n_a::HUGEINT * n_a * (n_a - 1), 0))::DOUBLE
                + ((n_b * ss_b - s_b * s_b)
                   / nullif(n_b::HUGEINT * n_b * (n_b - 1), 0))::DOUBLE)
           AS zval
  FROM piv
)
SELECT look, n_a, n_b,
       round(zval + 1e-9, 4) AS z,
       round({_OBF_C} * sqrt({_OBF_LOOKS} / look::DOUBLE) + 1e-9, 4)
         AS boundary,
       abs(round(zval + 1e-9, 4))
         > round({_OBF_C} * sqrt({_OBF_LOOKS} / look::DOUBLE) + 1e-9, 4)
         AS crossed
FROM z
""",
)
def q_obrien_fleming_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W4 [EXT]: group-sequential A/B monitoring — the purchase-
    value Welch z statistic recomputed at {_OBF_LOOKS} equally-spaced
    interim looks over the experiment calendar, against the
    O'Brien-Fleming boundary c·sqrt(K/k) (O'Brien & Fleming 1979;
    c = {_OBF_C} for K = {_OBF_LOOKS}, two-sided α ≈ 0.05). Early
    looks need overwhelming evidence (boundary ~4.6σ at look 1),
    the full-sample look reverts to ~2.04σ — the peeking-safe way to
    monitor a running experiment, complementing ab_test_ztest (one
    fixed-horizon readout) and mde_power (pre-experiment sizing).

    Determinism: arm assignment is the portable md5-prefix hash;
    per-look sufficient statistics accumulate in exact integer
    micros (decimal(38,0) ≡ HUGEINT); variances use the exact
    Cauchy-Schwarz-nonneg identity (n·Σx² − (Σx)²)/(n²(n−1)) — the
    r8 diff-in-differences discipline — so both engines divide the
    same rationals; z and the boundary are compared ROUNDED.

    Scale shape: fact filter -> (arm, look) hash agg (map-side
    combined, ≤ 2·{_OBF_LOOKS} rows out), zero-filled onto the full
    arm × look spine so a purchase-free (arm, look) cell carries its
    cumulative stats forward instead of nulling the look; the
    cumulative window runs PARTITIONED BY arm over ≤ {_OBF_LOOKS}
    rows; 1-row span broadcast; {_OBF_LOOKS}-row output."""
    from resume_jd_matcher_spark.functions.text import hash32

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        (
            hash32(
                F.concat(F.col("user_id").cast("string"), F.lit("#obf"))
            )
            % 2
        ).alias("arm"),
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("micros"),
    )
    span = p.agg(
        F.min("day").alias("d0"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("s"),
    )
    dec = "decimal(38,0)"
    lk = p.crossJoin(F.broadcast(span)).select(
        "arm",
        (
            F.floor(
                _OBF_LOOKS * F.datediff(F.col("day"), F.col("d0")) / F.col("s")
            )
            + 1
        )
        .cast("int")
        .alias("look"),
        "micros",
    )
    g0 = lk.groupBy("arm", "look").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("micros").cast(dec)).alias("s"),
        F.sum(F.col("micros").cast(dec) * F.col("micros").cast(dec)).alias(
            "ss"
        ),
    )
    # Densify the (arm, look) grid: a look in which one arm records no
    # purchase would otherwise DROP that arm's row, and the per-look
    # pivot below would emit NULL n/z/crossed for a look whose true
    # cumulative sample is nonzero — a look the monitor silently
    # cannot fire at (r9 review finding). Zero-filled cells carry the
    # cumulative stats forward instead.
    spark_ = spark
    spine = (
        spark_.range(2)
        .select(F.col("id").alias("arm"))
        .crossJoin(
            spark_.range(1, _OBF_LOOKS + 1)
            .select(F.col("id").cast("int").alias("look"))
        )
    )
    g = spine.join(g0, ["arm", "look"], "left").select(
        "arm",
        "look",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.col("s"), F.lit(0).cast(dec)).alias("s"),
        F.coalesce(F.col("ss"), F.lit(0).cast(dec)).alias("ss"),
    )
    w = Window.partitionBy("arm").orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "arm",
        "look",
        F.sum("n").over(w).alias("cn"),
        F.sum("s").over(w).alias("cs"),
        F.sum("ss").over(w).alias("css"),
    )
    piv = cum.groupBy("look").agg(
        F.max(F.when(F.col("arm") == 0, F.col("cn"))).cast("bigint").alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("cn"))).cast("bigint").alias("n_b"),
        F.max(F.when(F.col("arm") == 0, F.col("cs"))).alias("s_a"),
        F.max(F.when(F.col("arm") == 1, F.col("cs"))).alias("s_b"),
        F.max(F.when(F.col("arm") == 0, F.col("css"))).alias("ss_a"),
        F.max(F.when(F.col("arm") == 1, F.col("css"))).alias("ss_b"),
    )

    def var_term(n, s, ss):
        return (
            (
                F.col(n).cast(dec) * F.col(ss)
                - F.col(s) * F.col(s)
            )
            / F.nullif(
                F.col(n).cast(dec)
                * F.col(n).cast(dec)
                * (F.col(n) - 1).cast(dec),
                F.lit(0).cast(dec),
            )
        ).cast("double")

    zval = (
        F.col("s_a").cast("double") / F.nullif(F.col("n_a"), F.lit(0))
        - F.col("s_b").cast("double") / F.nullif(F.col("n_b"), F.lit(0))
    ) / F.sqrt(
        var_term("n_a", "s_a", "ss_a") + var_term("n_b", "s_b", "ss_b")
    )
    boundary = F.round(
        _OBF_C * F.sqrt(_OBF_LOOKS / F.col("look").cast("double"))
        + F.lit(1e-9),
        4,
    )
    z4 = F.round(zval + F.lit(1e-9), 4)
    return piv.select(
        "look",
        "n_a",
        "n_b",
        z4.alias("z"),
        boundary.alias("boundary"),
        (F.abs(z4) > boundary).alias("crossed"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR control across segment tests
# ---------------------------------------------------------------------------

_BH_Q = 0.10


@register(
    "benjamini_hochberg",
    f"""
WITH c AS (
  SELECT c_nationkey, floor(c_acctbal * 100 + 0.5)::BIGINT AS cents
  FROM customer
), gtot AS (
  SELECT count(*)::BIGINT AS n, sum(cents::HUGEINT) AS s,
         sum(cents::HUGEINT * cents) AS ss
  FROM c
), gstat AS (
  SELECT n, s::DOUBLE / n AS mu,
         sqrt(((n * ss - s * s) / (n::HUGEINT * (n - 1)))::DOUBLE) AS sd
  FROM gtot
), seg AS (
  SELECT c_nationkey, count(*)::BIGINT AS n_h,
         sum(cents::HUGEINT) AS s_h
  FROM c GROUP BY c_nationkey
), z AS (
  SELECT c_nationkey, n_h,
         (s_h::DOUBLE / n_h - g.mu) / (g.sd / sqrt(n_h::DOUBLE)) AS zval
  FROM seg CROSS JOIN gstat g
), pv AS (
  SELECT c_nationkey, n_h, zval,
         round(least(1.0, 2.0 * exp(-0.717 * abs(zval)
                                    - 0.416 * zval * zval)) + 1e-9, 6)
           AS p_value
  FROM z
), rk AS (
  SELECT *, row_number() OVER (ORDER BY p_value, c_nationkey) AS rnk,
         count(*) OVER () AS m
  FROM pv
), k AS (
  SELECT coalesce(max(CASE WHEN p_value <= round(rnk * {_BH_Q} / m, 6)
                       THEN rnk END), 0) AS kstar
  FROM rk
)
SELECT c_nationkey, n_h, round(zval + 1e-9, 4) AS z, p_value,
       rnk::INT AS rnk,
       round(rnk * {_BH_Q} / m, 6) AS bh_thresh,
       rnk <= k.kstar AS reject
FROM rk CROSS JOIN k
""",
)
def q_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W3 [EXT]: Benjamini-Hochberg FDR step-up across the 25
    per-nation mean-acctbal z-tests — the multiple-testing control
    every segment-drilldown dashboard needs (Benjamini & Hochberg
    1995): sort p ascending, find the largest k with
    p_(k) ≤ k·q/m (q = {_BH_Q}), reject exactly ranks 1..k. Running
    25 uncorrected tests at α=0.05 expects a false positive; BH
    bounds the FALSE DISCOVERY RATE instead of the familywise rate,
    keeping power. The p-value uses the short exponential normal-
    tail approximation 2·exp(−0.717|z| − 0.416z²) (Lin 1989) —
    monotone in |z| (all BH needs) and bit-identical on both
    engines, unlike an erf-based tail neither exposes.

    Determinism: global and per-nation moments accumulate in exact
    integer cents (decimal(38,0) ≡ HUGEINT, exact-variance
    identity), p is rounded to 6 BEFORE ranking and thresholding,
    and the rank tie-breaks on nationkey.

    Scale shape: two map-side-combined hash aggs over the dim table
    (global + per-nation); everything after — rank window, step-up
    max, output — runs on |nations| rows."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    dec = "decimal(38,0)"
    glob = c.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias(
            "ss"
        ),
    )
    gstat = glob.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                (F.col("n").cast(dec) * F.col("ss") - F.col("s") * F.col("s"))
                / (F.col("n").cast(dec) * (F.col("n") - 1).cast(dec))
            ).cast("double")
        ).alias("sd"),
    )
    seg = c.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum(F.col("cents").cast(dec)).alias("s_h"),
    )
    zval = (
        F.col("s_h").cast("double") / F.col("n_h") - F.col("mu")
    ) / (F.col("sd") / F.sqrt(F.col("n_h").cast("double")))
    pv = seg.crossJoin(F.broadcast(gstat)).select(
        "c_nationkey",
        "n_h",
        zval.alias("zval"),
        F.round(
            F.least(
                F.lit(1.0),
                2.0
                * F.exp(
                    -0.717 * F.abs(zval) - 0.416 * zval * zval
                ),
            )
            + F.lit(1e-9),
            6,
        ).alias("p_value"),
    )
    # |nations|-bounded unpartitioned windows (dimension grain only)
    rk = pv.select(
        "*",
        F.row_number()
        .over(Window.orderBy("p_value", "c_nationkey"))
        .alias("rnk"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    thresh = F.round(F.col("rnk") * _BH_Q / F.col("m"), 6)
    k = rk.agg(
        F.coalesce(
            F.max(F.when(F.col("p_value") <= thresh, F.col("rnk"))),
            F.lit(0),
        ).alias("kstar")
    )
    return rk.crossJoin(F.broadcast(k)).select(
        "c_nationkey",
        "n_h",
        F.round(F.col("zval") + F.lit(1e-9), 4).alias("z"),
        "p_value",
        F.col("rnk").cast("int").alias("rnk"),
        thresh.alias("bh_thresh"),
        (F.col("rnk") <= F.col("kstar")).alias("reject"),
    )


# ---------------------------------------------------------------------------
# Cross-source near-duplicate leakage matrix
# ---------------------------------------------------------------------------

_LEAK_MIN_EST = 0.5


@register(
    "cross_source_leakage",
    f"""
WITH docs AS (
  SELECT doc_id, source,
         list_distinct({_SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({_SQL_H32_C.format(c="w || '#' || seed")}) AS mh
  FROM tok, (SELECT unnest(generate_series(0, 15)) AS seed) seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         string_agg(mh::VARCHAR, '-' ORDER BY seed) AS band_sig
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
), est AS (
  SELECT c.left_id, c.right_id,
         round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4)
           AS est_jaccard
  FROM cand c
  JOIN h ha ON ha.doc_id = c.left_id
  JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
  GROUP BY c.left_id, c.right_id
), leak AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b,
         e.est_jaccard
  FROM est e
  JOIN docs da ON da.doc_id = e.left_id
  JOIN docs db ON db.doc_id = e.right_id
  WHERE e.est_jaccard >= {_LEAK_MIN_EST} AND da.source != db.source
)
SELECT src_a, src_b, count(*)::BIGINT AS n_pairs,
       round(avg(est_jaccard) + 1e-9, 4) AS avg_est_jaccard
FROM leak GROUP BY src_a, src_b
""",
)
def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8/U5 [EXT]: cross-source near-duplicate leakage matrix — for
    every pair of corpus sources, how many near-duplicate document
    pairs (MinHash-LSH candidates with estimated Jaccard ≥
    {_LEAK_MIN_EST}) straddle the source boundary. Within-source
    duplication is a dedup problem; CROSS-source duplication is a
    provenance/licensing/contamination problem (the same document
    entering via two crawls defeats per-source mixture weights and
    leaks across declared splits) — the remediation unit is the
    source pair, which is why the matrix readout, not the pair list,
    is the product. doc_id < 200 caps the oracle's replay exactly
    like the registered `minhash_lsh` (whose uncapped kernel carries
    the measured 10x curve).

    Scale shape: identical to the dedup family — banded equi-join
    candidates (never corpus²), signature verify by seed equi-join,
    then a |sources|²-bounded matrix agg; the source join is a
    doc-keyed equi-join against the (doc, source) projection."""
    from resume_jd_matcher_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    cand = dedup.minhash_lsh_candidates(
        d, n_hashes=16, rows_per_band=4, persist=False
    ).filter(F.col("est_jaccard") >= _LEAK_MIN_EST)
    src = d.select("doc_id", "source").localCheckpoint()
    leak = (
        cand.join(
            src.select(
                F.col("doc_id").alias("left_id"),
                F.col("source").alias("src_l"),
            ),
            "left_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("right_id"),
                F.col("source").alias("src_r"),
            ),
            "right_id",
        )
        .filter(F.col("src_l") != F.col("src_r"))
        .select(
            F.least("src_l", "src_r").alias("src_a"),
            F.greatest("src_l", "src_r").alias("src_b"),
            "est_jaccard",
        )
    )
    # persist=False above: on the doc_id < 200 slice the signature
    # subplan is cheap to recompute per consumer, so no cache enters
    # the CacheManager at all — it is empty immediately after this
    # query's action with no release hook needed, and the plan stays
    # fully visible to the audits (an earlier r10 draft checkpointed
    # here, which blinded them behind a Scan ExistingRDD node and ran
    # the MinHash job at plan-construction time).
    return leak.groupBy("src_a", "src_b").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("est_jaccard") + F.lit(1e-9), 4).alias(
            "avg_est_jaccard"
        ),
    )
