"""Round-10 family: statistical inference & model diagnostics.

The classical-test battery an analytics platform runs beside the
experiment/eval families: distributional tests (Jarque-Bera 1980
normality, Grubbs 1950 outlier), k-group location/dispersion tests
(one-way ANOVA, Kruskal-Wallis 1952 rank test, Brown-Forsythe 1974
robust Levene), time-series diagnostics and forecasts (Ljung-Box
1978 portmanteau, Durbin-Watson 1950 residual autocorrelation, Holt
1957 double exponential smoothing, rolling OLS beta), probabilistic-
classifier scoring (Brier 1950 / log-loss, Matthews 1975 correlation
coefficient), market/inequality structure (Theil 1967 decomposable
entropy index, Herfindahl-Hirschman concentration), and per-node
graph structure (Watts-Strogatz 1998 local clustering coefficient).

All [EXT] per the north star (the reference's 610-LoC Flask pipeline
has no analytics surface — these extend SURVEY §2's A4/W4 families).
Same engineering contract as the r8-r10 families: identical aliases
in Spark and DuckDB, in-query rounding with the +1e-9 nudge, exact
integer accumulation at decision points (cents day grains,
decimal(38,0) confusion products), nullif-guarded divisions on both
engines, no data-sized unpartitioned windows (day grains and
dimension grains only; the one global rank need is served by
operators/prefix.global_prefix's bucket-offset pattern), every
crossJoin a bounded broadcast.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

# Shared DuckDB fragment: the integer-cents daily-revenue grain (the
# acf_daily discipline — exact bigint day totals, deterministic on
# both engines regardless of parallel double-summation order).
_SQL_DAY_REV = """
  SELECT o_orderdate::DATE AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY 1
"""


def _day_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SQL_DAY_REV: exact integer-cents daily revenue."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test per customer segment
# ---------------------------------------------------------------------------

@register(
    "jarque_bera",
    """
WITH s AS (
  SELECT c_mktsegment AS segment, count(*)::BIGINT AS n,
         sum(c_acctbal) AS s1,
         sum(c_acctbal * c_acctbal) AS s2,
         sum(c_acctbal * c_acctbal * c_acctbal) AS s3,
         sum(c_acctbal * c_acctbal * c_acctbal * c_acctbal) AS s4
  FROM customer GROUP BY 1
), m AS (
  SELECT segment, n, s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n)
           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n)
           + 6 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM s
), j AS (
  SELECT segment, n,
         m3 / nullif(sqrt(m2 * m2 * m2), 0.0) AS skew,
         m4 / nullif(m2 * m2, 0.0) - 3.0 AS kurt_x
  FROM m
)
SELECT segment, n,
       round(skew + 1e-9, 4) AS skewness,
       round(kurt_x + 1e-9, 4) AS kurtosis_excess,
       round(n / 6.0 * (skew * skew + kurt_x * kurt_x / 4.0) + 1e-9, 4)
         AS jb_stat,
       coalesce(round(n / 6.0 * (skew * skew + kurt_x * kurt_x / 4.0)
                      + 1e-9, 4) > 5.991, false) AS reject_normal
FROM j
""",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Jarque-Bera normality test of account balance per
    market segment — skewness and excess kurtosis from raw power
    sums, JB = n/6·(S² + K²/4), rejected against the χ²(2) 5% cut
    (5.991) on the ROUNDED statistic (the welch_ttest discipline).
    The residual-normality gate run before trusting z/t intervals.

    Scale shape: ONE map-side-combined hash agg over the fact
    computes (n, Σx, Σx², Σx³, Σx⁴) per segment; everything after is
    scalar arithmetic on |segments| rows. The power-sum cancellation
    (m4 from S4 terms ~1e16 down to ~1e14) costs ~2 of 15.9 double
    digits — well inside the exposed 4-dp rounding; both engines run
    the identical formula so the error is shared, not compared."""
    c = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    s = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - F.lit(3) * mu * (F.col("s2") / n) + F.lit(2) * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - F.lit(4) * mu * (F.col("s3") / n)
        + F.lit(6) * mu * mu * (F.col("s2") / n)
        - F.lit(3) * mu * mu * mu * mu
    )
    j = s.select(
        "segment",
        "n",
        (m3 / F.nullif(F.sqrt(m2 * m2 * m2), F.lit(0.0))).alias("skew"),
        (m4 / F.nullif(m2 * m2, F.lit(0.0)) - F.lit(3.0)).alias("kurt_x"),
    )
    jb = F.round(
        F.col("n") / F.lit(6.0)
        * (
            F.col("skew") * F.col("skew")
            + F.col("kurt_x") * F.col("kurt_x") / F.lit(4.0)
        )
        + F.lit(1e-9),
        4,
    )
    return j.select(
        "segment",
        "n",
        F.round(F.col("skew") + F.lit(1e-9), 4).alias("skewness"),
        F.round(F.col("kurt_x") + F.lit(1e-9), 4).alias("kurtosis_excess"),
        jb.alias("jb_stat"),
        F.coalesce(jb > F.lit(5.991), F.lit(False)).alias("reject_normal"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA across customer segments
# ---------------------------------------------------------------------------

@register(
    "anova_oneway",
    """
WITH g AS (
  SELECT c_mktsegment AS seg, count(*)::BIGINT AS n_g,
         sum(c_acctbal) AS s_g, sum(c_acctbal * c_acctbal) AS ss_g
  FROM customer GROUP BY 1
), t AS (
  SELECT sum(n_g)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(s_g) AS s, sum(ss_g) AS ss,
         sum(s_g * s_g / n_g) AS sgr
  FROM g
)
SELECT n, k AS k_groups,
       round(sgr - s * s / n + 1e-9, 2) AS ss_between,
       round(ss - sgr + 1e-9, 2) AS ss_within,
       round(((sgr - s * s / n) / (k - 1.0))
             / nullif((ss - sgr) / (n - k * 1.0), 0.0) + 1e-9, 4) AS f_stat
FROM t
""",
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: one-way fixed-effects ANOVA of account balance
    across the five market segments — between/within sums of squares
    from per-group sufficient statistics (n, Σx, Σx²), F = MSB/MSW.
    The k-group generalization of welch_ttest's two arms (classical
    equal-variance form; kruskal_wallis is its rank-based companion,
    levene_test its variance-homogeneity precondition check).

    Scale shape: one map-side-combined hash agg to |segments| rows,
    one 1-row reduction over those — no join, no window, the fact is
    scanned exactly once. Double power sums both sides, identical
    formula, exposed values rounded."""
    c = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    g = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum(x).alias("s_g"),
        F.sum(x * x).alias("ss_g"),
    )
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sgr"),
    )
    ssb = F.col("sgr") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sgr")
    return t.select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(ssb + F.lit(1e-9), 2).alias("ss_between"),
        F.round(ssw + F.lit(1e-9), 2).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - F.lit(1.0)))
            / F.nullif(ssw / (F.col("n") - F.col("k") * F.lit(1.0)), F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank test across customer segments
# ---------------------------------------------------------------------------

@register(
    "kruskal_wallis",
    """
WITH r AS (
  SELECT c_mktsegment AS seg,
         rank() OVER (ORDER BY c_acctbal)
           + (count(*) OVER (PARTITION BY c_acctbal) - 1) / 2.0 AS ar
  FROM customer
), g AS (
  SELECT seg, count(*)::BIGINT AS n_g, sum(ar) AS r_g FROM r GROUP BY seg
), t AS (SELECT count(*)::BIGINT AS n, count(DISTINCT seg)::BIGINT AS k FROM r),
ties AS (
  SELECT sum(c * c * c - c) AS tie_mass
  FROM (SELECT count(*)::HUGEINT AS c FROM customer GROUP BY c_acctbal)
), h AS (
  SELECT t.n, t.k,
         12.0 / (t.n * (t.n + 1.0)) * sum(g.r_g * g.r_g / g.n_g)
           - 3.0 * (t.n + 1) AS h_raw,
         1.0 - (SELECT tie_mass FROM ties)::DOUBLE
               / (t.n::DOUBLE * t.n * t.n - t.n) AS c_ties
  FROM g, t GROUP BY t.n, t.k
)
SELECT n, k AS k_groups,
       round(h_raw + 1e-9, 4) AS h_stat,
       round(c_ties + 1e-9, 6) AS tie_correction,
       round(h_raw / nullif(c_ties, 0.0) + 1e-9, 4) AS h_corrected
FROM h
""",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A4 [EXT]: Kruskal-Wallis rank test of account balance
    across market segments — H from tie-averaged global ranks, with
    the standard tie-mass correction 1 − Σ(t³−t)/(n³−n). The
    distribution-free companion of anova_oneway (same groups, rank
    location instead of mean location).

    Scale shape: the global rank NEVER touches a fact-sized
    unpartitioned window. Ranks collapse to the DISTINCT-VALUE grain
    (one hash agg), operators/prefix.global_prefix supplies the exact
    cumulative count via its bucket-offset pattern, and the tie-
    averaged rank of a value is prefix_before + (t+1)/2 — a pure
    projection. Per-(segment, value) counts then join that grain
    (equi-join on the value) and reduce to |segments| rows. Rank
    halves are exact in doubles (≤2⁵²), so R_g sums are
    deterministic on both engines; the oracle's window spelling is
    the same mathematical rank."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("x")
    )
    vals = c.groupBy("x").agg(F.count("*").cast("bigint").alias("cnt"))
    pref = global_prefix(vals, ["x"], sum_col="cnt", sum_type="bigint")
    ar = pref.select(
        "x",
        "cnt",
        (
            (F.col("cum_sum") - F.col("cnt")).cast("double")
            + (F.col("cnt") + F.lit(1)) / F.lit(2.0)
        ).alias("ar"),
    )
    gv = c.groupBy("seg", "x").agg(F.count("*").cast("bigint").alias("m"))
    g = (
        gv.join(ar.select("x", "ar"), "x")
        .groupBy("seg")
        .agg(
            F.sum("m").cast("bigint").alias("n_g"),
            F.sum(F.col("m") * F.col("ar")).alias("r_g"),
        )
    )
    ties = vals.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_mass")
    )
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("sr2"),
    )
    h = t.crossJoin(F.broadcast(ties)).select(
        "n",
        "k",
        (
            F.lit(12.0) / (F.col("n") * (F.col("n") + F.lit(1.0))) * F.col("sr2")
            - F.lit(3.0) * (F.col("n") + F.lit(1))
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("tie_mass").cast("double")
            / (
                F.col("n").cast("double") * F.col("n") * F.col("n")
                - F.col("n")
            )
        ).alias("c_ties"),
    )
    return h.select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(F.col("h_raw") + F.lit(1e-9), 4).alias("h_stat"),
        F.round(F.col("c_ties") + F.lit(1e-9), 6).alias("tie_correction"),
        F.round(
            F.col("h_raw") / F.nullif(F.col("c_ties"), F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) variance-homogeneity test
# ---------------------------------------------------------------------------

@register(
    "levene_test",
    """
WITH med AS (
  SELECT c_mktsegment AS seg, median(c_acctbal) AS med
  FROM customer GROUP BY 1
), z AS (
  SELECT c.c_mktsegment AS seg, abs(c.c_acctbal - m.med) AS z
  FROM customer c JOIN med m ON m.seg = c.c_mktsegment
), g AS (
  SELECT seg, count(*)::BIGINT AS n_g, sum(z) AS s_g, sum(z * z) AS ss_g
  FROM z GROUP BY seg
), t AS (
  SELECT sum(n_g)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(s_g) AS s, sum(ss_g) AS ss, sum(s_g * s_g / n_g) AS sgr
  FROM g
)
SELECT n, k AS k_groups,
       round(((sgr - s * s / n) / (k - 1.0))
             / nullif((ss - sgr) / (n - k * 1.0), 0.0) + 1e-9, 4) AS w_stat
FROM t
""",
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Brown-Forsythe variance-homogeneity test — the
    median-centered Levene statistic: one-way ANOVA F over
    z = |x − median_g| across market segments. The precondition
    check for anova_oneway's equal-variance assumption, in its
    outlier-robust (median, not mean) form.

    Scale shape: per-group exact medians are one hash agg to
    |segments| rows (Spark percentile == DuckDB median: both the
    interpolated type-7 quantile), joined back as a broadcast
    equi-join; then the same two-level sufficient-statistic
    reduction as anova_oneway. Two fact scans total (median pass +
    deviation pass), no window."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("x")
    )
    med = c.groupBy("seg").agg(F.percentile("x", F.lit(0.5)).alias("med"))
    z = c.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    g = z.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(F.col("z") * F.col("z")).alias("ss_g"),
    )
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sgr"),
    )
    ssb = F.col("sgr") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sgr")
    return t.select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(
            (ssb / (F.col("k") - F.lit(1.0)))
            / F.nullif(ssw / (F.col("n") - F.col("k") * F.lit(1.0)), F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test on daily revenue
# ---------------------------------------------------------------------------

_LB_MAX_LAG = 10


@register(
    "ljung_box",
    f"""
WITH g AS ({_SQL_DAY_REV}
), t AS (
  SELECT sum(cents)::BIGINT AS s, count(*)::BIGINT AS n FROM g
), d AS (
  SELECT day, cents - s / n::DOUBLE AS dev FROM g CROSS JOIN t
), ss AS (
  SELECT sum(dev * dev) AS ss FROM d
), p AS (
  SELECT k.k, sum(a.dev * b.dev) AS sp
  FROM d a
  CROSS JOIN (SELECT unnest(generate_series(1, {_LB_MAX_LAG}))::INTEGER AS k) k
  JOIN d b ON b.day = a.day + k.k
  GROUP BY k.k
), q AS (
  SELECT t.n,
         t.n * (t.n + 2.0)
           * sum((p.sp / ss.ss) * (p.sp / ss.ss) / (t.n - p.k)) AS q_raw
  FROM p, ss, t GROUP BY t.n
)
SELECT n AS n_days, {_LB_MAX_LAG} AS df,
       round(q_raw + 1e-9, 4) AS q_stat,
       coalesce(round(q_raw + 1e-9, 4) > 18.307, false) AS reject_white_noise
FROM q
""",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: Ljung-Box portmanteau test on the daily-revenue
    series — Q = n(n+2)·Σ r_k²/(n−k) over lags 1..{_LB_MAX_LAG},
    rejected against the χ²({_LB_MAX_LAG}) 5% cut (18.307) on the
    ROUNDED statistic. The is-there-any-autocorrelation-at-all gate
    run after acf_daily's per-lag readout (same calendar-shift r_k
    convention, same integer-cents day grain).

    Scale shape: identical to acf_daily — integer-cents day-grain
    hash agg, 1-row mean broadcast, each lag a calendar-key
    equi-join of the day grain fanned by a {_LB_MAX_LAG}-literal
    explode, then a 1-row reduction. Never fact-sized after the
    first agg, no window."""
    g = _day_rev(spark, sf_dir)
    t = g.agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    d = g.crossJoin(F.broadcast(t)).select(
        "day",
        "n",
        (F.col("cents") - F.col("s") / F.col("n").cast("double")).alias("dev"),
    )
    ss = d.agg(F.sum(F.col("dev") * F.col("dev")).alias("ss"))
    lags = d.select(
        "day",
        "n",
        F.col("dev").alias("dev_a"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _LB_MAX_LAG + 1)])
        ).alias("k"),
    ).withColumn("day_b", F.date_add("day", F.col("k")))
    b = d.select(F.col("day").alias("day_b"), F.col("dev").alias("dev_b"))
    p = (
        lags.join(b, "day_b")
        .groupBy("k", "n")
        .agg(F.sum(F.col("dev_a") * F.col("dev_b")).alias("sp"))
    )
    q = (
        p.crossJoin(F.broadcast(ss))
        .groupBy("n")
        .agg(
            F.sum(
                (F.col("sp") / F.col("ss"))
                * (F.col("sp") / F.col("ss"))
                / (F.col("n") - F.col("k"))
            ).alias("sq")
        )
        .select(
            "n",
            (F.col("n") * (F.col("n") + F.lit(2.0)) * F.col("sq")).alias(
                "q_raw"
            ),
        )
    )
    qr = F.round(F.col("q_raw") + F.lit(1e-9), 4)
    return q.select(
        F.col("n").alias("n_days"),
        F.lit(_LB_MAX_LAG).cast("int").alias("df"),
        qr.alias("q_stat"),
        F.coalesce(qr > F.lit(18.307), F.lit(False)).alias(
            "reject_white_noise"
        ),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson on daily-revenue OLS-vs-time residuals
# ---------------------------------------------------------------------------

@register(
    "durbin_watson",
    f"""
WITH g AS ({_SQL_DAY_REV}
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS t, cents::DOUBLE AS x FROM g
), ols AS (
  SELECT count(*)::BIGINT AS n, sum(t::DOUBLE) AS st, sum(x) AS sx,
         sum(t::DOUBLE * t) AS stt, sum(t::DOUBLE * x) AS stx
  FROM idx
), fit AS (
  SELECT n,
         (n * stx - st * sx) / nullif(n * stt - st * st, 0.0) AS slope,
         (sx - (n * stx - st * sx) / nullif(n * stt - st * st, 0.0) * st)
           / n AS intercept
  FROM ols
), e AS (
  SELECT t, x - (fit.intercept + fit.slope * t) AS e FROM idx, fit
), dw AS (
  SELECT sum(CASE WHEN lag_e IS NOT NULL
                  THEN (e - lag_e) * (e - lag_e) ELSE 0.0 END) AS num,
         sum(e * e) AS den
  FROM (SELECT e, lag(e) OVER (ORDER BY t) AS lag_e FROM e)
)
SELECT fit.n AS n_days,
       round(fit.slope + 1e-9, 4) AS slope,
       round(fit.intercept + 1e-9, 2) AS intercept,
       round(dw.num / nullif(dw.den, 0.0) + 1e-9, 4) AS dw_stat
FROM fit, dw
""",
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: Durbin-Watson test on the residuals of the daily
    revenue OLS trend — DW = Σ(e_t − e_{{t−1}})² / Σe_t², the
    residual-autocorrelation diagnostic run after regression_stats'
    fit (DW≈2 white residuals, →0 positive, →4 negative
    autocorrelation).

    Scale shape: integer-cents day grain, then every window
    (row_number index, lag) is over that CALENDAR-BOUNDED grain —
    never the fact; the OLS fit is a 1-row sufficient-statistic agg
    broadcast back. Residuals are doubles from exact integer inputs
    through one shared closed form."""
    g = _day_rev(spark, sf_dir)
    idx = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.col("cents").cast("double").alias("x"),
    )
    ols = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("t").cast("double")).alias("st"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t").cast("double") * F.col("t")).alias("stt"),
        F.sum(F.col("t").cast("double") * F.col("x")).alias("stx"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / F.nullif(
        F.col("n") * F.col("stt") - F.col("st") * F.col("st"), F.lit(0.0)
    )
    fit = ols.select(
        "n",
        slope.alias("slope"),
        ((F.col("sx") - slope * F.col("st")) / F.col("n")).alias("intercept"),
    )
    e = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        "n",
        "slope",
        "intercept",
        (F.col("x") - (F.col("intercept") + F.col("slope") * F.col("t"))).alias(
            "e"
        ),
    )
    lagged = e.withColumn("lag_e", F.lag("e").over(Window.orderBy("t")))
    dw = lagged.groupBy("n", "slope", "intercept").agg(
        F.sum(
            F.when(
                F.col("lag_e").isNotNull(),
                (F.col("e") - F.col("lag_e")) * (F.col("e") - F.col("lag_e")),
            ).otherwise(0.0)
        ).alias("num"),
        F.sum(F.col("e") * F.col("e")).alias("den"),
    )
    return dw.select(
        F.col("n").alias("n_days"),
        F.round(F.col("slope") + F.lit(1e-9), 4).alias("slope"),
        F.round(F.col("intercept") + F.lit(1e-9), 2).alias("intercept"),
        F.round(
            F.col("num") / F.nullif(F.col("den"), F.lit(0.0)) + F.lit(1e-9), 4
        ).alias("dw_stat"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend (double exponential smoothing) forecast
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1
_HOLT_H = 7


@register(
    "holt_linear_forecast",
    f"""
WITH RECURSIVE g AS ({_SQL_DAY_REV}
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS i, cents::DOUBLE AS x FROM g
), n AS (SELECT count(*)::BIGINT AS n FROM idx),
holt AS (
  SELECT 1::BIGINT AS i, a.x AS l, b.x - a.x AS b
  FROM idx a, idx b WHERE a.i = 1 AND b.i = 2
  UNION ALL
  SELECT h.i + 1,
         {_HOLT_ALPHA} * nx.x + {1 - _HOLT_ALPHA} * (h.l + h.b),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * nx.x
                          + {1 - _HOLT_ALPHA} * (h.l + h.b)) - h.l)
           + {1 - _HOLT_BETA} * h.b
  FROM holt h JOIN idx nx ON nx.i = h.i + 1
), fin AS (
  SELECT l, b FROM holt, n WHERE holt.i = n.n
)
SELECT h::INT AS horizon_days,
       round((l + h * b) / 100.0 + 1e-9, 2) AS forecast_revenue
FROM fin, (SELECT unnest(generate_series(1, {_HOLT_H})) AS h)
""",
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: Holt double-exponential-smoothing forecast of daily
    revenue — level/trend recursion (α={_HOLT_ALPHA}, β={_HOLT_BETA},
    seeded l₁=x₁, b₁=x₂−x₁) folded over the ordered day grain, then
    ŷ(h) = l_n + h·b_n for h = 1..{_HOLT_H}. The trend-aware
    counterpart of ewma_smoothing (level only) and forecast_backtest
    (seasonal-naive); an inherently SEQUENTIAL recurrence, so the
    right distributed shape is reduce-then-fold, not a window.

    Scale shape: the fact collapses to the integer-cents day grain
    (one hash agg); the grain — bounded by the CALENDAR, not the
    data — is collected into ONE array row via collect_list +
    array_sort and the recursion runs as a single F.aggregate fold,
    JVM-side codegen. Both engines execute the identical
    left-to-right double recursion (DuckDB: recursive CTE), so the
    fold is bit-reproducible; only the forecast is exposed, rounded.
    At any sf the folded array is ~years×365 structs — a driver-safe
    constant."""
    g = _day_rev(spark, sf_dir)
    arr = g.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day"), F.col("cents")))
        ).alias("s")
    ).select(F.expr("transform(s, p -> cast(p.cents as double))").alias("xs"))
    a, b = _HOLT_ALPHA, _HOLT_BETA
    fin = arr.filter(F.size("xs") >= 2).select(
        F.expr(
            f"""
            aggregate(
              slice(xs, 2, size(xs) - 1),
              named_struct('l', xs[0], 'b', xs[1] - xs[0]),
              (acc, x) -> named_struct(
                'l', {a}d * x + {1 - a}d * (acc.l + acc.b),
                'b', {b}d * (({a}d * x + {1 - a}d * (acc.l + acc.b)) - acc.l)
                     + {1 - b}d * acc.b)
            )
            """
        ).alias("hb")
    )
    hs = fin.select(
        F.col("hb.l").alias("l"),
        F.col("hb.b").alias("b"),
        F.explode(
            F.array(*[F.lit(h) for h in range(1, _HOLT_H + 1)])
        ).alias("h"),
    )
    return hs.select(
        F.col("h").cast("int").alias("horizon_days"),
        F.round(
            (F.col("l") + F.col("h") * F.col("b")) / F.lit(100.0)
            + F.lit(1e-9),
            2,
        ).alias("forecast_revenue"),
    )


# ---------------------------------------------------------------------------
# Brier score + log-loss of the deterministic logistic scorer
# ---------------------------------------------------------------------------

@register(
    "brier_logloss",
    """
WITH e AS (
  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), g AS (
  SELECT avg(value) AS mu,
         sqrt(greatest(sum(value * value) / count(*)
                       - avg(value) * avg(value), 1e-12)) AS sd
  FROM e
), p AS (
  SELECT label,
         least(greatest(
           round(1.0 / (1.0 + exp(-(value - g.mu) / g.sd)), 9),
           1e-6), 1.0 - 1e-6) AS p_hat
  FROM e, g
)
SELECT count(*)::BIGINT AS n,
       round(avg(label::DOUBLE) + 1e-9, 6) AS prevalence,
       round(avg((p_hat - label) * (p_hat - label)) + 1e-9, 6) AS brier,
       round(-avg(label * ln(p_hat) + (1 - label) * ln(1.0 - p_hat))
             + 1e-9, 6) AS log_loss
FROM p
""",
)
def q_brier_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Brier score and log-loss of the same deterministic
    logistic scorer calibration_eval bins (sigmoid of the
    standardized event value vs the purchase label) — the two proper
    scoring rules reported beside a reliability diagram; p̂ clamped
    to [1e-6, 1−1e-6] so log-loss stays finite at the saturated
    ends, and rounded to 9 dp BEFORE the clamp on both engines (the
    calibration_eval float-edge discipline).

    Scale shape: 1-row moments agg broadcast back, then ONE
    map-side-combined global agg over the fact — no join beyond the
    broadcast, no window."""
    e = load_table(spark, sf_dir, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "label"
        ),
    )
    g = e.agg(
        F.avg("value").alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(F.col("value") * F.col("value")) / F.count("*")
                - F.avg("value") * F.avg("value"),
                F.lit(1e-12),
            )
        ).alias("sd"),
    )
    p = e.crossJoin(F.broadcast(g)).select(
        "label",
        F.least(
            F.greatest(
                F.round(
                    F.lit(1.0)
                    / (
                        F.lit(1.0)
                        + F.exp(-(F.col("value") - F.col("mu")) / F.col("sd"))
                    ),
                    9,
                ),
                F.lit(1e-6),
            ),
            F.lit(1.0 - 1e-6),
        ).alias("p_hat"),
    )
    return p.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg(F.col("label").cast("double")) + F.lit(1e-9), 6).alias(
            "prevalence"
        ),
        F.round(
            F.avg(
                (F.col("p_hat") - F.col("label"))
                * (F.col("p_hat") - F.col("label"))
            )
            + F.lit(1e-9),
            6,
        ).alias("brier"),
        F.round(
            -F.avg(
                F.col("label") * F.log(F.col("p_hat"))
                + (F.lit(1) - F.col("label")) * F.log(F.lit(1.0) - F.col("p_hat"))
            )
            + F.lit(1e-9),
            6,
        ).alias("log_loss"),
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient at the 0.5 threshold
# ---------------------------------------------------------------------------

@register(
    "matthews_mcc",
    """
WITH e AS (
  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), g AS (
  SELECT avg(value) AS mu,
         sqrt(greatest(sum(value * value) / count(*)
                       - avg(value) * avg(value), 1e-12)) AS sd
  FROM e
), p AS (
  SELECT label,
         CASE WHEN round(1.0 / (1.0 + exp(-(value - g.mu) / g.sd)), 9)
                   > 0.5 THEN 1 ELSE 0 END AS pred
  FROM e, g
), c AS (
  SELECT sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)::HUGEINT AS tp,
         sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)::HUGEINT AS fp,
         sum(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END)::HUGEINT AS tn,
         sum(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END)::HUGEINT AS fn
  FROM p
)
SELECT tp::BIGINT AS tp, fp::BIGINT AS fp, tn::BIGINT AS tn, fn::BIGINT AS fn,
       round((tp + tn)::DOUBLE / (tp + fp + tn + fn) + 1e-9, 6) AS accuracy,
       round(2.0 * tp / nullif((2 * tp + fp + fn)::DOUBLE, 0.0) + 1e-9, 6)
         AS f1,
       round((tp * tn - fp * fn)::DOUBLE
             / nullif(sqrt(((tp + fp) * (tp + fn))::DOUBLE)
                      * sqrt(((tn + fp) * (tn + fn))::DOUBLE), 0.0)
             + 1e-9, 6) AS mcc
FROM c
""",
)
def q_matthews_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: confusion matrix and Matthews correlation
    coefficient of the deterministic logistic scorer thresholded at
    0.5 — MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)), the
    single-number classifier summary that stays honest under class
    imbalance (Matthews 1975), beside accuracy and F1. Completes the
    threshold-metric family around roc_auc/pr_auc (rank-based) and
    calibration_eval (probability-based); threshold compares the
    9-dp-rounded p̂ exactly as calibration bins do.

    Scale shape: 1-row moments broadcast, ONE conditional hash agg
    to the four exact integer cells; the decision products run in
    decimal(38,0)/HUGEINT (n² terms pass bigint near ~3e9 rows) and
    only the final ratios are doubles."""
    e = load_table(spark, sf_dir, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "label"
        ),
    )
    g = e.agg(
        F.avg("value").alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(F.col("value") * F.col("value")) / F.count("*")
                - F.avg("value") * F.avg("value"),
                F.lit(1e-12),
            )
        ).alias("sd"),
    )
    p = e.crossJoin(F.broadcast(g)).select(
        "label",
        F.when(
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.col("value") - F.col("mu")) / F.col("sd"))
                ),
                9,
            )
            > F.lit(0.5),
            1,
        )
        .otherwise(0)
        .alias("pred"),
    )
    dec = "decimal(38,0)"
    c = p.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 1), 1).otherwise(0))
        .cast(dec)
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("label") == 0), 1).otherwise(0))
        .cast(dec)
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 0), 1).otherwise(0))
        .cast(dec)
        .alias("tn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("label") == 1), 1).otherwise(0))
        .cast(dec)
        .alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c_) for c_ in ("tp", "fp", "tn", "fn"))
    return c.select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        tn.cast("bigint").alias("tn"),
        fn.cast("bigint").alias("fn"),
        F.round(
            (tp + tn).cast("double") / (tp + fp + tn + fn) + F.lit(1e-9), 6
        ).alias("accuracy"),
        F.round(
            F.lit(2.0) * tp
            / F.nullif((F.lit(2) * tp + fp + fn).cast("double"), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("f1"),
        F.round(
            (tp * tn - fp * fn).cast("double")
            / F.nullif(
                F.sqrt(((tp + fp) * (tp + fn)).cast("double"))
                * F.sqrt(((tn + fp) * (tn + fn)).cast("double")),
                F.lit(0.0),
            )
            + F.lit(1e-9),
            6,
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# Theil inequality index with within/between-nation decomposition
# ---------------------------------------------------------------------------

@register(
    "theil_index",
    """
WITH x AS (
  SELECT c_nationkey AS nat, c_acctbal AS x
  FROM customer WHERE c_acctbal > 0
), g AS (
  SELECT nat, count(*)::BIGINT AS n_g, sum(x) AS s_g,
         sum(x * ln(x)) AS xlx_g
  FROM x GROUP BY nat
), t AS (
  SELECT sum(n_g)::BIGINT AS n, sum(s_g) AS s, sum(xlx_g) AS xlx FROM g
), d AS (
  SELECT t.n, t.s, t.xlx,
         sum((g.s_g / t.s) * ln((g.s_g / g.n_g) / (t.s / t.n)))
           AS t_between,
         sum((g.s_g / t.s) * ln(g.s_g / g.n_g)) AS share_lnmu
  FROM g, t GROUP BY t.n, t.s, t.xlx
)
SELECT n,
       round(xlx / s - ln(s / n) + 1e-9, 6) AS theil_total,
       round(xlx / s - share_lnmu + 1e-9, 6) AS theil_within,
       round(t_between + 1e-9, 6) AS theil_between
FROM d
""",
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Theil-T inequality index of positive account
    balances with its exact within/between-nation decomposition
    (Theil 1967 — the entropy-based inequality measure whose group
    decomposition is additive: T = T_within + T_between). Unlike a
    single Gini coefficient, it answers WHERE the inequality lives.

    Scale shape: one hash agg to the |nations| grain carrying
    (n_g, Σx, Σx·lnx) sufficient statistics, a 1-row total, and a
    |nations|-row reduction — every T term is a closed form over
    those sums (T_g share-weighted sum telescopes to Σx·lnx/S −
    Σ s_g·ln μ_g), so the fact is scanned once and nothing
    data-sized moves."""
    x = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_nationkey").alias("nat"), F.col("c_acctbal").alias("x"))
    )
    g = x.groupBy("nat").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.log(F.col("x"))).alias("xlx_g"),
    )
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("xlx_g").alias("xlx"),
    )
    d = g.crossJoin(F.broadcast(t)).groupBy("n", "s", "xlx").agg(
        F.sum(
            (F.col("s_g") / F.col("s"))
            * F.log((F.col("s_g") / F.col("n_g")) / (F.col("s") / F.col("n")))
        ).alias("t_between"),
        F.sum(
            (F.col("s_g") / F.col("s")) * F.log(F.col("s_g") / F.col("n_g"))
        ).alias("share_lnmu"),
    )
    return d.select(
        "n",
        F.round(
            F.col("xlx") / F.col("s") - F.log(F.col("s") / F.col("n"))
            + F.lit(1e-9),
            6,
        ).alias("theil_total"),
        F.round(
            F.col("xlx") / F.col("s") - F.col("share_lnmu") + F.lit(1e-9), 6
        ).alias("theil_within"),
        F.round(F.col("t_between") + F.lit(1e-9), 6).alias("theil_between"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman brand concentration of lineitem revenue
# ---------------------------------------------------------------------------

@register(
    "hhi_concentration",
    """
WITH r AS (
  SELECT p.p_brand AS brand,
         sum(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
             ::BIGINT)::HUGEINT AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
), t AS (SELECT sum(cents) AS tot, count(*)::BIGINT AS n_brands FROM r),
s AS (
  SELECT brand, cents::DOUBLE / tot::DOUBLE AS share,
         row_number() OVER (ORDER BY cents DESC, brand) AS rk
  FROM r, t
)
SELECT (SELECT n_brands FROM t) AS n_brands,
       round(sum(share * share) * 10000 + 1e-9, 2) AS hhi,
       round(sum(CASE WHEN rk = 1 THEN share ELSE 0 END) + 1e-9, 6) AS cr1,
       round(sum(CASE WHEN rk <= 4 THEN share ELSE 0 END) + 1e-9, 6) AS cr4
FROM s
""",
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Herfindahl-Hirschman index of brand revenue
    concentration — HHI = 10000·Σ share² over brand revenue shares,
    plus CR1/CR4 concentration ratios (the antitrust-screen
    readouts). Completes the concentration family: gini/lorenz
    measure distributional inequality, HHI measures MARKET
    structure.

    Scale shape: fact⋈dim equi-join (part broadcasts at any
    realistic dim size), integer-cents hash agg to the |brands|
    grain, 1-row total broadcast, one |brands|-row ranking window —
    bounded by the brand vocabulary, never the fact. Shares derive
    from exact integer cents so both engines rank identically."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    r = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.floor(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                * 100
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("brand")
        .agg(F.sum("c").cast("decimal(38,0)").alias("cents"))
    )
    t = r.agg(
        F.sum("cents").alias("tot"),
        F.count("*").cast("bigint").alias("n_brands"),
    )
    s = r.crossJoin(F.broadcast(t)).select(
        "n_brands",
        (F.col("cents").cast("double") / F.col("tot").cast("double")).alias(
            "share"
        ),
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), F.col("brand")))
        .alias("rk"),
    )
    return s.groupBy("n_brands").agg(
        F.round(
            F.sum(F.col("share") * F.col("share")) * F.lit(10000)
            + F.lit(1e-9),
            2,
        ).alias("hhi"),
        F.round(
            F.sum(F.when(F.col("rk") == 1, F.col("share")).otherwise(0.0))
            + F.lit(1e-9),
            6,
        ).alias("cr1"),
        F.round(
            F.sum(F.when(F.col("rk") <= 4, F.col("share")).otherwise(0.0))
            + F.lit(1e-9),
            6,
        ).alias("cr4"),
    )


# ---------------------------------------------------------------------------
# Grubbs outlier test per customer segment
# ---------------------------------------------------------------------------

@register(
    "grubbs_test",
    """
WITH s AS (
  SELECT c_mktsegment AS segment, count(*)::BIGINT AS n,
         avg(c_acctbal) AS m,
         sqrt((sum(c_acctbal * c_acctbal)
               - sum(c_acctbal) * sum(c_acctbal) / count(*))
              / (count(*) - 1)) AS sd
  FROM customer GROUP BY 1
), d AS (
  SELECT c.c_mktsegment AS segment, c.c_acctbal AS x,
         abs(c.c_acctbal - s.m) AS dev
  FROM customer c JOIN s ON s.segment = c.c_mktsegment
), mx AS (
  SELECT segment, max(dev) AS max_dev FROM d GROUP BY segment
), pick AS (
  SELECT d.segment, min(d.x) AS outlier_bal
  FROM d JOIN mx ON mx.segment = d.segment AND d.dev = mx.max_dev
  GROUP BY d.segment
)
SELECT s.segment, s.n,
       round(mx.max_dev / nullif(s.sd, 0.0) + 1e-9, 4) AS g_stat,
       round(pick.outlier_bal, 2) AS outlier_bal
FROM s JOIN mx ON mx.segment = s.segment
JOIN pick ON pick.segment = s.segment
""",
)
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Grubbs extreme-studentized-deviate test per market
    segment — G = max|x − x̄|/s with the offending balance (ties
    broken to the smallest value on both engines). The single-
    outlier screen under a normality assumption (pair with
    jarque_bera); a median/MAD screen is the robust alternative.

    Scale shape: three map-side-combined hash aggs (group stats, max
    deviation, deterministic tie pick), stitched with |segments|-row
    broadcast equi-joins — the fact is scanned twice (stats pass +
    deviation pass shared by mx/pick through one projection), no
    window. Deviation equality at the pick join compares the exact
    double both engines computed from identical inputs."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"), F.col("c_acctbal").alias("x")
    )
    s = c.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("x").alias("m"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x") / F.count("*")
            )
            / (F.count("*") - F.lit(1))
        ).alias("sd"),
    )
    d = c.join(F.broadcast(s.select("segment", "m")), "segment").select(
        "segment", "x", F.abs(F.col("x") - F.col("m")).alias("dev")
    )
    mx = d.groupBy("segment").agg(F.max("dev").alias("max_dev"))
    pick = (
        d.join(F.broadcast(mx), "segment")
        .filter(F.col("dev") == F.col("max_dev"))
        .groupBy("segment")
        .agg(F.min("x").alias("outlier_bal"))
    )
    return (
        s.join(mx, "segment")
        .join(pick, "segment")
        .select(
            "segment",
            "n",
            F.round(
                F.col("max_dev") / F.nullif(F.col("sd"), F.lit(0.0))
                + F.lit(1e-9),
                4,
            ).alias("g_stat"),
            F.round(F.col("outlier_bal"), 2).alias("outlier_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 14-day OLS beta: BUILDING-segment daily revenue vs market
# ---------------------------------------------------------------------------

_BETA_WIN = 14


@register(
    "rolling_beta",
    f"""
WITH d AS (
  SELECT o.o_orderdate::DATE AS day,
         sum(floor(o.o_totalprice * 100 + 0.5)::BIGINT)::HUGEINT AS mkt,
         sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                  THEN floor(o.o_totalprice * 100 + 0.5)::BIGINT
                  ELSE 0 END)::HUGEINT AS seg
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
), w AS (
  SELECT day,
         count(*) OVER win AS n_w,
         sum(mkt) OVER win AS sx,
         sum(seg) OVER win AS sy,
         sum(mkt * mkt) OVER win AS sxx,
         sum(mkt * seg) OVER win AS sxy
  FROM d
  WINDOW win AS (ORDER BY day ROWS BETWEEN {_BETA_WIN - 1} PRECEDING
                 AND CURRENT ROW)
), r AS (
  SELECT day, n_w,
         (n_w * sxy - sx * sy)::HUGEINT AS num,
         (n_w * sxx - sx * sx)::HUGEINT AS den
  FROM w
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       ((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        * ((abs(num) * 20000 + den) // nullif(2 * den, 0)))::BIGINT
         AS beta_e4
FROM r WHERE n_w = {_BETA_WIN}
""",
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: rolling {_BETA_WIN}-day OLS beta of the BUILDING
    segment's daily revenue against the whole market — β =
    cov(mkt, seg)/var(mkt) over a trailing row window, emitted only
    for complete windows. The exposure/sensitivity readout: a
    segment whose β drifts from its long-run share flags a mix
    shift.

    Scale shape: fact⋈dim equi-join (no broadcast hint — the
    customer projection is linear in sf, so the optimizer picks the
    strategy from measured sizes) then ONE integer-cents hash agg to
    the day grain; the rolling frame is a window over that
    CALENDAR-BOUNDED grain (days, not facts — the cusum/IMR
    pattern). Every moment, the covariance/variance products, and
    the exposed β stay in exact integer arithmetic end to end:
    β is emitted as beta_e4 = round(β·1e4) computed by integer
    division with half-away-from-zero rounding in decimal(38,0)
    (Spark) / HUGEINT (DuckDB), so no float ever reaches the
    driver's value hash."""
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    d = (
        o.join(cst, o.o_custkey == cst.c_custkey)
        .select(
            F.to_date("o_orderdate").alias("day"),
            cents.alias("c"),
            F.when(F.col("c_mktsegment") == "BUILDING", cents)
            .otherwise(F.lit(0).cast("bigint"))
            .alias("cs"),
        )
        .groupBy("day")
        .agg(
            F.sum("c").cast("bigint").alias("mkt"),
            F.sum("cs").cast("bigint").alias("seg"),
        )
    )
    win = (
        Window.orderBy("day").rowsBetween(-(_BETA_WIN - 1), Window.currentRow)
    )
    dec = "decimal(38,0)"
    x = F.col("mkt").cast(dec)
    y = F.col("seg").cast(dec)
    w = d.select(
        "day",
        F.count("*").over(win).alias("n_w"),
        F.sum(x).over(win).alias("sx"),
        F.sum(y).over(win).alias("sy"),
        F.sum(x * x).over(win).alias("sxx"),
        F.sum(x * y).over(win).alias("sxy"),
    )
    n = F.col("n_w").cast(dec)
    r = w.filter(F.col("n_w") == _BETA_WIN).select(
        "day",
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    return r.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (
            F.when(F.col("num") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr(
                "(abs(num) * 20000 + den) div nullif(2 * den, cast(0 as decimal(38,0)))"
            )
        )
        .cast("bigint")
        .alias("beta_e4"),
    )


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient on the near-dup graph
# ---------------------------------------------------------------------------

def _lcc_sql(thresh: float = 0.5) -> str:
    """Same MinHash-LSH edge chain as graph_triangles' oracle
    (queries/text_q.py:_triangles_sql), extended from the one-row
    census to the per-node Watts-Strogatz readout."""
    from resume_jd_matcher_spark.queries.text_q import SQL_HASH32, SQL_TOKS

    return f"""WITH docs AS (
  SELECT doc_id, list_distinct({SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({SQL_HASH32.format(c="w || '#' || seed")}) AS mh
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
         round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4) AS ej
  FROM cand c
  JOIN h ha ON ha.doc_id = c.left_id
  JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
  GROUP BY c.left_id, c.right_id
), e AS (
  SELECT left_id AS a, right_id AS b FROM est WHERE ej >= {thresh}
), deg AS (
  SELECT node, count(*)::BIGINT AS deg
  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
  GROUP BY node
), tri AS (
  SELECT node, count(*)::BIGINT AS n_tri
  FROM (
    SELECT unnest([e1.a, e1.b, e2.b]) AS node
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
  ) GROUP BY node
)
SELECT deg.node, deg.deg,
       coalesce(tri.n_tri, 0)::BIGINT AS n_tri,
       round(2.0 * coalesce(tri.n_tri, 0)
             / (deg.deg * (deg.deg - 1))::DOUBLE + 1e-9, 6) AS lcc
FROM deg LEFT JOIN tri ON tri.node = deg.node
WHERE deg.deg >= 2
"""


@register("local_clustering", _lcc_sql())
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] per-node local clustering coefficient of the MinHash
    near-dup graph (same doc_id < 200 slice and ej >= 0.5 edges as
    graph_triangles) — lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) for
    deg ≥ 2 (Watts & Strogatz 1998). Node-level companion of
    graph_triangles' global transitivity: blob members read lcc → 1,
    chain/bridge nodes lcc → 0 — the per-document keep/drop signal
    inside a dedup cluster (operators/cluster.py:local_clustering).

    Scale shape: compact-forward triangle enumeration — two hash
    equi-joins over the (a < b) edge list, one explode crediting
    each triangle's three corners, integer hash aggs; candidates are
    LSH-banded equi-joins, never corpus². The edge frame persists on
    dedup's release ledger like every graph query."""
    from resume_jd_matcher_spark.operators import cluster as clusterop
    from resume_jd_matcher_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(
        d, n_hashes=16, rows_per_band=4
    ).filter(F.col("est_jaccard") >= 0.5)
    return clusterop.local_clustering(pairs)


# ---------------------------------------------------------------------------
# Mann-Whitney U (two-sample rank test, AUTOMOBILE vs BUILDING)
# ---------------------------------------------------------------------------

@register(
    "mann_whitney_u",
    """
WITH x AS (
  SELECT c_mktsegment AS seg, c_acctbal AS v
  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
), r AS (
  SELECT seg,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS ar
  FROM x
), g AS (
  SELECT
    sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)::BIGINT AS n_a,
    sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)::BIGINT AS n_b,
    sum(CASE WHEN seg = 'AUTOMOBILE' THEN ar ELSE 0 END) AS r_a
  FROM r
), ties AS (
  SELECT sum(c * c * c - c) AS tie_mass
  FROM (SELECT count(*)::HUGEINT AS c FROM x GROUP BY v)
), u AS (
  SELECT n_a, n_b, r_a - n_a * (n_a + 1) / 2.0 AS u_a,
         n_a * n_b / 2.0 AS mu_u,
         n_a::DOUBLE * n_b / 12.0
           * ((n_a + n_b + 1)
              - (SELECT tie_mass FROM ties)::DOUBLE
                / ((n_a + n_b)::DOUBLE * (n_a + n_b - 1))) AS var_u
  FROM g
)
SELECT n_a, n_b,
       round(u_a + 1e-9, 1) AS u_stat,
       round(u_a / (n_a::DOUBLE * n_b) + 1e-9, 6) AS auc_equiv,
       round((u_a - mu_u) / nullif(sqrt(var_u), 0.0) + 1e-9, 4) AS z_stat
FROM u
""",
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A4 [EXT]: Mann-Whitney U test of account balance between
    the AUTOMOBILE and BUILDING segments — U from tie-averaged pooled
    ranks, the tie-corrected normal approximation z, and the
    U/(n_a·n_b) AUC equivalence (the two-sample special case of
    kruskal_wallis, and the rank dual of welch_ttest's mean test;
    U/(n_a n_b) IS the probability a random A outranks a random B —
    roc_auc's statistic).

    Scale shape: identical to kruskal_wallis — pooled ranks collapse
    to the DISTINCT-VALUE grain, global_prefix's bucket-offset scan
    supplies prefix counts (no fact-sized window), per-(seg, value)
    counts equi-join the rank grain, and U/z are scalar arithmetic
    on a 1-row frame with exact-integer tie mass."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    x = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("v"))
    )
    vals = x.groupBy("v").agg(F.count("*").cast("bigint").alias("cnt"))
    pref = global_prefix(vals, ["v"], sum_col="cnt", sum_type="bigint")
    ar = pref.select(
        "v",
        (
            (F.col("cum_sum") - F.col("cnt")).cast("double")
            + (F.col("cnt") + F.lit(1)) / F.lit(2.0)
        ).alias("ar"),
    )
    gv = x.groupBy("seg", "v").agg(F.count("*").cast("bigint").alias("m"))
    g = (
        gv.join(ar, "v")
        .agg(
            F.sum(F.when(F.col("seg") == "AUTOMOBILE", F.col("m")).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("seg") == "BUILDING", F.col("m")).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(
                F.when(
                    F.col("seg") == "AUTOMOBILE", F.col("m") * F.col("ar")
                ).otherwise(0.0)
            ).alias("r_a"),
        )
    )
    ties = vals.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_mass")
    )
    u = g.crossJoin(F.broadcast(ties)).select(
        "n_a",
        "n_b",
        (F.col("r_a") - F.col("n_a") * (F.col("n_a") + F.lit(1)) / F.lit(2.0)).alias(
            "u_a"
        ),
        (F.col("n_a") * F.col("n_b") / F.lit(2.0)).alias("mu_u"),
        (
            F.col("n_a").cast("double") * F.col("n_b") / F.lit(12.0)
            * (
                (F.col("n_a") + F.col("n_b") + F.lit(1))
                - F.col("tie_mass").cast("double")
                / (
                    (F.col("n_a") + F.col("n_b")).cast("double")
                    * (F.col("n_a") + F.col("n_b") - F.lit(1))
                )
            )
        ).alias("var_u"),
    )
    return u.select(
        "n_a",
        "n_b",
        F.round(F.col("u_a") + F.lit(1e-9), 1).alias("u_stat"),
        F.round(
            F.col("u_a") / (F.col("n_a").cast("double") * F.col("n_b"))
            + F.lit(1e-9),
            6,
        ).alias("auc_equiv"),
        F.round(
            (F.col("u_a") - F.col("mu_u"))
            / F.nullif(F.sqrt(F.col("var_u")), F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Friedman test: segments ranked within nation blocks
# ---------------------------------------------------------------------------

@register(
    "friedman_test",
    """
WITH cell AS (
  SELECT c_nationkey AS blk, c_mktsegment AS trt, avg(c_acctbal) AS m
  FROM customer GROUP BY 1, 2
), full_blk AS (
  SELECT blk FROM cell GROUP BY blk
  HAVING count(*) = (SELECT count(DISTINCT c_mktsegment) FROM customer)
), r AS (
  SELECT c.blk, c.trt,
         rank() OVER (PARTITION BY c.blk ORDER BY c.m)
           + (count(*) OVER (PARTITION BY c.blk, c.m) - 1) / 2.0 AS rk
  FROM cell c JOIN full_blk USING (blk)
), g AS (
  SELECT trt, count(*)::BIGINT AS n_blocks, sum(rk) AS r_j FROM r GROUP BY trt
), t AS (
  SELECT max(n_blocks)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(r_j * r_j) AS sr2
  FROM g
)
SELECT n AS n_blocks, k AS k_treatments,
       round(12.0 / (n * k * (k + 1.0)) * sr2 - 3.0 * n * (k + 1)
             + 1e-9, 4) AS chi2_f
FROM t
""",
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A4 [EXT]: Friedman test — market segments (treatments)
    ranked by mean balance WITHIN each nation (block), χ²_F =
    12/(nk(k+1))·ΣR_j² − 3n(k+1) over complete blocks (Friedman
    1937). The repeated-measures companion of kruskal_wallis: it
    asks whether segment ordering is consistent ACROSS nations
    rather than pooling all customers into one ranking.

    Scale shape: the fact collapses to the |nations|×|segments| cell
    grain in one hash agg; complete-block filtering, within-block
    ranking, and the χ² reduction all run on that dimension-bounded
    grain (the ranking window partitions by block over ≤|segments|
    rows). Block means are doubles both engines aggregate from the
    same values; tie-averaged ranks keep degenerate fixtures exact."""
    c = load_table(spark, sf_dir, "customer")
    k_total = c.agg(
        F.countDistinct("c_mktsegment").cast("bigint").alias("k_all")
    )
    cell = c.groupBy(
        F.col("c_nationkey").alias("blk"), F.col("c_mktsegment").alias("trt")
    ).agg(F.avg("c_acctbal").alias("m"))
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count("*").cast("bigint").alias("n_trt"))
        .crossJoin(F.broadcast(k_total))
        .filter(F.col("n_trt") == F.col("k_all"))
        .select("blk")
    )
    w_rank = Window.partitionBy("blk").orderBy("m")
    w_tie = Window.partitionBy("blk", "m")
    r = cell.join(F.broadcast(full_blk), "blk").select(
        "blk",
        "trt",
        (
            F.rank().over(w_rank)
            + (F.count("*").over(w_tie) - F.lit(1)) / F.lit(2.0)
        ).alias("rk"),
    )
    g = r.groupBy("trt").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum("rk").alias("r_j"),
    )
    t = g.agg(
        F.max("n_blocks").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("r_j") * F.col("r_j")).alias("sr2"),
    )
    return t.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(
            F.lit(12.0)
            / (F.col("n") * F.col("k") * (F.col("k") + F.lit(1.0)))
            * F.col("sr2")
            - F.lit(3.0) * F.col("n") * (F.col("k") + F.lit(1))
            + F.lit(1e-9),
            4,
        ).alias("chi2_f"),
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test on the daily-revenue trend
# ---------------------------------------------------------------------------

@register(
    "breusch_pagan",
    f"""
WITH g AS ({_SQL_DAY_REV}
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS t, cents::DOUBLE AS x FROM g
), ols AS (
  SELECT count(*)::BIGINT AS n, sum(t::DOUBLE) AS st, sum(x) AS sx,
         sum(t::DOUBLE * t) AS stt, sum(t::DOUBLE * x) AS stx
  FROM idx
), fit AS (
  SELECT n,
         (n * stx - st * sx) / nullif(n * stt - st * st, 0.0) AS slope,
         (sx - (n * stx - st * sx) / nullif(n * stt - st * st, 0.0) * st)
           / n AS intercept
  FROM ols
), e AS (
  SELECT t::DOUBLE AS t,
         (x - (fit.intercept + fit.slope * t))
           * (x - (fit.intercept + fit.slope * t)) AS e2
  FROM idx, fit
), aux AS (
  SELECT count(*)::BIGINT AS n, sum(t) AS st, sum(e2) AS se,
         sum(t * t) AS stt, sum(e2 * e2) AS see, sum(t * e2) AS ste
  FROM e
)
SELECT n AS n_days,
       round(CASE WHEN (n * stt - st * st) > 0 AND (n * see - se * se) > 0
                  THEN n * ((n * ste - st * se) * (n * ste - st * se))
                       / ((n * stt - st * st) * (n * see - se * se))
                  ELSE 0.0 END + 1e-9, 4) AS lm_stat,
       coalesce(round(CASE WHEN (n * stt - st * st) > 0
                            AND (n * see - se * se) > 0
                  THEN n * ((n * ste - st * se) * (n * ste - st * se))
                       / ((n * stt - st * st) * (n * see - se * se))
                  ELSE 0.0 END + 1e-9, 4) > 3.841, false)
         AS reject_homoscedastic
FROM aux
""",
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: Breusch-Pagan heteroscedasticity test on the daily
    revenue OLS-vs-time residuals — the auxiliary regression of e²
    on t summarized as LM = n·R² (= n·corr²), rejected against
    χ²(1) = 3.841 on the ROUNDED statistic. Completes the
    regression-diagnostics pair with durbin_watson: DW checks
    residual CORRELATION, BP checks residual VARIANCE drift
    (Breusch & Pagan 1979, Koenker's studentized n·R² form).

    Scale shape: same as durbin_watson — integer-cents day grain,
    1-row OLS broadcast, and the auxiliary regression is one more
    1-row sufficient-statistic agg over the calendar-bounded grain;
    zero-variance guards mirror as CASE on both engines."""
    g = _day_rev(spark, sf_dir)
    idx = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.col("cents").cast("double").alias("x"),
    )
    ols = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("t").cast("double")).alias("st"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t").cast("double") * F.col("t")).alias("stt"),
        F.sum(F.col("t").cast("double") * F.col("x")).alias("stx"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / F.nullif(
        F.col("n") * F.col("stt") - F.col("st") * F.col("st"), F.lit(0.0)
    )
    fit = ols.select(
        "n",
        slope.alias("slope"),
        ((F.col("sx") - slope * F.col("st")) / F.col("n")).alias("intercept"),
    )
    resid = F.col("x") - (F.col("intercept") + F.col("slope") * F.col("t"))
    e = idx.crossJoin(F.broadcast(fit)).select(
        F.col("t").cast("double").alias("td"), (resid * resid).alias("e2")
    )
    aux = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("td").alias("st"),
        F.sum("e2").alias("se"),
        F.sum(F.col("td") * F.col("td")).alias("stt"),
        F.sum(F.col("e2") * F.col("e2")).alias("see"),
        F.sum(F.col("td") * F.col("e2")).alias("ste"),
    )
    var_t = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    var_e = F.col("n") * F.col("see") - F.col("se") * F.col("se")
    cov = F.col("n") * F.col("ste") - F.col("st") * F.col("se")
    lm = F.round(
        F.when(
            (var_t > 0) & (var_e > 0),
            F.col("n") * (cov * cov) / (var_t * var_e),
        ).otherwise(0.0)
        + F.lit(1e-9),
        4,
    )
    return aux.select(
        F.col("n").alias("n_days"),
        lm.alias("lm_stat"),
        F.coalesce(lm > F.lit(3.841), F.lit(False)).alias(
            "reject_homoscedastic"
        ),
    )


# ---------------------------------------------------------------------------
# Gumbel (EV-I) fit of monthly-maximum daily revenue, return levels
# ---------------------------------------------------------------------------

_GUMBEL_EULER = 0.5772156649015329


@register(
    "gumbel_maxima",
    f"""
WITH g AS ({_SQL_DAY_REV}
), mx AS (
  SELECT date_trunc('month', day) AS mon, max(cents)::BIGINT AS m
  FROM g GROUP BY 1
), s AS (
  SELECT count(*)::BIGINT AS n, avg(m::DOUBLE) AS mean,
         sqrt((sum(m::DOUBLE * m) - sum(m::DOUBLE) * sum(m::DOUBLE)
               / count(*)) / (count(*) - 1)) AS sd
  FROM mx
), fit AS (
  SELECT n, sd * sqrt(6.0) / pi() AS beta,
         mean - {_GUMBEL_EULER} * (sd * sqrt(6.0) / pi()) AS mu
  FROM s
)
SELECT n AS n_months,
       round(mu / 100.0 + 1e-9, 2) AS mu_revenue,
       round(beta / 100.0 + 1e-9, 2) AS beta_revenue,
       round((mu - beta * ln(-ln(1.0 - 1.0 / 12))) / 100.0 + 1e-9, 2)
         AS return_level_12m,
       round((mu - beta * ln(-ln(1.0 - 1.0 / 60))) / 100.0 + 1e-9, 2)
         AS return_level_60m
FROM fit
""",
)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: extreme-value analysis of peak load — Gumbel
    (EV-I) fit of the MONTHLY-maximum daily revenue by the method of
    moments (β = s√6/π, μ = x̄ − γβ), with 12- and 60-month return
    levels μ − β·ln(−ln(1−1/T)). The capacity-planning readout
    (what daily peak should we provision for?) that block-maxima EVT
    answers and mean-based forecasts (holt/ewma) cannot.

    Scale shape: integer-cents day grain → month-grain max (two
    nested calendar-bounded hash aggs) → 1-row moment fit; return
    levels are closed-form scalars. Nothing beyond the first agg
    ever exceeds the calendar size."""
    g = _day_rev(spark, sf_dir)
    mx = g.groupBy(F.date_trunc("month", F.col("day")).alias("mon")).agg(
        F.max("cents").cast("bigint").alias("m")
    )
    m = F.col("m").cast("double")
    s = mx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg(m).alias("mean"),
        F.sqrt(
            (F.sum(m * F.col("m")) - F.sum(m) * F.sum(m) / F.count("*"))
            / (F.count("*") - F.lit(1))
        ).alias("sd"),
    )
    beta = F.col("sd") * F.sqrt(F.lit(6.0)) / F.lit(math.pi)
    fit = s.select(
        "n",
        beta.alias("beta"),
        (F.col("mean") - F.lit(_GUMBEL_EULER) * beta).alias("mu"),
    )
    def rl(t: int):
        return F.round(
            (
                F.col("mu")
                - F.col("beta") * F.log(-F.log(F.lit(1.0) - F.lit(1.0 / t)))
            )
            / F.lit(100.0)
            + F.lit(1e-9),
            2,
        )
    return fit.select(
        F.col("n").alias("n_months"),
        F.round(F.col("mu") / F.lit(100.0) + F.lit(1e-9), 2).alias(
            "mu_revenue"
        ),
        F.round(F.col("beta") / F.lit(100.0) + F.lit(1e-9), 2).alias(
            "beta_revenue"
        ),
        rl(12).alias("return_level_12m"),
        rl(60).alias("return_level_60m"),
    )


# ---------------------------------------------------------------------------
# Log-rank test between two hash-arm survival curves
# ---------------------------------------------------------------------------

_SQL_H32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"


@register(
    "log_rank_test",
    f"""
WITH u AS (
  SELECT user_id,
         {_SQL_H32.format(x="user_id::VARCHAR || '#lr'")} % 2 AS arm,
         min(ts::DATE) AS fd,
         min(CASE WHEN event_type = 'purchase' THEN ts::DATE END) AS dd
  FROM events GROUP BY user_id
), m AS (
  SELECT max(coalesce(dd, fd)) AS mx FROM u
), l AS (
  SELECT arm,
         CASE WHEN dd IS NOT NULL THEN date_diff('day', fd, dd)
              ELSE date_diff('day', fd, m.mx) END AS t,
         CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END AS death
  FROM u CROSS JOIN m
), na AS (
  SELECT arm, count(*)::BIGINT AS n_arm FROM l GROUP BY arm
), g AS (
  SELECT t, arm, sum(death)::BIGINT AS d, sum(1 - death)::BIGINT AS c
  FROM l GROUP BY t, arm
), grid AS (
  SELECT ts.t, na.arm, na.n_arm,
         coalesce(g.d, 0)::BIGINT AS d, coalesce(g.c, 0)::BIGINT AS c
  FROM (SELECT DISTINCT t FROM g) ts
  CROSS JOIN na
  LEFT JOIN g ON g.t = ts.t AND g.arm = na.arm
), r AS (
  SELECT t, arm, d,
         n_arm - coalesce(sum(d + c) OVER (PARTITION BY arm
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS n_at
  FROM grid
), p AS (
  SELECT t,
         sum(d)::BIGINT AS d_t, sum(n_at)::BIGINT AS n_t,
         sum(CASE WHEN arm = 0 THEN d ELSE 0 END)::BIGINT AS d0,
         sum(CASE WHEN arm = 0 THEN n_at ELSE 0 END)::BIGINT AS n0
  FROM r GROUP BY t HAVING sum(d) > 0
), s AS (
  SELECT sum(d0)::BIGINT AS o_a,
         sum(d_t * n0::DOUBLE / n_t) AS e_a,
         sum(d_t * (n0::DOUBLE / n_t) * (1.0 - n0::DOUBLE / n_t)
             * (n_t - d_t) / greatest(n_t - 1, 1)) AS v
  FROM p
)
SELECT (SELECT n_arm FROM na WHERE arm = 0) AS n_a,
       (SELECT n_arm FROM na WHERE arm = 1) AS n_b,
       o_a AS observed_a,
       round(e_a + 1e-9, 4) AS expected_a,
       round((o_a - e_a) * (o_a - e_a) / nullif(v, 0.0) + 1e-9, 4)
         AS chi2,
       coalesce(round((o_a - e_a) * (o_a - e_a) / nullif(v, 0.0)
                      + 1e-9, 4) > 3.841, false) AS reject_equal_curves
FROM s
""",
)
def q_log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W4 [EXT]: log-rank (Mantel-Cox) test between the survival
    curves of the two portable-hash experiment arms — per pooled
    event time, observed vs hypergeometric-expected conversions in
    arm 0, χ² = (O−E)²/V against the χ²(1) 5% cut (Mantel 1966).
    Completes the survival family: kaplan_meier/nelson_aalen DRAW
    one curve; this tests whether two curves DIFFER — the A/B
    readout for time-to-convert (ab_test_ztest compares final rates,
    this compares the whole timing profile).

    Scale shape: the fact collapses to the per-user lifetable in one
    hash agg (the kaplan_meier shape); everything after lives on the
    (event-time × 2 arms) grain — bounded by the CALENDAR span. The
    risk-set prefix is a window over that grain partitioned by arm;
    exact integer (d, n) cells feed the closed-form E/V terms."""
    from resume_jd_matcher_spark.functions.text import hash32

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("dd"),
    ).select(
        (
            hash32(F.concat(F.col("user_id").cast("string"), F.lit("#lr")))
            % 2
        ).alias("arm"),
        "fd",
        "dd",
    )
    m = u.agg(F.max(F.coalesce("dd", "fd")).alias("mx"))
    l = u.crossJoin(F.broadcast(m)).select(
        "arm",
        F.when(
            F.col("dd").isNotNull(), F.datediff("dd", "fd")
        )
        .otherwise(F.datediff("mx", "fd"))
        .alias("t"),
        F.when(F.col("dd").isNotNull(), 1).otherwise(0).alias("death"),
    )
    na = l.groupBy("arm").agg(F.count("*").cast("bigint").alias("n_arm"))
    g = l.groupBy("t", "arm").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("death")).cast("bigint").alias("c"),
    )
    # Full (pooled event time × arm) grid: an arm with NO event at t
    # is still fully at risk there — without the grid its n_at would
    # silently drop out of the pooled n_t at that time.
    grid = (
        g.select("t")
        .distinct()
        .crossJoin(F.broadcast(na))
        .join(g, ["t", "arm"], "left")
        .select(
            "t",
            "arm",
            "n_arm",
            F.coalesce("d", F.lit(0)).cast("bigint").alias("d"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = grid.select(
        "t",
        "arm",
        "d",
        (
            F.col("n_arm")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
        ).alias("n_at"),
    )
    p = (
        r.groupBy("t")
        .agg(
            F.sum("d").cast("bigint").alias("d_t"),
            F.sum("n_at").cast("bigint").alias("n_t"),
            F.sum(F.when(F.col("arm") == 0, F.col("d")).otherwise(0))
            .cast("bigint")
            .alias("d0"),
            F.sum(F.when(F.col("arm") == 0, F.col("n_at")).otherwise(0))
            .cast("bigint")
            .alias("n0"),
        )
        .filter(F.col("d_t") > 0)
    )
    frac = F.col("n0").cast("double") / F.col("n_t")
    s = p.agg(
        F.sum("d0").cast("bigint").alias("o_a"),
        F.sum(F.col("d_t") * frac).alias("e_a"),
        F.sum(
            F.col("d_t")
            * frac
            * (F.lit(1.0) - frac)
            * (F.col("n_t") - F.col("d_t"))
            / F.greatest(F.col("n_t") - F.lit(1), F.lit(1))
        ).alias("v"),
    )
    arms = na.groupBy().pivot("arm", [0, 1]).agg(F.first("n_arm"))
    chi2 = F.round(
        (F.col("o_a") - F.col("e_a"))
        * (F.col("o_a") - F.col("e_a"))
        / F.nullif(F.col("v"), F.lit(0.0))
        + F.lit(1e-9),
        4,
    )
    return s.crossJoin(F.broadcast(arms)).select(
        F.col("0").cast("bigint").alias("n_a"),
        F.col("1").cast("bigint").alias("n_b"),
        F.col("o_a").alias("observed_a"),
        F.round(F.col("e_a") + F.lit(1e-9), 4).alias("expected_a"),
        chi2.alias("chi2"),
        F.coalesce(chi2 > F.lit(3.841), F.lit(False)).alias(
            "reject_equal_curves"
        ),
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price index (first vs last shipment year)
# ---------------------------------------------------------------------------

@register(
    "price_index_fisher",
    """
WITH span AS (
  SELECT year(min(l_shipdate))::INT AS y0, year(max(l_shipdate))::INT AS y1
  FROM lineitem
), per AS (
  SELECT l_partkey AS part, year(l_shipdate)::INT AS y,
         sum(l_quantity) AS q, sum(l_extendedprice) AS v
  FROM lineitem, span
  WHERE year(l_shipdate) IN (span.y0, span.y1)
  GROUP BY 1, 2
), b AS (
  SELECT p0.part,
         p0.v / p0.q AS p_0, p0.q AS q_0,
         p1.v / p1.q AS p_1, p1.q AS q_1
  FROM per p0
  JOIN per p1 ON p1.part = p0.part
  CROSS JOIN span
  WHERE p0.y = span.y0 AND p1.y = span.y1 AND p0.q > 0 AND p1.q > 0
), s AS (
  SELECT count(*)::BIGINT AS n_common,
         sum(p_1 * q_0) / nullif(sum(p_0 * q_0), 0.0) AS laspeyres,
         sum(p_1 * q_1) / nullif(sum(p_0 * q_1), 0.0) AS paasche
  FROM b
)
SELECT (SELECT y0 FROM span) AS year_base,
       (SELECT y1 FROM span) AS year_curr,
       n_common AS n_common_parts,
       round(laspeyres + 1e-9, 6) AS laspeyres,
       round(paasche + 1e-9, 6) AS paasche,
       round(sqrt(laspeyres * paasche) + 1e-9, 6) AS fisher
FROM s
""",
)
def q_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J2 [EXT]: Laspeyres, Paasche, and Fisher ideal price
    indices between the corpus' first and last shipment years —
    quantity-weighted unit prices per part, base-weighted vs
    current-weighted baskets over the parts traded in BOTH periods,
    and their geometric mean (Fisher 1922): the index measures pure
    price drift, separate from any quantity response. Span-derived
    periods keep the comparison non-vacuous at every scale factor
    (the decontaminate fixture lesson).

    Scale shape: one 1-row span agg broadcast into the scan filter,
    one (part, year) hash agg, a part-grain self-join on the part
    key (dimension-bounded), one 1-row basket reduction."""
    l = load_table(spark, sf_dir, "lineitem")
    span = l.agg(
        F.year(F.min("l_shipdate")).cast("int").alias("y0"),
        F.year(F.max("l_shipdate")).cast("int").alias("y1"),
    )
    per = (
        l.crossJoin(F.broadcast(span))
        .filter(
            (F.year("l_shipdate") == F.col("y0"))
            | (F.year("l_shipdate") == F.col("y1"))
        )
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.year("l_shipdate").cast("int").alias("y"),
            "y0",
            "y1",
        )
        .agg(
            F.sum("l_quantity").alias("q"),
            F.sum("l_extendedprice").alias("v"),
        )
    )
    p0 = per.filter((F.col("y") == F.col("y0")) & (F.col("q") > 0)).select(
        "part",
        "y0",
        "y1",
        (F.col("v") / F.col("q")).alias("p_0"),
        F.col("q").alias("q_0"),
    )
    p1 = per.filter((F.col("y") == F.col("y1")) & (F.col("q") > 0)).select(
        F.col("part").alias("part_r"),
        (F.col("v") / F.col("q")).alias("p_1"),
        F.col("q").alias("q_1"),
    )
    b = p0.join(p1, p0.part == p1.part_r)
    s = b.groupBy("y0", "y1").agg(
        F.count("*").cast("bigint").alias("n_common"),
        (
            F.sum(F.col("p_1") * F.col("q_0"))
            / F.nullif(F.sum(F.col("p_0") * F.col("q_0")), F.lit(0.0))
        ).alias("laspeyres"),
        (
            F.sum(F.col("p_1") * F.col("q_1"))
            / F.nullif(F.sum(F.col("p_0") * F.col("q_1")), F.lit(0.0))
        ).alias("paasche"),
    )
    return s.select(
        F.col("y0").alias("year_base"),
        F.col("y1").alias("year_curr"),
        F.col("n_common").alias("n_common_parts"),
        F.round(F.col("laspeyres") + F.lit(1e-9), 6).alias("laspeyres"),
        F.round(F.col("paasche") + F.lit(1e-9), 6).alias("paasche"),
        F.round(
            F.sqrt(F.col("laspeyres") * F.col("paasche")) + F.lit(1e-9), 6
        ).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# Tukey HSD pairwise post-hoc after the one-way ANOVA
# ---------------------------------------------------------------------------

@register(
    "tukey_hsd",
    """
WITH g AS (
  SELECT c_mktsegment AS seg, count(*)::BIGINT AS n_g,
         sum(c_acctbal) AS s_g, sum(c_acctbal * c_acctbal) AS ss_g
  FROM customer GROUP BY 1
), t AS (
  SELECT sum(n_g)::BIGINT AS n, count(*)::BIGINT AS k,
         (sum(ss_g) - sum(s_g * s_g / n_g))
           / (sum(n_g) - count(*)) AS msw
  FROM g
), pairs AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b,
         a.s_g / a.n_g - b.s_g / b.n_g AS diff,
         a.n_g AS na, b.n_g AS nb
  FROM g a JOIN g b ON a.seg < b.seg
)
SELECT seg_a, seg_b,
       round(diff + 1e-9, 4) AS mean_diff,
       round(abs(diff) / nullif(sqrt(t.msw / 2.0 * (1.0 / na + 1.0 / nb)),
                                0.0) + 1e-9, 4) AS q_stat,
       coalesce(round(abs(diff)
                      / nullif(sqrt(t.msw / 2.0 * (1.0 / na + 1.0 / nb)),
                               0.0) + 1e-9, 4) > 3.858, false)
         AS significant
FROM pairs, t
""",
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Tukey honestly-significant-difference post-hoc —
    every segment pair's studentized range statistic q =
    |x̄_i − x̄_j| / √(MSW/2·(1/n_i + 1/n_j)) against the q(k=5, ∞)
    5% critical value 3.858 (Tukey 1949). The WHERE after
    anova_oneway's WHETHER: the omnibus F says some segment differs;
    HSD names the pairs while controlling the family-wise error the
    10 naive t-tests would inflate.

    Scale shape: the same one-pass per-group sufficient statistics
    as anova_oneway, a 1-row MSW reduction, and a |segments|²
    self-join — dimension-bounded everywhere after the single fact
    scan."""
    c = load_table(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    g = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum(x).alias("s_g"),
        F.sum(x * x).alias("ss_g"),
    )
    t = g.agg(
        (
            (F.sum("ss_g") - F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")))
            / (F.sum("n_g") - F.count("*"))
        ).alias("msw")
    )
    a = g.select(
        F.col("seg").alias("seg_a"),
        (F.col("s_g") / F.col("n_g")).alias("m_a"),
        F.col("n_g").alias("na"),
    )
    b = g.select(
        F.col("seg").alias("seg_b"),
        (F.col("s_g") / F.col("n_g")).alias("m_b"),
        F.col("n_g").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))
    q = F.round(
        F.abs(F.col("m_a") - F.col("m_b"))
        / F.nullif(
            F.sqrt(
                F.col("msw")
                / F.lit(2.0)
                * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
            ),
            F.lit(0.0),
        )
        + F.lit(1e-9),
        4,
    )
    return pairs.crossJoin(F.broadcast(t)).select(
        "seg_a",
        "seg_b",
        F.round(F.col("m_a") - F.col("m_b") + F.lit(1e-9), 4).alias(
            "mean_diff"
        ),
        q.alias("q_stat"),
        F.coalesce(q > F.lit(3.858), F.lit(False)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Cook's distance: influential days of the daily-revenue trend fit
# ---------------------------------------------------------------------------

_COOKS_TOP_K = 10


@register(
    "cooks_distance",
    f"""
WITH g AS ({_SQL_DAY_REV}
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS t, day, cents::DOUBLE AS x
  FROM g
), ols AS (
  SELECT count(*)::BIGINT AS n, sum(t::DOUBLE) AS st, sum(x) AS sx,
         sum(t::DOUBLE * t) AS stt, sum(t::DOUBLE * x) AS stx
  FROM idx
), fit AS (
  SELECT n, st / n AS tbar, stt - st * st / n AS sxx,
         (n * stx - st * sx) / nullif(n * stt - st * st, 0.0) AS slope,
         (sx - (n * stx - st * sx) / nullif(n * stt - st * st, 0.0) * st)
           / n AS intercept
  FROM ols
), e AS (
  SELECT day, t, x - (fit.intercept + fit.slope * t) AS e,
         1.0 / fit.n + (t - fit.tbar) * (t - fit.tbar)
           / nullif(fit.sxx, 0.0) AS h,
         fit.n AS n
  FROM idx, fit
), mse AS (
  SELECT sum(e * e) / (any_value(n) - 2) AS mse FROM e
), d AS (
  SELECT day, e, h, n,
         e * e * h / nullif(2.0 * mse.mse * (1.0 - h) * (1.0 - h), 0.0)
           AS cd
  FROM e, mse
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       round(e / 100.0 + 1e-9, 2) AS residual_revenue,
       round(h + 1e-9, 6) AS leverage,
       round(cd + 1e-9, 6) AS cooks_d,
       coalesce(round(cd + 1e-9, 6) > 4.0 / n, false) AS influential
FROM d
ORDER BY cd DESC, day LIMIT {_COOKS_TOP_K}
""",
)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: Cook's distance of each day in the daily-revenue
    OLS trend — D_t = e_t²·h_t / (p·MSE·(1−h_t)²) with the simple-
    regression leverage h_t = 1/n + (t−t̄)²/Sxx, top-{_COOKS_TOP_K}
    most influential days flagged against the 4/n rule (Cook 1977).
    The WHICH-day companion of durbin_watson/breusch_pagan's
    whole-series verdicts — the days a revenue-trend model is
    actually standing on (promo spikes, outages).

    Scale shape: the durbin_watson day-grain chain (integer-cents
    hash agg, 1-row OLS broadcast, closed-form leverage per day),
    one more 1-row MSE reduction, and the top-k is orderBy+limit =
    TakeOrderedAndProject over the calendar-bounded grain."""
    g = _day_rev(spark, sf_dir)
    idx = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        "day",
        F.col("cents").cast("double").alias("x"),
    )
    ols = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("t").cast("double")).alias("st"),
        F.sum("x").alias("sx"),
        F.sum(F.col("t").cast("double") * F.col("t")).alias("stt"),
        F.sum(F.col("t").cast("double") * F.col("x")).alias("stx"),
    )
    slope = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / F.nullif(
        F.col("n") * F.col("stt") - F.col("st") * F.col("st"), F.lit(0.0)
    )
    fit = ols.select(
        "n",
        (F.col("st") / F.col("n")).alias("tbar"),
        (F.col("stt") - F.col("st") * F.col("st") / F.col("n")).alias("sxx"),
        slope.alias("slope"),
        ((F.col("sx") - slope * F.col("st")) / F.col("n")).alias("intercept"),
    )
    e = idx.crossJoin(F.broadcast(fit)).select(
        "day",
        "n",
        (F.col("x") - (F.col("intercept") + F.col("slope") * F.col("t"))).alias(
            "e"
        ),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("t") - F.col("tbar"))
            * (F.col("t") - F.col("tbar"))
            / F.nullif(F.col("sxx"), F.lit(0.0))
        ).alias("h"),
    )
    mse = e.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.first("n") - F.lit(2))).alias(
            "mse"
        )
    )
    d = e.crossJoin(F.broadcast(mse)).select(
        "day",
        "e",
        "h",
        "n",
        (
            F.col("e")
            * F.col("e")
            * F.col("h")
            / F.nullif(
                F.lit(2.0)
                * F.col("mse")
                * (F.lit(1.0) - F.col("h"))
                * (F.lit(1.0) - F.col("h")),
                F.lit(0.0),
            )
        ).alias("cd"),
    )
    cd_r = F.round(F.col("cd") + F.lit(1e-9), 6)
    return (
        d.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("e") / F.lit(100.0) + F.lit(1e-9), 2).alias(
                "residual_revenue"
            ),
            F.round(F.col("h") + F.lit(1e-9), 6).alias("leverage"),
            cd_r.alias("cooks_d"),
            F.coalesce(cd_r > F.lit(4.0) / F.col("n"), F.lit(False)).alias(
                "influential"
            ),
            F.col("cd").alias("_cd"),
        )
        .orderBy(F.col("_cd").desc(), F.col("day"))
        .limit(_COOKS_TOP_K)
        .drop("_cd")
    )


# ---------------------------------------------------------------------------
# Restricted mean survival time (area under the KM curve to tau)
# ---------------------------------------------------------------------------

@register(
    "rmst",
    f"""
WITH u AS (
  SELECT user_id,
         min(ts::DATE) AS fd,
         min(CASE WHEN event_type = 'purchase' THEN ts::DATE END) AS dd
  FROM events GROUP BY user_id
), m AS (
  SELECT max(coalesce(dd, fd)) AS mx, count(*)::BIGINT AS n_users FROM u
), l AS (
  SELECT CASE WHEN dd IS NOT NULL THEN date_diff('day', fd, dd)
              ELSE date_diff('day', fd, m.mx) END AS t,
         CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END AS death
  FROM u CROSS JOIN m
), tau AS (
  -- integer floor division: DuckDB's double->BIGINT cast rounds to
  -- nearest while Spark's cast truncates; // makes both engines
  -- floor, so an odd max(t) yields the same tau on both sides
  SELECT (max(t) // 2)::BIGINT AS tau FROM l
), g AS (
  SELECT t, sum(death)::BIGINT AS d, sum(1 - death)::BIGINT AS c
  FROM l GROUP BY t
), r AS (
  SELECT t, d,
         (SELECT n_users FROM m)
         - coalesce(sum(d + c) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM g
), s AS (
  SELECT t,
         exp(sum(ln(greatest(1.0 - d / n_risk::DOUBLE, 1e-300)))
             OVER (ORDER BY t)) AS surv,
         lead(t) OVER (ORDER BY t) AS t_next
  FROM r
), seg AS (
  SELECT least(t, tau.tau) AS a,
         least(coalesce(t_next, tau.tau), tau.tau) AS b, surv
  FROM s, tau
), first_seg AS (
  SELECT least(min(t), (SELECT tau FROM tau)) AS first_t FROM s
)
SELECT (SELECT tau FROM tau) AS tau_days,
       (SELECT n_users FROM m) AS n_users,
       round((SELECT first_t FROM first_seg)
             + sum(surv * (b - a)) + 1e-9, 4) AS rmst_days
FROM seg
""",
)
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W4 [EXT]: restricted mean survival time — the area under
    the Kaplan-Meier curve up to τ = half the observed span
    (span-derived, so every scale factor integrates a real curve).
    The ONE-NUMBER survival summary regulators now prefer over
    hazard ratios (Royston & Parmar 2013): "average conversion-free
    days in the first τ days". Completes the survival family's
    readout trio: kaplan_meier draws S(t), nelson_aalen its hazard,
    RMST integrates it; log_rank_test compares two of them.

    Scale shape: the kaplan_meier lifetable chain — one user-grain
    hash agg, 1-row censor horizon broadcast, then every window
    (risk-set prefix, survival log-sum, lead) runs on the
    CALENDAR-BOUNDED event-time grain; the integral is one 1-row
    reduction over the step segments clipped at τ."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("dd"),
    )
    m = u.agg(
        F.max(F.coalesce("dd", "fd")).alias("mx"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    l = u.crossJoin(F.broadcast(m)).select(
        "n_users",
        F.when(F.col("dd").isNotNull(), F.datediff("dd", "fd"))
        .otherwise(F.datediff("mx", "fd"))
        .alias("t"),
        F.when(F.col("dd").isNotNull(), 1).otherwise(0).alias("death"),
    )
    tau = l.agg(F.floor(F.max("t") / F.lit(2)).cast("bigint").alias("tau"))
    g = l.groupBy("t", "n_users").agg(
        F.sum("death").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("death")).cast("bigint").alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t")
    r = g.select(
        "t",
        "d",
        (
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    s = r.select(
        "t",
        F.exp(
            F.sum(
                F.log(
                    F.greatest(
                        F.lit(1.0) - F.col("d") / F.col("n_risk").cast("double"),
                        F.lit(1e-300),
                    )
                )
            ).over(w_cum)
        ).alias("surv"),
        F.lead("t").over(w_cum).alias("t_next"),
    )
    seg = s.crossJoin(F.broadcast(tau)).select(
        "tau",
        F.least("t", "tau").alias("a"),
        F.least(F.coalesce("t_next", "tau"), F.col("tau")).alias("b"),
        "surv",
        "t",
    )
    first_seg = s.crossJoin(F.broadcast(tau)).agg(
        F.least(F.min("t"), F.first("tau")).alias("first_t")
    )
    out = seg.groupBy("tau").agg(
        F.sum(F.col("surv") * (F.col("b") - F.col("a"))).alias("area")
    )
    return (
        out.crossJoin(F.broadcast(first_seg))
        .crossJoin(F.broadcast(m.select("n_users")))
        .select(
            F.col("tau").alias("tau_days"),
            "n_users",
            F.round(
                F.col("first_t") + F.col("area") + F.lit(1e-9), 4
            ).alias("rmst_days"),
        )
    )


# ---------------------------------------------------------------------------
# Hosmer-Lemeshow calibration test over the reliability deciles
# ---------------------------------------------------------------------------

@register(
    "hosmer_lemeshow",
    """
WITH e AS (
  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), g AS (
  SELECT avg(value) AS mu,
         sqrt(greatest(sum(value * value) / count(*)
                       - avg(value) * avg(value), 1e-12)) AS sd
  FROM e
), p AS (
  SELECT label,
         round(1.0 / (1.0 + exp(-(value - g.mu) / g.sd)), 9) AS p_hat
  FROM e, g
), b AS (
  SELECT least(floor(p_hat * 10), 9)::INT AS bin, label, p_hat FROM p
), cell AS (
  SELECT bin, count(*)::BIGINT AS n_b, sum(label)::BIGINT AS o_b,
         avg(p_hat) AS pbar
  FROM b GROUP BY bin
), hl AS (
  SELECT count(*)::BIGINT AS n_bins,
         sum((o_b - n_b * pbar) * (o_b - n_b * pbar)
             / nullif(n_b * pbar * (1.0 - pbar), 0.0)) AS hl_raw
  FROM cell
)
SELECT n_bins, (n_bins - 2)::BIGINT AS df,
       round(hl_raw + 1e-9, 4) AS hl_stat,
       coalesce(n_bins = 10 AND round(hl_raw + 1e-9, 4) > 15.507,
                false) AS reject_calibrated
FROM hl
""",
)
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Hosmer-Lemeshow goodness-of-calibration test over
    the same prediction deciles calibration_eval draws — HL =
    Σ(O_b − n_b·p̄_b)²/(n_b·p̄_b(1−p̄_b)) against χ²(bins−2)
    (Hosmer & Lemeshow 1980). The significance companion of
    calibration_eval's per-bin gaps and brier_logloss' scalar
    scores: it answers IS the miscalibration more than noise.
    The reject flag is emitted only for the canonical 10-bin case
    (where 15.507 is the df=8 cut), NULL otherwise — same guarded
    CASE both engines.

    Scale shape: the calibration_eval chain exactly — 1-row moment
    broadcast, one 10-cell conditional hash agg, a 1-row χ²
    reduction."""
    e = load_table(spark, sf_dir, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "label"
        ),
    )
    g = e.agg(
        F.avg("value").alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(F.col("value") * F.col("value")) / F.count("*")
                - F.avg("value") * F.avg("value"),
                F.lit(1e-12),
            )
        ).alias("sd"),
    )
    p = e.crossJoin(F.broadcast(g)).select(
        "label",
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(-(F.col("value") - F.col("mu")) / F.col("sd"))
            ),
            9,
        ).alias("p_hat"),
    )
    cell = (
        p.select(
            F.least(F.floor(F.col("p_hat") * 10), F.lit(9))
            .cast("int")
            .alias("bin"),
            "label",
            "p_hat",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_b"),
            F.sum("label").cast("bigint").alias("o_b"),
            F.avg("p_hat").alias("pbar"),
        )
    )
    hl = cell.agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum(
            (F.col("o_b") - F.col("n_b") * F.col("pbar"))
            * (F.col("o_b") - F.col("n_b") * F.col("pbar"))
            / F.nullif(
                F.col("n_b") * F.col("pbar") * (F.lit(1.0) - F.col("pbar")),
                F.lit(0.0),
            )
        ).alias("hl_raw"),
    )
    hlr = F.round(F.col("hl_raw") + F.lit(1e-9), 4)
    return hl.select(
        "n_bins",
        (F.col("n_bins") - F.lit(2)).cast("bigint").alias("df"),
        hlr.alias("hl_stat"),
        F.coalesce(
            (F.col("n_bins") == 10) & (hlr > F.lit(15.507)), F.lit(False)
        ).alias("reject_calibrated"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration via the closed-form minimax PAV on the bins
# ---------------------------------------------------------------------------

@register(
    "isotonic_calibration",
    """
WITH e AS (
  SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events
), g AS (
  SELECT avg(value) AS mu,
         sqrt(greatest(sum(value * value) / count(*)
                       - avg(value) * avg(value), 1e-12)) AS sd
  FROM e
), p AS (
  SELECT label,
         round(1.0 / (1.0 + exp(-(value - g.mu) / g.sd)), 9) AS p_hat
  FROM e, g
), cell AS (
  SELECT least(floor(p_hat * 10), 9)::INT AS bin,
         count(*)::BIGINT AS n_b, sum(label)::BIGINT AS pos_b,
         avg(p_hat) AS mean_pred
  FROM p GROUP BY 1
), pre AS (
  SELECT bin, n_b, pos_b, mean_pred,
         sum(n_b) OVER w AS cn, sum(pos_b) OVER w AS cp
  FROM cell WINDOW w AS (ORDER BY bin)
), spans AS (
  SELECT j.bin AS j, k.bin AS k,
         (k.cp - j.cp + j.pos_b)::DOUBLE
           / nullif(k.cn - j.cn + j.n_b, 0) AS avg_jk
  FROM pre j JOIN pre k ON j.bin <= k.bin
), inner_min AS (
  SELECT b.bin, s.j, min(s.avg_jk) AS min_k
  FROM cell b JOIN spans s ON s.j <= b.bin AND s.k >= b.bin
  GROUP BY b.bin, s.j
), iso AS (
  SELECT bin, max(min_k) AS iso_rate FROM inner_min GROUP BY bin
)
SELECT c.bin, c.n_b AS n,
       round(c.mean_pred + 1e-9, 4) AS mean_pred,
       round(c.pos_b::DOUBLE / c.n_b + 1e-9, 4) AS obs_rate,
       round(i.iso_rate + 1e-9, 4) AS iso_rate
FROM cell c JOIN iso i USING (bin)
""",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: isotonic calibration of the reliability deciles —
    the weighted pool-adjacent-violators fit computed by its CLOSED
    minimax form iso(b) = max_{{j≤b}} min_{{k≥b}} wavg(pos, j..k)
    (Ayer et al. 1955; Zadrozny & Elkan 2002 for calibration). The
    FIX to what calibration_eval and hosmer_lemeshow only measure:
    the isotonic column is the monotone probability map a serving
    layer would actually deploy.

    Scale shape: everything after the fact's one 10-cell hash agg
    runs on the BIN grain — prefix sums over ≤10 rows, a bins²
    span table, a bins³ minimax join — constants by construction,
    so the 'cubic' formula is free and exactly reproducible (no
    iterative pooling to replay); exact integer (pos, n) prefix
    sums make every span average identical on both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "label"
        ),
    )
    g = e.agg(
        F.avg("value").alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(F.col("value") * F.col("value")) / F.count("*")
                - F.avg("value") * F.avg("value"),
                F.lit(1e-12),
            )
        ).alias("sd"),
    )
    p = e.crossJoin(F.broadcast(g)).select(
        "label",
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(-(F.col("value") - F.col("mu")) / F.col("sd"))
            ),
            9,
        ).alias("p_hat"),
    )
    cell = (
        p.select(
            F.least(F.floor(F.col("p_hat") * 10), F.lit(9))
            .cast("int")
            .alias("bin"),
            "label",
            "p_hat",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_b"),
            F.sum("label").cast("bigint").alias("pos_b"),
            F.avg("p_hat").alias("mean_pred"),
        )
    )
    w = Window.orderBy("bin")
    pre = cell.select(
        "bin",
        "n_b",
        "pos_b",
        F.sum("n_b").over(w).alias("cn"),
        F.sum("pos_b").over(w).alias("cp"),
    )
    j = pre.select(
        F.col("bin").alias("j"),
        F.col("n_b").alias("jn"),
        F.col("pos_b").alias("jp"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = pre.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    spans = j.join(F.broadcast(k), F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("kcp") - F.col("jcp") + F.col("jp")).cast("double")
            / F.nullif(
                F.col("kcn") - F.col("jcn") + F.col("jn"), F.lit(0)
            )
        ).alias("avg_jk"),
    )
    bins = cell.select(F.col("bin"))
    inner_min = (
        bins.join(
            F.broadcast(spans),
            (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")),
        )
        .groupBy("bin", "j")
        .agg(F.min("avg_jk").alias("min_k"))
    )
    iso = inner_min.groupBy("bin").agg(F.max("min_k").alias("iso_rate"))
    return cell.join(iso, "bin").select(
        "bin",
        F.col("n_b").alias("n"),
        F.round(F.col("mean_pred") + F.lit(1e-9), 4).alias("mean_pred"),
        F.round(
            F.col("pos_b").cast("double") / F.col("n_b") + F.lit(1e-9), 4
        ).alias("obs_rate"),
        F.round(F.col("iso_rate") + F.lit(1e-9), 4).alias("iso_rate"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the near-dup graph (fixed-round peel)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_sql(k: int = _KCORE_K, n_rounds: int = _KCORE_ROUNDS,
               thresh: float = 0.5) -> str:
    """Same MinHash-LSH edge chain as graph_triangles/local_clustering
    oracles + ``n_rounds`` unrolled degree-peel CTEs mirroring
    operators/cluster.k_core exactly."""
    from resume_jd_matcher_spark.queries.text_q import SQL_HASH32, SQL_TOKS

    head = f"""WITH docs AS (
  SELECT doc_id, list_distinct({SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({SQL_HASH32.format(c="w || '#' || seed")}) AS mh
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
         round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4) AS ej
  FROM cand c
  JOIN h ha ON ha.doc_id = c.left_id
  JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
  GROUP BY c.left_id, c.right_id
), e0 AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM est WHERE ej >= {thresh}
)"""
    its = []
    for r in range(1, n_rounds + 1):
        its.append(
            f""", deg{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg
  FROM (SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1})
  GROUP BY node
), keep{r} AS MATERIALIZED (
  SELECT node FROM deg{r} WHERE deg >= {k}
), e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r - 1} e
  JOIN keep{r} ka ON ka.node = e.a
  JOIN keep{r} kb ON kb.node = e.b
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT node, count(*)::BIGINT AS core_deg
FROM (SELECT a AS node FROM e{n_rounds} UNION ALL SELECT b FROM e{n_rounds})
GROUP BY node HAVING count(*) >= {k}
"""
    )


@register("k_core_graph", _kcore_sql())
def q_k_core_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] {_KCORE_K}-core of the MinHash near-dup graph — the
    maximal subgraph where every node keeps ≥ {_KCORE_K} neighbours,
    via a FIXED {_KCORE_ROUNDS}-round degree peel (Seidman 1983;
    fixed rounds past observed convergence so the oracle replays the
    trajectory as unrolled CTEs, the pagerank/Lloyd discipline).
    Completes the graph-structure trio: local_clustering scores each
    node's neighbourhood density, graph_triangles the global
    transitivity — the k-core EXTRACTS the dense template blobs a
    dedup curator should review as units, shedding chains and
    pendants that survive LSH by transitivity.

    Scale shape: each peel round is one explode→hash-agg degree
    count and two semi-joins of the edge list against survivors —
    O(edges) per round, localCheckpointed lineage, never a
    neighbourhood crossJoin (operators/cluster.py:k_core)."""
    from resume_jd_matcher_spark.operators import cluster as clusterop
    from resume_jd_matcher_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(
        d, n_hashes=16, rows_per_band=4
    ).filter(F.col("est_jaccard") >= 0.5)
    return clusterop.k_core(pairs, k=_KCORE_K, n_rounds=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# First-order Markov (removal-effect) attribution
# ---------------------------------------------------------------------------

_MKV_ITER = 12
_MKV_DP = 9


def _markov_sql(n_iter: int = _MKV_ITER, dp: int = _MKV_DP) -> str:
    """Journey transition CTEs + UNROLLED value-iteration CTEs over
    the (variant, state) grain — variants are the base chain plus one
    chain per removed channel (incoming edges of the removed channel
    redirect to NULL; its outgoing edges drop), mirroring the Spark
    loop exactly (per-iteration rounding, the pagerank unrolled-CTE
    discipline; every iteration CTE MATERIALIZED so the chain is
    evaluated once, not exponentially inlined)."""
    head = f"""WITH fp AS (
  SELECT user_id, min(ts) AS pts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), journey AS (
  SELECT e.user_id, e.ts, e.event_id,
         CASE WHEN e.event_type = 'purchase' THEN 'CONV'
              ELSE e.event_type END AS st
  FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
  WHERE fp.pts IS NULL OR e.ts <= fp.pts
), seq AS (
  SELECT user_id, st,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         count(*) OVER (PARTITION BY user_id) AS m
  FROM journey
), trans AS (
  SELECT 'START' AS s, st AS nxt FROM seq WHERE rn = 1
  UNION ALL
  SELECT a.st, b.st FROM seq a
  JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  UNION ALL
  SELECT st, 'NULL' FROM seq WHERE rn = m AND st <> 'CONV'
), channels AS (
  SELECT DISTINCT st AS ch FROM seq WHERE st <> 'CONV'
), variants AS (
  SELECT 'base' AS var, NULL::VARCHAR AS dropped
  UNION ALL SELECT ch, ch FROM channels
), vtrans AS (
  SELECT v.var, t.s,
         CASE WHEN t.nxt = v.dropped THEN 'NULL' ELSE t.nxt END AS nxt,
         count(*)::BIGINT AS c
  FROM trans t CROSS JOIN variants v
  WHERE v.dropped IS NULL OR t.s <> v.dropped
  GROUP BY 1, 2, 3
), prob AS MATERIALIZED (
  SELECT var, s, nxt, c::DOUBLE / sum(c) OVER (PARTITION BY var, s) AS p
  FROM vtrans
), states AS MATERIALIZED (
  SELECT DISTINCT var, s AS state FROM prob
  UNION SELECT DISTINCT var, nxt FROM prob
), vi0 AS MATERIALIZED (
  SELECT var, state,
         CASE WHEN state = 'CONV' THEN 1.0 ELSE 0.0 END AS v
  FROM states
)"""
    its = []
    for t in range(1, n_iter + 1):
        its.append(
            f""", vi{t} AS MATERIALIZED (
  SELECT st.var, st.state,
         CASE WHEN st.state = 'CONV' THEN 1.0
              WHEN st.state = 'NULL' THEN 0.0
              ELSE round(coalesce(agg.c, 0.0), {dp}) END AS v
  FROM states st
  LEFT JOIN (
    SELECT pr.var, pr.s, sum(pr.p * v2.v) AS c
    FROM prob pr
    JOIN vi{t - 1} v2 ON v2.var = pr.var AND v2.state = pr.nxt
    GROUP BY pr.var, pr.s
  ) agg ON agg.var = st.var AND agg.s = st.state
)"""
        )
    tail = f""", conv AS (
  SELECT var, v AS p_conv FROM vi{n_iter} WHERE state = 'START'
), base AS (SELECT p_conv AS p0 FROM conv WHERE var = 'base'),
rem AS (
  SELECT c.var AS channel,
         greatest(1.0 - c.p_conv / nullif(base.p0, 0.0), 0.0) AS removal
  FROM conv c, base WHERE c.var <> 'base'
), tot AS (SELECT sum(removal) AS tr FROM rem)
SELECT channel,
       round((SELECT p0 FROM base) + 1e-9, 6) AS p_conv_base,
       round(removal + 1e-9, 6) AS removal_effect,
       round(removal / nullif(tot.tr, 0.0) + 1e-9, 6) AS attribution_share
FROM rem, tot
"""
    return head + "".join(its) + tail


@register("markov_attribution", _markov_sql())
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: first-order Markov removal-effect attribution
    (Anderl et al. 2014) — journeys as START → touches → CONV/NULL
    chains, conversion probability from START by {_MKV_ITER}-step
    value iteration on the transition matrix, and each channel's
    removal effect 1 − p(conv | channel's edges redirected to NULL)
    normalized into attribution shares. The COUNTERFACTUAL member of
    the attribution family: multitouch_attribution divides credit by
    position; this one asks what conversions would be LOST without
    the channel.

    Scale shape: the fact collapses to per-user ordered journeys
    (one window per user partition), transitions to a
    (|states|+2)²-bounded count grain; the value iteration — and
    every removal variant — runs on the (variants × states) grain
    (≤ ~6×7 rows) as a driver loop over broadcast-joined bounded
    frames with per-iteration rounding, so the oracle's recursive
    CTE replays it bit-for-bit. Fixed iterations, not convergence —
    the determinism discipline of pagerank/kmeans."""
    e = load_table(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    tagged = e.join(fp, "user_id", "left").filter(
        F.col("pts").isNull() | (F.col("ts") <= F.col("pts"))
    )
    journey = tagged.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("st"),
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = journey.select(
        "user_id",
        "st",
        F.row_number().over(wseq).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("m"),
    )
    first = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("s"), F.col("st").alias("nxt")
    )
    nxt = seq.select("user_id", F.col("st").alias("s"), F.col("rn"))
    succ = seq.select(
        "user_id", F.col("st").alias("nxt"), (F.col("rn") - 1).alias("rn")
    )
    mids = nxt.join(succ, ["user_id", "rn"]).select("s", "nxt")
    last = seq.filter((F.col("rn") == F.col("m")) & (F.col("st") != "CONV")).select(
        F.col("st").alias("s"), F.lit("NULL").alias("nxt")
    )
    trans = first.unionByName(mids).unionByName(last)
    tcounts = trans.groupBy("s", "nxt").agg(
        F.count("*").cast("bigint").alias("c")
    )
    # bounded: |event types| + START/CONV/NULL states
    tc = tcounts.collect()
    channels = sorted(
        {r["s"] for r in tc if r["s"] not in ("START", "CONV")}
        | {r["nxt"] for r in tc if r["nxt"] not in ("START", "CONV", "NULL")}
    )
    variants = [("base", None)] + [(ch, ch) for ch in channels]
    rows = []
    for var, dropped in variants:
        agg: dict = {}
        for r in tc:
            s, nx, c = r["s"], r["nxt"], r["c"]
            if dropped is not None and s == dropped:
                continue
            if dropped is not None and nx == dropped:
                nx = "NULL"
            agg[(s, nx)] = agg.get((s, nx), 0) + c
        states = {s for s, _ in agg} | {nx for _, nx in agg}
        out_tot = {}
        for (s, _nx), c in agg.items():
            out_tot[s] = out_tot.get(s, 0) + c
        v = {s: (1.0 if s == "CONV" else 0.0) for s in states}
        for _ in range(_MKV_ITER):
            nv = {}
            for s in states:
                if s == "CONV":
                    nv[s] = 1.0
                elif s == "NULL":
                    nv[s] = 0.0
                else:
                    acc = 0.0
                    for (a, b), c in sorted(agg.items()):
                        if a == s:
                            acc += (c / out_tot[s]) * v.get(b, 0.0)
                    # DuckDB round(double, dp) is half-away-from-zero
                    # (std::round of the scaled value); Python round()
                    # is banker's half-even — emulate the oracle so the
                    # per-iteration rounding step keeps bit-parity
                    # (acc >= 0, so half-up == half-away)
                    nv[s] = math.floor(acc * 10**_MKV_DP + 0.5) / 10**_MKV_DP
            v = nv
        rows.append((var, v.get("START", 0.0)))
    p0 = next(p for var, p in rows if var == "base")
    # p0 == 0 mirrors the oracle's greatest(1.0 - p/nullif(p0,0), 0.0):
    # DuckDB's greatest skips the NULL operand and yields 0.0, so a
    # conversion-free corpus attributes zero removal to every channel
    rem = [
        (var, max(1.0 - p / p0, 0.0) if p0 else 0.0)
        for var, p in rows
        if var != "base"
    ]
    tr = sum(r for _, r in rem)
    out_rows = [
        (
            ch,
            round(p0 + 1e-9, 6),
            round(r + 1e-9, 6),
            round((r / tr if tr else None) + 1e-9, 6) if tr else None,
        )
        for ch, r in rem
    ]
    return spark.createDataFrame(
        out_rows,
        "channel string, p_conv_base double, removal_effect double, "
        "attribution_share double",
    )


# ---------------------------------------------------------------------------
# Two-component Gaussian mixture EM (fixed 3 unrolled iterations)
# ---------------------------------------------------------------------------

_EM_ITER = 3
_EM_DP = 6


def _gmm_sql(n_iter: int = _EM_ITER, dp: int = _EM_DP) -> str:
    """Unrolled EM oracle: deterministic quantile/sd init (rounded),
    then per-iteration E-step responsibilities from the ROUNDED
    params and sufficient-statistic M-step, each params row rounded —
    the kmeans/pagerank trajectory discipline. Every CTE MATERIALIZED
    so the chain is evaluated once."""
    head = f"""WITH x AS MATERIALIZED (
  SELECT c_acctbal AS v FROM customer
), p0 AS MATERIALIZED (
  SELECT round(quantile_cont(v, 0.25), {dp}) AS mu1,
         round(quantile_cont(v, 0.75), {dp}) AS mu2,
         round(stddev_samp(v), {dp}) AS s1,
         round(stddev_samp(v), {dp}) AS s2,
         0.5 AS pi1
  FROM x
)"""
    its = []
    for t in range(1, n_iter + 1):
        its.append(
            f""", r{t} AS MATERIALIZED (
  SELECT v,
         p.pi1 * exp(-(v - p.mu1) * (v - p.mu1)
                     / (2.0 * greatest(p.s1 * p.s1, 1e-6))) / p.s1 AS w1,
         (1.0 - p.pi1) * exp(-(v - p.mu2) * (v - p.mu2)
                     / (2.0 * greatest(p.s2 * p.s2, 1e-6))) / p.s2 AS w2
  FROM x, p{t - 1} p
), g{t} AS MATERIALIZED (
  SELECT v, w1 / nullif(w1 + w2, 0.0) AS r FROM r{t}
), p{t} AS MATERIALIZED (
  SELECT round(avg(r), {dp}) AS pi1,
         round(sum(r * v) / nullif(sum(r), 0.0), {dp}) AS mu1,
         round(sum((1 - r) * v) / nullif(sum(1 - r), 0.0), {dp}) AS mu2,
         round(sqrt(greatest(
           sum(r * v * v) / nullif(sum(r), 0.0)
           - (sum(r * v) / nullif(sum(r), 0.0))
             * (sum(r * v) / nullif(sum(r), 0.0)), 1e-6)), {dp}) AS s1,
         round(sqrt(greatest(
           sum((1 - r) * v * v) / nullif(sum(1 - r), 0.0)
           - (sum((1 - r) * v) / nullif(sum(1 - r), 0.0))
             * (sum((1 - r) * v) / nullif(sum(1 - r), 0.0)), 1e-6)),
           {dp}) AS s2
  FROM g{t}
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT (SELECT count(*) FROM x)::BIGINT AS n,
       pi1, mu1, s1 AS sigma1, mu2, s2 AS sigma2
FROM p{n_iter}
"""
    )


@register("gaussian_mixture_em", _gmm_sql())
def q_gaussian_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: two-component 1-D Gaussian mixture fit of account
    balance by {_EM_ITER} fixed EM iterations (Dempster et al. 1977)
    — deterministic quartile/sd initialization, per-row E-step
    responsibilities from the ROUNDED previous params, sufficient-
    statistic M-step (Σr, Σrv, Σrv² per component in ONE hash agg),
    params re-rounded each iteration so the oracle replays the exact
    trajectory (the kmeans/Lloyd discipline). The model-based
    alternative to rule-based quantile splits: it answers whether the
    balance distribution is one population or two.

    Scale shape: init is one percentile agg; each EM iteration is
    ONE fact pass — a 1-row params broadcast into a map-side-
    combined sufficient-statistic agg. {_EM_ITER} passes total, no
    window, no join wider than the broadcast."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_acctbal").alias("v")
    )
    n = c.count()
    p = c.agg(
        F.round(F.percentile("v", F.lit(0.25)), _EM_DP).alias("mu1"),
        F.round(F.percentile("v", F.lit(0.75)), _EM_DP).alias("mu2"),
        F.round(F.stddev("v"), _EM_DP).alias("s1"),
        F.round(F.stddev("v"), _EM_DP).alias("s2"),
        F.lit(0.5).alias("pi1"),
    )
    for _ in range(_EM_ITER):
        j = c.crossJoin(F.broadcast(p))
        w1 = (
            F.col("pi1")
            * F.exp(
                -(F.col("v") - F.col("mu1"))
                * (F.col("v") - F.col("mu1"))
                / (
                    F.lit(2.0)
                    * F.greatest(F.col("s1") * F.col("s1"), F.lit(1e-6))
                )
            )
            / F.col("s1")
        )
        w2 = (
            (F.lit(1.0) - F.col("pi1"))
            * F.exp(
                -(F.col("v") - F.col("mu2"))
                * (F.col("v") - F.col("mu2"))
                / (
                    F.lit(2.0)
                    * F.greatest(F.col("s2") * F.col("s2"), F.lit(1e-6))
                )
            )
            / F.col("s2")
        )
        g = j.select(
            "v", (w1 / F.nullif(w1 + w2, F.lit(0.0))).alias("r")
        )
        sr = F.sum("r")
        srv = F.sum(F.col("r") * F.col("v"))
        srvv = F.sum(F.col("r") * F.col("v") * F.col("v"))
        cr = F.lit(1) - F.col("r")
        scr = F.sum(cr)
        scrv = F.sum(cr * F.col("v"))
        scrvv = F.sum(cr * F.col("v") * F.col("v"))
        mu1 = srv / F.nullif(sr, F.lit(0.0))
        mu2 = scrv / F.nullif(scr, F.lit(0.0))
        p = g.agg(
            F.round(F.avg("r"), _EM_DP).alias("pi1"),
            F.round(mu1, _EM_DP).alias("mu1"),
            F.round(mu2, _EM_DP).alias("mu2"),
            F.round(
                F.sqrt(
                    F.greatest(
                        srvv / F.nullif(sr, F.lit(0.0)) - mu1 * mu1,
                        F.lit(1e-6),
                    )
                ),
                _EM_DP,
            ).alias("s1"),
            F.round(
                F.sqrt(
                    F.greatest(
                        scrvv / F.nullif(scr, F.lit(0.0)) - mu2 * mu2,
                        F.lit(1e-6),
                    )
                ),
                _EM_DP,
            ).alias("s2"),
        )
    return p.select(
        F.lit(n).cast("bigint").alias("n"),
        "pi1",
        "mu1",
        F.col("s1").alias("sigma1"),
        "mu2",
        F.col("s2").alias("sigma2"),
    )


# ---------------------------------------------------------------------------
# Periodogram of daily revenue (bounded-frequency DFT)
# ---------------------------------------------------------------------------

_PGRAM_K = 16


@register(
    "periodogram",
    f"""
WITH g AS ({_SQL_DAY_REV}
), t AS (
  SELECT sum(cents)::BIGINT AS s, count(*)::BIGINT AS n FROM g
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS i,
         cents - s / n::DOUBLE AS dev, n
  FROM g CROSS JOIN t
), f AS (
  SELECT k.k, max(idx.n) AS n,
         sum(dev * cos(2 * pi() * k.k * i / idx.n)) AS a,
         sum(dev * sin(2 * pi() * k.k * i / idx.n)) AS b
  FROM idx
  CROSS JOIN (SELECT unnest(generate_series(1, {_PGRAM_K})) AS k) k
  GROUP BY k.k
), pw AS (
  SELECT k, n, (a * a + b * b) AS raw FROM f
), tot AS (SELECT sum(raw) AS tr FROM pw)
SELECT k::INT AS k,
       round(n::DOUBLE / k + 1e-9, 2) AS period_days,
       round(raw / nullif(tot.tr, 0.0) + 1e-9, 6) AS power_share
FROM pw, tot
""",
)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: periodogram of the daily-revenue series — the DFT
    power |Σ dev_t·e^(−2πikt/n)|² at the first {_PGRAM_K} Fourier
    frequencies, normalized to power shares (Schuster 1898). The
    FREQUENCY-domain seasonality detector beside acf_daily's lag
    domain: a weekly cycle concentrates share at period ≈ 7 days,
    and the share vector is the input to a spectral-entropy
    regularity score.

    Scale shape: the integer-cents day grain, a 1-row mean
    broadcast, and ONE hash agg over (day grain × {_PGRAM_K}-row
    literal frequency spine) — never fact-sized after the first
    agg. Trig arguments are exact small rationals of (k, t, n), so
    both engines evaluate identical points; the only cross-row
    float sums are the per-k (a, b) pairs, and the exposed share is
    rounded."""
    g = _day_rev(spark, sf_dir)
    t = g.agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    idx = g.crossJoin(F.broadcast(t)).select(
        F.row_number().over(Window.orderBy("day")).alias("i"),
        (F.col("cents") - F.col("s") / F.col("n").cast("double")).alias(
            "dev"
        ),
        "n",
    )
    ks = idx.select(
        "i",
        "dev",
        "n",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _PGRAM_K + 1)])
        ).alias("k"),
    )
    arg = (
        F.lit(2.0)
        * F.lit(math.pi)
        * F.col("k")
        * F.col("i")
        / F.col("n")
    )
    f = ks.groupBy("k").agg(
        F.first("n").alias("n"),
        F.sum(F.col("dev") * F.cos(arg)).alias("a"),
        F.sum(F.col("dev") * F.sin(arg)).alias("b"),
    )
    pw = f.select(
        "k", "n", (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias("raw")
    )
    tot = pw.agg(F.sum("raw").alias("tr"))
    return pw.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("int").alias("k"),
        F.round(
            F.col("n").cast("double") / F.col("k") + F.lit(1e-9), 2
        ).alias("period_days"),
        F.round(
            F.col("raw") / F.nullif(F.col("tr"), F.lit(0.0)) + F.lit(1e-9), 6
        ).alias("power_share"),
    )
