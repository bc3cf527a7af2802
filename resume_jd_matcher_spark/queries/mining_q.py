"""Data-mining / profiling queries (round 7, SURVEY.md §2.D/§2.E
[EXT] — the catalog-profiling layer a training-data pipeline runs
over its relational side): market-basket brand affinity, RFM customer
segmentation, ABC/Pareto revenue classification, Gini concentration,
chi-squared independence, level-shift changepoint screen,
time-weighted averages over irregular series, SAX symbolization,
ARI readability, per-source boilerplate n-grams, and functional-
dependency data-quality checks.

The ABC and Gini queries run on ``operators/prefix.global_prefix`` —
the two-phase distributed prefix-scan that replaces the
single-partition ``Window.orderBy`` scale-killer for global
rank/cumsum (see that module's docstring).

Portability contracts shared with the oracles (FIXTURES.md):
- money folded to integer cents via ``floor(x*100 + 0.5)`` BEFORE any
  sum — integer accumulation is associative, so running totals match
  the oracle bit-for-bit regardless of partitioning; float running
  sums would not;
- event values folded to integer micros the same way;
- day grain = ``floor(epoch_seconds/86400)`` (repo-wide convention);
- every exposed float rounded in-query on both sides with the +1e-9
  tie-dodge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

_SQL_TOKS = "string_split_regex(trim(lower({c})), '\\s+')"


# ---------------------------------------------------------------------------
# Market basket: brand co-occurrence within orders
# ---------------------------------------------------------------------------

@register(
    "market_basket",
    """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
cnts AS (SELECT p_brand, count(*)::BIGINT AS cnt FROM baskets GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*)::BIGINT AS support
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
)
SELECT p.brand_a, p.brand_b, p.support,
       round(p.support / n.n_orders::DOUBLE + 1e-9, 6) AS supp_frac,
       round(p.support * n.n_orders / (ca.cnt * cb.cnt)::DOUBLE + 1e-9, 4) AS lift
FROM pairs p
CROSS JOIN n
JOIN cnts ca ON ca.p_brand = p.brand_a
JOIN cnts cb ON cb.p_brand = p.brand_b
WHERE p.support >= 2
""",
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J2 [EXT]: market-basket affinity — support and lift for
    brand pairs co-occurring in an order (Agrawal-Srikant A-priori's
    pair stage, the k=2 sweet spot that covers most production
    affinity use). Items are rolled up to p_brand so the pair space
    is dimension-bounded (|brands|² ≤ 625), not part².

    Scale shape (r12 basket rewrite): ONE groupBy(order) collect_set
    builds each order's sorted brand basket AND is the
    (order, brand) distinct; order count, per-brand counts, and the
    C(brands-per-order, 2) pair stream all come off that persisted
    bounded frame (pairs generated EXPRESSION-side from the sorted
    arrays — no self-join shuffle; per-order fanout is bounded by
    the order's line count, so the candidate stream is linear-ish in
    lineitem). part is a broadcast dim into the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED

    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        # AQE coalesces the small basket frame; spread the pair
        # explosion (REPARTITION_BY_NUM is coalesce-exempt)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()  # three consumers: n_orders, brand counts, pairs
    )
    _PERSISTED.append(baskets)
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    cnts = (
        baskets.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (a, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "b -> struct(a AS brand_a, b AS brand_b))))"
                )
            ).alias("pr")
        )
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    eps = F.lit(1e-9)
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(
            F.broadcast(cnts.select(F.col("p_brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(cnts.select(F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))),
            "brand_b",
        )
        .select(
            "brand_a",
            "brand_b",
            "support",
            F.round(
                F.col("support") / F.col("n_orders").cast("double") + eps, 6
            ).alias("supp_frac"),
            F.round(
                F.col("support")
                * F.col("n_orders")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
                + eps,
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

@register(
    "rfm_segments",
    """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
cust AS (
  SELECT o_custkey,
         floor(date_diff('second', max(o_orderdate), a.mx) / 86400.0)::BIGINT AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS monetary_cents
  FROM orders CROSS JOIN anchor a GROUP BY o_custkey, a.mx
), q AS (
  SELECT quantile_cont(recency_days, 0.25) AS r1, quantile_cont(recency_days, 0.5) AS r2, quantile_cont(recency_days, 0.75) AS r3,
         quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2, quantile_cont(frequency, 0.75) AS f3,
         quantile_cont(monetary_cents, 0.25) AS m1, quantile_cont(monetary_cents, 0.5) AS m2, quantile_cont(monetary_cents, 0.75) AS m3
  FROM cust
)
SELECT c.o_custkey AS custkey, c.recency_days, c.frequency, c.monetary_cents,
       (CASE WHEN c.recency_days <= q.r1 THEN 4 WHEN c.recency_days <= q.r2 THEN 3 WHEN c.recency_days <= q.r3 THEN 2 ELSE 1 END)::INT AS r_score,
       (CASE WHEN c.frequency <= q.f1 THEN 1 WHEN c.frequency <= q.f2 THEN 2 WHEN c.frequency <= q.f3 THEN 3 ELSE 4 END)::INT AS f_score,
       (CASE WHEN c.monetary_cents <= q.m1 THEN 1 WHEN c.monetary_cents <= q.m2 THEN 2 WHEN c.monetary_cents <= q.m3 THEN 3 ELSE 4 END)::INT AS m_score,
       'R' || (CASE WHEN c.recency_days <= q.r1 THEN 4 WHEN c.recency_days <= q.r2 THEN 3 WHEN c.recency_days <= q.r3 THEN 2 ELSE 1 END)
           || 'F' || (CASE WHEN c.frequency <= q.f1 THEN 1 WHEN c.frequency <= q.f2 THEN 2 WHEN c.frequency <= q.f3 THEN 3 ELSE 4 END)
           || 'M' || (CASE WHEN c.monetary_cents <= q.m1 THEN 1 WHEN c.monetary_cents <= q.m2 THEN 2 WHEN c.monetary_cents <= q.m3 THEN 3 ELSE 4 END) AS segment
FROM cust c CROSS JOIN q
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: RFM customer segmentation — recency (days since last
    order vs the corpus anchor), frequency (order count), monetary
    (lifetime cents), each quartile-scored 1-4 and concatenated into
    the classic 'R4F2M1' segment code.

    Scale shape: customer grain is ONE hash agg over orders; quartile
    boundaries are a single 1-row percentile agg broadcast back (NOT
    an ntile window — ntile over all customers is a single-partition
    sort at scale). Money is integer cents so the per-customer sums
    are order-insensitive; boundaries interpolate the same exact
    integers on both engines."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.floor(
                (
                    F.unix_timestamp(F.max("mx"))
                    - F.unix_timestamp(F.max("o_orderdate"))
                )
                / 86400.0
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("monetary_cents"),
        )
    )
    q = cust.agg(
        *[
            F.percentile(c, F.lit(p)).alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary_cents")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(col, q1, q2, q3, invert):
        hi, lo = (4, 1) if not invert else (1, 4)
        steps = (2, 3) if not invert else (3, 2)
        return (
            F.when(F.col(col) <= F.col(q1), F.lit(lo))
            .when(F.col(col) <= F.col(q2), F.lit(steps[0]))
            .when(F.col(col) <= F.col(q3), F.lit(steps[1]))
            .otherwise(F.lit(hi))
            .cast("int")
        )

    r_s = score("recency_days", "r1", "r2", "r3", invert=True)
    f_s = score("frequency", "f1", "f2", "f3", invert=False)
    m_s = score("monetary_cents", "m1", "m2", "m3", invert=False)
    return cust.crossJoin(F.broadcast(q)).select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary_cents",
        r_s.alias("r_score"),
        f_s.alias("f_score"),
        m_s.alias("m_score"),
        F.concat(
            F.lit("R"), r_s.cast("string"),
            F.lit("F"), f_s.cast("string"),
            F.lit("M"), m_s.cast("string"),
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification (distributed prefix scan)
# ---------------------------------------------------------------------------

@register(
    "abc_pareto",
    """
WITH rev AS (
  SELECT l_partkey,
         sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::BIGINT)::BIGINT AS rev_cents
  FROM lineitem GROUP BY l_partkey
), tot AS (SELECT sum(rev_cents)::BIGINT AS t FROM rev),
ranked AS (
  SELECT l_partkey, rev_cents,
         row_number() OVER (ORDER BY rev_cents DESC, l_partkey) AS rnk,
         sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
  FROM rev
)
SELECT r.l_partkey AS partkey, r.rev_cents, r.rnk::BIGINT AS rnk,
       round(r.cum_cents / t.t::DOUBLE + 1e-9, 6) AS cum_share,
       CASE WHEN r.cum_cents / t.t::DOUBLE <= 0.80 THEN 'A'
            WHEN r.cum_cents / t.t::DOUBLE <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked r CROSS JOIN tot t
""",
)
def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/A4 [EXT]: ABC (Pareto) classification of parts by revenue —
    global revenue rank, cumulative revenue share, and the 80/95
    class cut. The textbook inventory-analysis query whose naive
    Spark spelling is the single-partition-window scale-killer.

    Scale shape: runs on operators/prefix.global_prefix — a
    range-shuffle sort + per-partition offset scan, so the only
    unpartitioned window in the plan covers n_partitions summary
    rows, never the part dimension. Revenue is folded to integer
    cents BEFORE summing: the running total is then associative and
    matches the oracle's strict left-to-right window sum exactly.
    bounds="height": per-part revenue is the power-law-key case where
    equal-width buckets funnel ~all rows into one bucket — the
    measured skew curve (SCALE.md) has equal-height at 8.08 s vs
    equal-width 9.04 s at 10x on exactly this distribution."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("rev_cents")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            "rev_cents",
            (-F.col("rev_cents")).alias("_neg"),
        )
    )
    tot = rev.agg(F.sum("rev_cents").alias("t"))
    ranked = global_prefix(
        rev,
        ["_neg", "partkey"],
        "rev_cents",
        sum_type="bigint",
        bounds="height",
    )
    share = F.col("cum_sum") / F.col("t").cast("double")
    return ranked.crossJoin(F.broadcast(tot)).select(
        "partkey",
        "rev_cents",
        F.col("rank").alias("rnk"),
        F.round(share + F.lit(1e-9), 6).alias("cum_share"),
        F.when(share <= 0.80, F.lit("A"))
        .when(share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Gini concentration (distributed prefix scan)
# ---------------------------------------------------------------------------

@register(
    "gini_concentration",
    """
WITH spend AS (
  SELECT o_custkey,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rnk FROM spend
)
SELECT count(*)::BIGINT AS n_customers,
       sum(cents)::BIGINT AS total_cents,
       round((2.0 * sum(rnk::HUGEINT * cents)::DOUBLE)
             / (count(*)::DOUBLE * sum(cents)::DOUBLE)
             - (count(*) + 1.0) / count(*) + 1e-9, 6) AS gini
FROM ranked
""",
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Gini coefficient of customer spend concentration via
    the order-statistics identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    spend sorted ascending — the standard inequality measure for
    "how head-heavy is this corpus/revenue distribution".

    Scale shape: customer spend is one hash agg (integer cents);
    the global ascending rank comes from operators/prefix.
    global_prefix (range sort + bounded offset scan — NO
    single-partition window); the final reduction is a 1-row agg of
    exact integer products, so the double arithmetic at the end is
    bit-identical to the oracle's. Ties in spend don't affect
    Σ(i·xᵢ): equal x under any tie order yield the same sum.
    bounds="height": per-customer spend is power-law-shaped — the
    skewed-key case the measured curve (SCALE.md) shows equal-height
    bucketing wins (8.08 s vs 9.04 s at 10x)."""
    from resume_jd_matcher_spark.operators.prefix import global_prefix

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    ranked = global_prefix(
        spend,
        ["cents", "o_custkey"],
        "cents",
        sum_type="bigint",
        bounds="height",
    )
    n = F.count("*")
    tot = F.sum("cents")
    # rank grows with n_customers, so sum(rank*cents) ~ n²·avg_cents/2
    # overflows int64 around sf≥3 — accumulate in decimal(38,0) (the
    # oracle mirrors with rnk::HUGEINT) and do the ratio in double.
    s = F.sum(F.col("rank").cast("decimal(38,0)") * F.col("cents"))
    return ranked.agg(
        n.cast("bigint").alias("n_customers"),
        tot.cast("bigint").alias("total_cents"),
        F.round(
            (2.0 * s.cast("double")) / (n.cast("double") * tot.cast("double"))
            - (n + F.lit(1.0)) / n
            + F.lit(1e-9),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Chi-squared independence
# ---------------------------------------------------------------------------

@register(
    "chi2_independence",
    """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS obs
  FROM customer GROUP BY c_nationkey, c_mktsegment
), dims AS (
  SELECT n.c_nationkey, s.c_mktsegment
  FROM (SELECT DISTINCT c_nationkey FROM customer) n
  CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) s
), full_cells AS (
  SELECT d.c_nationkey, d.c_mktsegment, coalesce(c.obs, 0)::BIGINT AS obs
  FROM dims d LEFT JOIN cells c USING (c_nationkey, c_mktsegment)
), rt AS (SELECT c_nationkey, sum(obs)::BIGINT AS r FROM full_cells GROUP BY c_nationkey),
ct AS (SELECT c_mktsegment, sum(obs)::BIGINT AS c FROM full_cells GROUP BY c_mktsegment),
n AS (SELECT sum(obs)::BIGINT AS total FROM full_cells)
SELECT round(sum(pow(f.obs - rt.r * ct.c / n.total::DOUBLE, 2)
                 / (rt.r * ct.c / n.total::DOUBLE)) + 1e-9, 4) AS chi2,
       ((count(DISTINCT f.c_nationkey) - 1) * (count(DISTINCT f.c_mktsegment) - 1))::INT AS dof,
       max(n.total)::BIGINT AS n
FROM full_cells f
JOIN rt USING (c_nationkey) JOIN ct USING (c_mktsegment) CROSS JOIN n
""",
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Pearson chi-squared test of independence between
    customer nation and market segment — the categorical-drift /
    stratification screen (is segment mix uniform across nations?).
    Zero cells are completed via the dims cross join (a contingency
    test over only OBSERVED cells understates chi², the classic bug).

    Scale shape: one (nation, segment) hash agg over the fact table;
    everything after runs on dimension-bounded intermediates
    (|nations| × |segments| cells) with broadcast joins; the dims
    completion is a cross join of two distinct dimension lists —
    bounded by catalog size, never fact-sized."""
    c = load_table(spark, sf_dir, "customer")
    # ONE scan of the fact: the dimension lists derive from the
    # (nation, segment) cell agg — every observed level appears in
    # some cell, so distinct-over-cells == distinct-over-customer.
    # The cell grain is |nations|x|segments|-bounded; checkpointing it
    # keeps its three consumers (nats, segs, the left join) from each
    # re-scanning customer (the multi-consumer checklist).
    cells = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("obs"))
        .localCheckpoint()
    )
    nats = cells.select("c_nationkey").distinct()
    segs = cells.select("c_mktsegment").distinct()
    full = (
        nats.crossJoin(segs)
        .join(F.broadcast(cells), ["c_nationkey", "c_mktsegment"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.coalesce("obs", F.lit(0)).cast("bigint").alias("obs"),
        )
    )
    rt = full.groupBy("c_nationkey").agg(F.sum("obs").alias("r"))
    ct = full.groupBy("c_mktsegment").agg(F.sum("obs").alias("c"))
    n = full.agg(F.sum("obs").alias("total"))
    exp = F.col("r") * F.col("c") / F.col("total").cast("double")
    return (
        full.join(F.broadcast(rt), "c_nationkey")
        .join(F.broadcast(ct), "c_mktsegment")
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(
                F.sum(F.pow(F.col("obs") - exp, 2) / exp) + F.lit(1e-9), 4
            ).alias("chi2"),
            (
                (F.countDistinct("c_nationkey") - 1)
                * (F.countDistinct("c_mktsegment") - 1)
            )
            .cast("int")
            .alias("dof"),
            F.max("total").cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Level-shift changepoint screen
# ---------------------------------------------------------------------------

@register(
    "level_shift",
    """
WITH daily AS (
  SELECT event_type,
         floor(epoch(ts) / 86400)::BIGINT AS day_num,
         sum(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS s_micros,
         count(*)::BIGINT AS c
  FROM events GROUP BY event_type, day_num
), win AS (
  SELECT event_type, day_num, s_micros, c,
         row_number() OVER w AS rn,
         sum(s_micros) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS sa,
         sum(c)        OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ca,
         sum(s_micros) OVER (w ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING) AS sb,
         sum(c)        OVER (w ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING) AS cb
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_num)
)
SELECT event_type, day_num,
       round((s_micros / c::DOUBLE) / 1e6 + 1e-9, 4) AS daily_mean,
       round(((sa / ca::DOUBLE) - (sb / cb::DOUBLE)) / (sb / cb::DOUBLE) + 1e-9, 4) AS shift_ratio,
       abs(((sa / ca::DOUBLE) - (sb / cb::DOUBLE)) / (sb / cb::DOUBLE)) > 0.2 AS flagged
FROM win WHERE rn >= 14
""",
)
def q_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: trailing-window level-shift changepoint screen per
    event type — compare the last 7 days' mean against the prior 7
    days' and flag relative shifts beyond ±20% (the two-sample
    rolling variant of a CUSUM screen; the recursive CUSUM clamp
    itself is not window-expressible, this is the standard SQL-shaped
    substitute).

    Scale shape: events collapse to the (type, day) grain FIRST (one
    map-side-combined hash agg carrying integer micro-sums), so every
    window below runs over day-grain rows partitioned by event_type —
    bounded by the calendar, not event volume. Means derive from exact
    integer sums on both engines; no float accumulation anywhere."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).alias("day_num"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("micros"),
        )
        .groupBy("event_type", "day_num")
        .agg(
            F.sum("micros").alias("s_micros"),
            F.count("*").alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day_num")
    wa = w.rowsBetween(-6, 0)
    wb = w.rowsBetween(-13, -7)
    ma = F.sum("s_micros").over(wa) / F.sum("c").over(wa).cast("double")
    mb = F.sum("s_micros").over(wb) / F.sum("c").over(wb).cast("double")
    ratio = (ma - mb) / mb
    return (
        daily.select(
            "event_type",
            "day_num",
            "s_micros",
            "c",
            F.row_number().over(w).alias("rn"),
            ratio.alias("_ratio"),
        )
        .filter(F.col("rn") >= 14)
        .select(
            "event_type",
            "day_num",
            F.round(
                (F.col("s_micros") / F.col("c").cast("double")) / 1e6
                + F.lit(1e-9),
                4,
            ).alias("daily_mean"),
            F.round(F.col("_ratio") + F.lit(1e-9), 4).alias("shift_ratio"),
            (F.abs("_ratio") > 0.2).alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average over irregular series
# ---------------------------------------------------------------------------

@register(
    "time_weighted_avg",
    """
WITH seq AS (
  SELECT event_type,
         floor(value * 1000000 + 0.5)::BIGINT AS v_micros,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS t_next
  FROM events
)
SELECT event_type,
       round((sum(v_micros * (t_next - t))::DOUBLE
              / sum(t_next - t)::DOUBLE) / 1e6 + 1e-9, 6) AS twa,
       round(avg(v_micros) / 1e6 + 1e-9, 6) AS plain_avg,
       floor(sum(t_next - t) / 1000000.0)::BIGINT AS span_s,
       count(*)::BIGINT AS n_intervals
FROM seq WHERE t_next IS NOT NULL
GROUP BY event_type
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: time-weighted average of an irregularly-sampled
    series per event type — each observation weighted by its holding
    interval to the next observation (the standard last-observation-
    carried-forward integral ÷ span), beside the plain mean it
    corrects. The gap between the two is the sampling-bias signal.

    Scale shape: ONE partitioned lead() window (ordered by ts with
    event_id tiebreak — a total order, so ranks reproduce), then a
    keyed hash agg. Values fold to integer micros and intervals to
    integer microseconds before multiplying, so the weighted sum is
    exact integer arithmetic — associative, bit-equal to the oracle
    (sums stay within int64 through sf0.1 by ~10³ headroom; the
    overflow-proof DECIMAL(38) spelling is noted for larger sf)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("v_micros"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    return seq.groupBy("event_type").agg(
        F.round(
            (
                F.sum((F.col("v_micros") * dt).cast("decimal(38,0)")).cast("double")
                / F.sum(dt).cast("double")
            )
            / 1e6
            + F.lit(1e-9),
            6,
        ).alias("twa"),
        F.round(F.avg("v_micros") / 1e6 + F.lit(1e-9), 6).alias("plain_avg"),
        F.floor(F.sum(dt) / 1000000.0).cast("bigint").alias("span_s"),
        F.count("*").alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# SAX symbolization
# ---------------------------------------------------------------------------

_SAX_W = 8  # PAA segments per series


def _sax_sql() -> str:
    """Oracle with the 8-element mean/var folded in EXPLICIT textual
    order (l[1]+l[2]+...) — float addition is non-associative, so
    both engines must add in the same order; 8 fixed segments make
    the unrolled spelling practical."""
    mean = " + ".join(f"l[{i}]" for i in range(1, _SAX_W + 1))
    var = " + ".join(f"pow(l[{i}] - mu, 2)" for i in range(1, _SAX_W + 1))
    sym = ", ".join(
        f"CASE WHEN sigma = 0 THEN 'b' WHEN (l[{i}] - mu) / sigma < -0.6745 THEN 'a' "
        f"WHEN (l[{i}] - mu) / sigma < 0 THEN 'b' "
        f"WHEN (l[{i}] - mu) / sigma < 0.6745 THEN 'c' ELSE 'd' END"
        for i in range(1, _SAX_W + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type,
         floor(epoch(ts) / 86400)::BIGINT AS day_num,
         sum(floor(value * 1000000 + 0.5)::BIGINT)::BIGINT AS s,
         count(*)::BIGINT AS c
  FROM events GROUP BY event_type, day_num
), idx AS (
  SELECT event_type, s, c,
         row_number() OVER (PARTITION BY event_type ORDER BY day_num) - 1 AS i,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM daily
), seg AS (
  SELECT event_type, floor(i * {_SAX_W} / nd)::INT AS seg,
         sum(s)::BIGINT AS ss, sum(c)::BIGINT AS sc
  FROM idx GROUP BY event_type, floor(i * {_SAX_W} / nd)::INT
), lists AS (
  SELECT event_type,
         list(ss / sc::DOUBLE ORDER BY seg) AS l
  FROM seg GROUP BY event_type
), stats AS (
  SELECT event_type, l, ({mean}) / {_SAX_W}.0 AS mu FROM lists
), stats2 AS (
  SELECT event_type, l, mu, sqrt(({var}) / {_SAX_W}.0) AS sigma FROM stats
)
SELECT event_type,
       concat({sym}) AS sax,
       round(mu / 1e6 + 1e-9, 4) AS mu,
       round(sigma / 1e6 + 1e-9, 4) AS sigma
FROM stats2
"""


@register("sax_symbolize", _sax_sql())
def q_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: SAX (Symbolic Aggregate approXimation, Lin et al.
    2003) of each event type's daily series — PAA-compress to 8
    segments, z-normalize, map to a 4-symbol alphabet at the
    standard N(0,1) breakpoints (−0.6745, 0, 0.6745). The symbolic
    words feed motif mining / cheap series clustering.

    Scale shape: day-grain hash agg first (integer micro-sums), so
    the PAA runs over calendar-bounded rows; per-type segment means
    come from exact integer sums; the 8-element mean/variance folds
    in EXPLICIT left-to-right order on both engines (see _sax_sql) —
    the one place a built-in avg() would be non-deterministic across
    engines. Output is n_types rows."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).alias("day_num"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("micros"),
        )
        .groupBy("event_type", "day_num")
        .agg(F.sum("micros").alias("s"), F.count("*").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("day_num")
    idx = daily.select(
        "event_type",
        "s",
        "c",
        (F.row_number().over(w) - 1).alias("i"),
        F.count("*").over(Window.partitionBy("event_type")).alias("nd"),
    )
    seg = (
        idx.select(
            "event_type",
            F.floor(F.col("i") * _SAX_W / F.col("nd")).cast("int").alias("seg"),
            "s",
            "c",
        )
        .groupBy("event_type", "seg")
        .agg(F.sum("s").alias("ss"), F.sum("c").alias("sc"))
    )
    lists = seg.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("seg", "ss", "sc"))
            ),
            lambda st: st["ss"] / st["sc"].cast("double"),
        ).alias("l")
    )
    l = F.col("l")
    mean_expr = None
    for i in range(1, _SAX_W + 1):
        t = F.element_at(l, i)
        mean_expr = t if mean_expr is None else mean_expr + t
    mu = (mean_expr / float(_SAX_W)).alias("mu")
    with_mu = lists.select("event_type", "l", mu)
    var_expr = None
    for i in range(1, _SAX_W + 1):
        t = F.pow(F.element_at(F.col("l"), i) - F.col("mu"), 2)
        var_expr = t if var_expr is None else var_expr + t
    with_sigma = with_mu.select(
        "event_type", "l", "mu", F.sqrt(var_expr / float(_SAX_W)).alias("sigma")
    )

    def sym(i):
        z = (F.element_at(F.col("l"), i) - F.col("mu")) / F.col("sigma")
        return (
            F.when(F.col("sigma") == 0, F.lit("b"))
            .when(z < -0.6745, F.lit("a"))
            .when(z < 0, F.lit("b"))
            .when(z < 0.6745, F.lit("c"))
            .otherwise(F.lit("d"))
        )

    eps = F.lit(1e-9)
    return with_sigma.select(
        "event_type",
        F.concat(*[sym(i) for i in range(1, _SAX_W + 1)]).alias("sax"),
        F.round(F.col("mu") / 1e6 + eps, 4).alias("mu"),
        F.round(F.col("sigma") / 1e6 + eps, 4).alias("sigma"),
    )


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
# Functional-dependency data-quality checks
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),
    ("customer", "c_custkey", "c_nationkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("documents", "source", "lang"),
    ("part", "p_brand", "p_type"),
]


def _fd_sql() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(
            f"""
SELECT '{tbl}.{lhs}->{rhs}' AS fd,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs FROM {tbl} GROUP BY {lhs})"""
        )
    return "\nUNION ALL\n".join(parts)


@register("fd_check", _fd_sql())
def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/DQ [EXT]: functional-dependency verification — for each
    candidate FD X→Y, the number of X keys mapping to more than one
    distinct Y (0 violating keys = the dependency holds). The
    schema-inference / data-contract check a pipeline runs before
    trusting a column as a join key or partition label; the candidate
    list deliberately mixes true FDs (order→customer, key→nation)
    with expected violations (order→returnflag, source→lang,
    brand→type) so both verdicts carry driver signal.

    Scale shape: per FD one two-phase countDistinct hash agg keyed on
    X, reduced to a single summary row — the union is n_candidates
    rows. Each agg is independently map-side combined; nothing joins
    anything fact-sized."""
    out = None
    for tbl, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        per_key = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        viol = F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
        row = per_key.agg(
            F.lit(f"{tbl}.{lhs}->{rhs}").alias("fd"),
            F.count("*").alias("n_keys"),
            viol.cast("bigint").alias("n_violating"),
            (viol == 0).alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Weighted median (value-grain cumulative weights, no fact-sized sort)
# ---------------------------------------------------------------------------

@register(
    "weighted_median",
    """
WITH grain AS (
  SELECT l_returnflag,
         floor(l_extendedprice * 100 + 0.5)::BIGINT AS cents,
         sum(floor(l_quantity + 0.5)::BIGINT)::BIGINT AS w
  FROM lineitem GROUP BY l_returnflag, cents
), cum AS (
  SELECT l_returnflag, cents, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cw,
         sum(w) OVER (PARTITION BY l_returnflag)::BIGINT AS tw
  FROM grain
)
SELECT l_returnflag,
       min(cents)::BIGINT AS median_cents,
       max(tw)::BIGINT AS total_weight
FROM cum WHERE 2 * cw >= tw
GROUP BY l_returnflag
""",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: exact quantity-weighted median price per return flag
    — the smallest price whose cumulative quantity weight reaches half
    the group total (the weighted generalization of the median that
    percentile() can't express).

    Scale shape: collapse to the (flag, price-cents) VALUE grain
    first — one map-side-combined hash agg, so the cumulative-weight
    window runs over distinct values per group, not fact rows. All
    weights are exact integers; the window partitions by flag."""
    li = load_table(spark, sf_dir, "lineitem")
    grain = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("bigint")
            .alias("w0"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("w0").alias("w"))
    )
    wp = Window.partitionBy("l_returnflag")
    wc = wp.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grain.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wp).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("median_cents"),
            F.max("tw").alias("total_weight"),
        )
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


# ---------------------------------------------------------------------------
# Consecutive-day activity streaks (gaps-and-islands)
# ---------------------------------------------------------------------------

@register(
    "user_streaks",
    """
WITH d AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', ts::DATE) AS day
  FROM events
), r AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS island
  FROM d
), i AS (
  SELECT user_id, island, count(*)::BIGINT AS streak
  FROM r GROUP BY user_id, island
)
SELECT user_id, sum(streak)::BIGINT AS active_days,
       count(*)::BIGINT AS n_streaks, max(streak)::BIGINT AS max_streak
FROM i GROUP BY user_id
""",
)
def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A4 [EXT]: per-user consecutive-day activity streaks — the
    classic gaps-and-islands decomposition (day − row_number over the
    user's distinct active days is constant within a run, so one
    integer subtraction turns runs into group keys; no self-join, no
    lag-chain). Reports total active days, number of distinct
    streaks, and the longest streak per user — the engagement shape
    a retention pipeline derives before cohorting.

    Scale shape: distinct (user, day) dedup, then every window and
    agg is partitioned BY user_id — the same shuffle key reused
    end-to-end (one exchange; islands and per-user finalize are
    map-side within it). No unpartitioned window anywhere."""
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    i = (
        d.withColumn("island", F.col("day") - F.row_number().over(w))
        .groupBy("user_id", "island")
        .agg(F.count("*").cast("bigint").alias("streak"))
    )
    return i.groupBy("user_id").agg(
        F.sum("streak").cast("bigint").alias("active_days"),
        F.count("*").cast("bigint").alias("n_streaks"),
        F.max("streak").cast("bigint").alias("max_streak"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) of orders: price vs recency
# ---------------------------------------------------------------------------

@register(
    "pareto_frontier",
    """
WITH o AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS day,
         round(o_totalprice * 100)::BIGINT AS cents
  FROM orders
), d AS (
  SELECT day, max(cents) AS day_max FROM o GROUP BY day
), s AS (
  SELECT day,
         max(day_max) OVER (ORDER BY day DESC
                            ROWS UNBOUNDED PRECEDING) AS suf_max
  FROM d
)
SELECT o.o_orderkey, o.day, o.cents
FROM o JOIN s ON o.day = s.day
WHERE o.cents = s.suf_max
""",
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J4 [EXT]: 2-D skyline (Pareto frontier) of orders under
    (price max, recency max) — an order is on the frontier iff its
    price equals the maximum over all orders of its day or later,
    i.e. nothing at-least-as-recent strictly beats it on price (ties
    kept, the standard skyline-with-ties convention). The classic
    one-sorted-scan skyline collapses to: day-grain max (bounded),
    a suffix running max over the ~2.5k-day summary, and one
    broadcast join back to the fact — never a fact-sized sort or a
    quadratic dominance self-join (Borzsony et al., ICDE 2001 BNL is
    the anti-pattern this replaces).

    Scale shape: fact -> day-grain agg (map-side combined); the only
    unpartitioned window covers the bounded day summary; frontier
    membership via broadcast equi-join + filter on the fact scan."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "day"
        ),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    d = o.groupBy("day").agg(F.max("cents").alias("day_max"))
    w = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = d.select("day", F.max("day_max").over(w).alias("suf_max"))
    return (
        o.join(F.broadcast(s), "day")
        .filter(F.col("cents") == F.col("suf_max"))
        .select("o_orderkey", "day", "cents")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend estimator (daily revenue)
# ---------------------------------------------------------------------------

@register(
    "theil_sen_trend",
    """
WITH g AS (
  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), p AS (
  SELECT (b.rev - a.rev)::DOUBLE / (b.day - a.day) AS slope
  FROM g a JOIN g b ON b.day > a.day
), m AS (
  SELECT count(*)::BIGINT AS n_pairs,
         quantile_cont(slope, 0.5) AS slope_med
  FROM p
)
SELECT (SELECT count(*)::BIGINT FROM g) AS n_days,
       m.n_pairs,
       round(m.slope_med + 1e-9, 6) AS slope_cents_per_day,
       round((SELECT quantile_cont(g.rev - m.slope_med * g.day, 0.5)
              FROM g) + 1e-9, 2) AS intercept_cents
FROM m
""",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: Theil-Sen robust trend of daily revenue — the
    median of all pairwise day-grain slopes (Theil 1950; Sen 1968),
    with the classic median-residual intercept. Robust to the outlier
    days that wreck OLS (up to ~29% contamination), which is why it
    is the standard trend screen for corpus-growth and revenue
    monitoring. Slopes are exact per pair (integer-cents difference /
    integer day gap); the median uses quantile_cont interpolation on
    both engines.

    Scale shape: the fact collapses to the DAY grain first, so the
    pair space is CALENDAR-bounded (days^2 — ~2.9M pairs for 7 years,
    INDEPENDENT of fact rows; coarsen to week grain for decade-plus
    calendars). The pair build is a broadcast self-pairing of the
    bounded day summary; the slope median runs the bucket-histogram
    exact selection (operators/percentiles.global_median_exact):
    min/max pin, a 65536-bucket histogram with exact cumulative
    ranks, then ranking ONLY the 1-2 target buckets' value grain —
    never a full-input sort or a raw-value agg buffer (a full global
    rank of the pair space measured 7-13 s at sf0.1; the r10 GK-
    sketch bracket ~4 s; this plan ~1 s); the intercept median
    buffers only the day grain."""
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED
    from resume_jd_matcher_spark.operators.percentiles import (
        global_median_exact,
    )

    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "day"
            )
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
        # calendar-bounded (~2.5k rows); checkpointed so the pair
        # build, the totals, and the finalize don't each re-scan and
        # re-aggregate the orders fact (the heaps_law lesson)
        .localCheckpoint()
    )
    b = g.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    pairs = (
        g.crossJoin(F.broadcast(b))
        .filter(F.col("day_b") > F.col("day"))
        .select(
            (
                (F.col("rev_b") - F.col("rev")).cast("double")
                / (F.col("day_b") - F.col("day"))
            ).alias("slope")
        )
        # the median's two passes (sketch, then bracket slice + count
        # below) would each re-run the pair build without the cache
        .persist()
    )
    m = global_median_exact(pairs, "slope").persist()
    n_pairs = m.select(F.col("n").alias("n_pairs"))
    resid = g.crossJoin(F.broadcast(m.select("med"))).select(
        (F.col("rev") - F.col("med") * F.col("day")).alias("r")
    )
    stats = g.agg(F.count("*").cast("bigint").alias("n_days"))
    out = (
        stats.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(m.select("med")))
        .crossJoin(
            F.broadcast(
                resid.agg(F.percentile("r", F.lit(0.5)).alias("ic"))
            )
        )
        .select(
            "n_days",
            "n_pairs",
            F.round(F.col("med") + F.lit(1e-9), 6).alias(
                "slope_cents_per_day"
            ),
            F.round(F.col("ic") + F.lit(1e-9), 2).alias("intercept_cents"),
        )
    )
    # The pair-space and median caches are enrolled in the engine-
    # wide ledger (released by the sweep hooks after the action); the
    # lazy persists keep the subplan visible to the plan audits.
    _PERSISTED.append(pairs)
    _PERSISTED.append(m)
    return out


# ---------------------------------------------------------------------------
# Mann-Kendall monotone-trend test (daily revenue)
# ---------------------------------------------------------------------------

@register(
    "mann_kendall",
    """
WITH g AS (
  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), s AS (
  SELECT sum(CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END)::BIGINT AS s_stat
  FROM g a JOIN g b ON b.day > a.day
), n AS (
  SELECT count(*)::BIGINT AS n_days FROM g
), ties AS (
  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS tie_term
  FROM (SELECT count(*)::BIGINT AS t FROM g GROUP BY rev HAVING count(*) > 1)
), v AS (
  SELECT n.n_days, s.s_stat,
         (n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_term)
           / 18.0 AS var_s
  FROM n, s, ties
)
SELECT n_days, s_stat, round(var_s + 1e-9, 2) AS var_s,
       round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(nullif(var_s, 0.0))
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(nullif(var_s, 0.0))
                  ELSE 0.0 END + 1e-9, 4) AS z,
       CASE WHEN coalesce((CASE WHEN s_stat > 0 THEN (s_stat - 1.0)
                                WHEN s_stat < 0 THEN (s_stat + 1.0)
                                ELSE 0.0 END) / nullif(sqrt(var_s), 0.0),
                          0.0) > 1.96 THEN 'increasing'
            WHEN coalesce((CASE WHEN s_stat > 0 THEN (s_stat - 1.0)
                                WHEN s_stat < 0 THEN (s_stat + 1.0)
                                ELSE 0.0 END) / nullif(sqrt(var_s), 0.0),
                          0.0) < -1.96 THEN 'decreasing'
            ELSE 'no-trend' END AS trend
FROM v
""",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: Mann-Kendall monotone-trend test on daily revenue
    (Mann 1945; Kendall 1975) — S = sum of sign(rev_j - rev_i) over
    all day pairs i<j, normal approximation with the standard tie
    correction sum t(t-1)(2t+5) and continuity correction. The
    nonparametric companion to theil_sen_trend: S's sign tests the
    trend the Theil-Sen slope estimates. All-integer S and variance
    terms, so both engines agree exactly before the final division.

    Scale shape: identical to theil_sen_trend — day-grain collapse
    first, then a calendar-bounded broadcast self-pairing (days^2
    pairs, independent of fact rows); the tie census is one more
    day-grain hash agg. var_s ~ n^3/18 fits a BIGINT numerator up to
    ~100k days (274 years of daily grain)."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "day"
            )
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
        # calendar-bounded (~2.5k rows); checkpointed so the pair
        # build, the totals, and the finalize don't each re-scan and
        # re-aggregate the orders fact (the heaps_law lesson)
        .localCheckpoint()
    )
    b = g.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    s = (
        g.crossJoin(F.broadcast(b))
        .filter(F.col("day_b") > F.col("day"))
        .agg(
            F.sum(
                F.when(F.col("rev_b") > F.col("rev"), 1)
                .when(F.col("rev_b") < F.col("rev"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = g.agg(F.count("*").cast("bigint").alias("n_days"))
    ties = (
        g.groupBy("rev")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    v = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "s_stat",
            (
                (
                    F.col("n_days")
                    * (F.col("n_days") - 1)
                    * (2 * F.col("n_days") + 5)
                    - F.col("tie_term")
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    zc = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0.0))
        .cast("double")
    )
    z_raw = zc / F.sqrt(F.nullif(F.col("var_s"), F.lit(0.0)))
    return v.select(
        "n_days",
        "s_stat",
        F.round(F.col("var_s") + F.lit(1e-9), 2).alias("var_s"),
        # mirrors the oracle CASE exactly: s_stat NULL (no pairs) or 0
        # falls to the ELSE 0.0 branch — putting the division in an
        # otherwise() would instead yield NULL on the degenerate
        # single-day input and diverge from the SQL.
        F.round(
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1)
                / F.sqrt(F.nullif(F.col("var_s"), F.lit(0.0))),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1)
                / F.sqrt(F.nullif(F.col("var_s"), F.lit(0.0))),
            )
            .otherwise(F.lit(0.0))
            + F.lit(1e-9),
            4,
        ).alias("z"),
        F.when(F.coalesce(z_raw, F.lit(0.0)) > 1.96, F.lit("increasing"))
        .when(F.coalesce(z_raw, F.lit(0.0)) < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no-trend"))
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint locator (daily revenue)
# ---------------------------------------------------------------------------

@register(
    "cusum_changepoint",
    """
WITH g AS (
  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), t AS (
  SELECT sum(rev)::HUGEINT AS tot, count(*)::BIGINT AS n FROM g
), c AS (
  SELECT g.day, t.n,
         sum(g.rev::HUGEINT * t.n - t.tot)
           OVER (ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cs
  FROM g CROSS JOIN t
), r AS (
  SELECT day, n, cs,
         row_number() OVER (ORDER BY abs(cs) DESC, day ASC) AS rk
  FROM c
)
SELECT n AS n_days,
       day AS cp_day_num,
       strftime((DATE '1970-01-01' + to_days(day::INTEGER)), '%Y-%m-%d')
         AS cp_day,
       round(cs::DOUBLE / n + 1e-9, 2) AS cusum_cents
FROM r WHERE rk = 1
""",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 [EXT]: offline CUSUM changepoint locator on daily revenue
    (Page 1954; Taylor's cumulative-sum charts) — the day k maximizing
    |sum_{i<=k}(x_i - mean)| is the maximum-likelihood single
    changepoint under a mean-shift model. Deviations are kept EXACT by
    scaling: cs_k = sum(n*x_i - total) is an integer (accumulated in
    decimal/HUGEINT — n*x overflows int64 around sf>=100), so the
    argmax and its tie-break (earliest day) are bit-deterministic on
    both engines; the reported cusum is cs/n in cents.

    Scale shape: fact -> day grain (map-side combined), one 1-row
    totals broadcast, then the only window runs over the bounded
    calendar summary (the forecast_backtest/level_shift pattern);
    argmax via one more bounded window. Never fact-sized state."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "day"
            )
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
        # day grain checkpointed: totals + cusum window would
        # otherwise each re-scan the fact
        .localCheckpoint()
    )
    t = g.agg(
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("tot"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.crossJoin(F.broadcast(t)).select(
        "day",
        "n",
        F.sum(
            F.col("rev").cast("decimal(38,0)") * F.col("n") - F.col("tot")
        )
        .over(w)
        .alias("cs"),
    )
    r = c.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("cs")).desc(), F.col("day").asc())
        ),
    ).filter(F.col("rk") == 1)
    return r.select(
        F.col("n").alias("n_days"),
        F.col("day").alias("cp_day_num"),
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("day")),
            "yyyy-MM-dd",
        ).alias("cp_day"),
        F.round(
            F.col("cs").cast("double") / F.col("n") + F.lit(1e-9), 2
        ).alias("cusum_cents"),
    )


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------

@register(
    "stl_decompose",
    """
WITH o AS (
  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), g AS (
  SELECT min(day) AS lo, max(day) AS hi FROM o
), cal AS (
  SELECT unnest(generate_series(g.lo, g.hi)) AS day FROM g
), d AS (
  SELECT cal.day, coalesce(o.rev, 0)::BIGINT AS rev
  FROM cal LEFT JOIN o ON o.day = cal.day
), w AS (
  SELECT day, rev,
         row_number() OVER (ORDER BY day) AS rn,
         count(*) OVER () AS n_cal,
         sum(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                        AND 3 FOLLOWING) AS s7
  FROM d
), dt AS (
  SELECT day % 7 AS dow, 7 * rev - s7 AS detr7
  FROM w WHERE rn >= 4 AND rn <= n_cal - 3
), tot AS (
  SELECT sum(detr7)::HUGEINT AS s_all, count(*)::BIGINT AS n_all FROM dt
), se AS (
  SELECT dow, count(*)::BIGINT AS n_days,
         sum(detr7)::HUGEINT AS s_dow
  FROM dt GROUP BY dow
), sj AS (
  SELECT se.dow, se.n_days,
         se.s_dow::DOUBLE / (7.0 * se.n_days)
           - tot.s_all::DOUBLE / (7.0 * tot.n_all) AS seasonal
  FROM se CROSS JOIN tot
)
SELECT sj.dow::INT AS dow, sj.n_days,
       round(sj.seasonal + 1e-9, 2) AS seasonal_cents,
       round(sqrt(avg(power(dt.detr7 / 7.0
                            - tot.s_all::DOUBLE / (7.0 * tot.n_all)
                            - sj.seasonal, 2))) + 1e-9, 2) AS resid_rms
FROM dt JOIN sj ON sj.dow = dt.dow CROSS JOIN tot
GROUP BY sj.dow, sj.n_days, sj.seasonal
ORDER BY dow
""",
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: classical additive seasonal decomposition of daily
    revenue with a weekly period (the moving-average decomposition
    underlying STL, Cleveland et al. 1990 — the LOESS refinement needs
    iterative local regression; the classical pass is the SQL-shaped
    standard): trend = centered 7-day MA on the CALENDAR-FILLED day
    grain, seasonal = per-day-of-week mean of the detrended series
    re-centered to sum ~0, residual RMS per dow measures what the
    weekly model leaves unexplained. Detrending is kept in exact
    scaled integers (detr7 = 7*rev - window_sum, HUGEINT/decimal
    sums), so seasonal indices derive from integer sums on both
    engines; dow = day % 7 (0 = Thursday), the engine-portable
    weekday. Edge days without a full 7-day window are excluded
    (standard for the centered MA).

    Scale shape: fact -> day grain, calendar fill via sequence +
    left join, every window over the bounded calendar summary; the
    seasonal/total joins are 7-row/1-row broadcasts back onto the
    day grain. Never fact-sized state."""
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "day"
            )
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
        # day grain checkpointed: the calendar bounds and the fill
        # join would otherwise each re-scan the fact
        .localCheckpoint()
    )
    bounds = o.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    d = cal.join(o, "day", "left").select(
        "day", F.coalesce("rev", F.lit(0)).cast("bigint").alias("rev")
    )
    wd = Window.orderBy("day")
    w7 = wd.rowsBetween(-3, 3)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = d.select(
        "day",
        "rev",
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(wall).alias("n_cal"),
        F.sum("rev").over(w7).alias("s7"),
    )
    dt = w.filter(
        (F.col("rn") >= 4) & (F.col("rn") <= F.col("n_cal") - 3)
    ).select(
        (F.col("day") % 7).alias("dow"),
        (7 * F.col("rev") - F.col("s7")).cast("decimal(38,0)").alias(
            "detr7"
        ),
    )
    tot = dt.agg(
        F.sum("detr7").alias("s_all"),
        F.count("*").cast("bigint").alias("n_all"),
    )
    se = dt.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("detr7").alias("s_dow"),
    )
    sj = se.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        (
            F.col("s_dow").cast("double") / (7.0 * F.col("n_days"))
            - F.col("s_all").cast("double") / (7.0 * F.col("n_all"))
        ).alias("seasonal"),
    )
    resid = (
        dt.join(F.broadcast(sj), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            "seasonal",
            F.pow(
                F.col("detr7").cast("double") / 7.0
                - F.col("s_all").cast("double") / (7.0 * F.col("n_all"))
                - F.col("seasonal"),
                F.lit(2.0),
            ).alias("r2"),
        )
    )
    return (
        resid.groupBy("dow", "n_days", "seasonal")
        .agg(
            F.round(F.sqrt(F.avg("r2")) + F.lit(1e-9), 2).alias("resid_rms")
        )
        .select(
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            F.round(F.col("seasonal") + F.lit(1e-9), 2).alias(
                "seasonal_cents"
            ),
            "resid_rms",
        )
    )


# ---------------------------------------------------------------------------
# Hurst exponent (aggregated-variance method, daily revenue)
# ---------------------------------------------------------------------------

_HURST_BLOCKS = [1, 2, 4, 8, 16]


@register(
    "hurst_exponent",
    f"""
WITH g AS (
  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), m AS (
  SELECT unnest(ARRAY{_HURST_BLOCKS}) AS m
), blk AS (
  SELECT m.m, g.day // m.m AS blk,
         count(*)::BIGINT AS c, sum(g.rev)::BIGINT AS s
  FROM g CROSS JOIN m GROUP BY m.m, g.day // m.m
), bm AS (
  SELECT m, s / (c::DOUBLE) AS bmean FROM blk WHERE c = m
), v AS (
  SELECT m, count(*)::BIGINT AS n_blocks,
         avg(bmean * bmean) - avg(bmean) * avg(bmean) AS var_m
  FROM bm GROUP BY m
  HAVING count(*) >= 2
     AND avg(bmean * bmean) - avg(bmean) * avg(bmean) > 0
)
SELECT (SELECT count(*)::BIGINT FROM v) AS n_scales,
       round(regr_slope(ln(var_m), ln(m::DOUBLE)) / 2.0 + 1.0 + 1e-9, 4)
         AS hurst,
       round(regr_r2(ln(var_m), ln(m::DOUBLE)) + 1e-9, 4) AS r2
FROM v
""",
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: Hurst exponent of the daily-revenue series by the
    aggregated-variance method (Beran 1994; Taqqu et al. 1995): block
    the series at sizes m = {_HURST_BLOCKS}, compute the variance of
    the full-block means, and fit ln Var(m) ~ ln m — slope = 2H - 2.
    H ~ 0.5 is short-memory noise; H -> 1 flags long-range dependence
    (trend/seasonal structure a forecast must model); H < 0.5,
    anti-persistence. Block means derive from exact integer sums, and
    partial trailing blocks are excluded (c = m) so both engines see
    identical block sets.

    Scale shape: fact -> day grain, then ONE hash agg over
    day-grain x |blocks| rows (calendar-bounded), a |blocks|-row
    variance table, and a 1-row OLS — no window at all."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "day"
            )
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
    )
    m = F.explode(
        F.array(*[F.lit(v) for v in _HURST_BLOCKS])
    ).alias("m")
    blk = (
        g.select("day", "rev", m)
        .groupBy("m", F.floor(F.col("day") / F.col("m")).alias("blk"))
        .agg(
            F.count("*").cast("bigint").alias("c"),
            F.sum("rev").cast("bigint").alias("s"),
        )
    )
    bm = blk.filter(F.col("c") == F.col("m")).select(
        "m", (F.col("s") / F.col("c").cast("double")).alias("bmean")
    )
    v = (
        bm.groupBy("m")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            (
                F.avg(F.col("bmean") * F.col("bmean"))
                - F.avg("bmean") * F.avg("bmean")
            ).alias("var_m"),
        )
        # var 0 (constant series) or a tiny negative from float
        # cancellation would hit ln(<=0): Spark's log returns NULL
        # but DuckDB errors — filter the scale out on BOTH sides.
        .filter((F.col("n_blocks") >= 2) & (F.col("var_m") > 0))
    )
    lx = F.log(F.col("m").cast("double"))
    ly = F.log(F.col("var_m"))
    return v.agg(
        F.count("*").cast("bigint").alias("n_scales"),
        F.round(
            F.regr_slope(ly, lx) / 2.0 + 1.0 + F.lit(1e-9), 4
        ).alias("hurst"),
        F.round(F.regr_r2(ly, lx) + F.lit(1e-9), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Cramér's V association strength (effect size for chi-squared)
# ---------------------------------------------------------------------------

@register(
    "cramers_v",
    """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS obs
  FROM customer GROUP BY c_nationkey, c_mktsegment
), dims AS (
  SELECT n.c_nationkey, s.c_mktsegment
  FROM (SELECT DISTINCT c_nationkey FROM customer) n
  CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) s
), full_cells AS (
  SELECT d.c_nationkey, d.c_mktsegment, coalesce(c.obs, 0)::BIGINT AS obs
  FROM dims d LEFT JOIN cells c USING (c_nationkey, c_mktsegment)
), rt AS (SELECT c_nationkey, sum(obs)::BIGINT AS r
          FROM full_cells GROUP BY c_nationkey),
ct AS (SELECT c_mktsegment, sum(obs)::BIGINT AS c
       FROM full_cells GROUP BY c_mktsegment),
n AS (SELECT sum(obs)::BIGINT AS total FROM full_cells),
agg AS (
  SELECT sum(pow(f.obs - rt.r * ct.c / n.total::DOUBLE, 2)
             / (rt.r * ct.c / n.total::DOUBLE)) AS chi2,
         count(DISTINCT f.c_nationkey)::BIGINT AS n_rows_dim,
         count(DISTINCT f.c_mktsegment)::BIGINT AS n_cols_dim,
         max(n.total)::BIGINT AS n
  FROM full_cells f
  JOIN rt USING (c_nationkey) JOIN ct USING (c_mktsegment) CROSS JOIN n
)
SELECT round(chi2 + 1e-9, 4) AS chi2, n_rows_dim, n_cols_dim, n,
       round(sqrt(chi2 / nullif(n * (least(n_rows_dim, n_cols_dim) - 1),
                                0)::DOUBLE) + 1e-9, 4) AS cramers_v
FROM agg
""",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: Cramér's V association strength between customer
    nation and market segment — the [0, 1] effect size
    sqrt(chi2 / (n * (min(r, c) - 1))) that chi2_independence's raw
    statistic lacks (chi² grows with n, V does not; Cramér 1946).
    V ~ 0 means the segment mix is homogeneous across nations — the
    go/no-go number for stratified sampling designs. Zero cells
    completed exactly as in chi2_independence; nullif guards the
    single-level degenerate case (min(r,c) = 1).

    Scale shape: one (nation, segment) hash agg over the fact, then
    dimension-bounded frames with broadcast joins only — the
    chi2_independence plan plus a scalar finalize."""
    c = load_table(spark, sf_dir, "customer")
    # single customer scan: dims derive from the checkpointed cell agg
    # (see q_chi2_independence — identical fold).
    cells = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("obs"))
        .localCheckpoint()
    )
    nats = cells.select("c_nationkey").distinct()
    segs = cells.select("c_mktsegment").distinct()
    full = (
        nats.crossJoin(segs)
        .join(F.broadcast(cells), ["c_nationkey", "c_mktsegment"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.coalesce("obs", F.lit(0)).cast("bigint").alias("obs"),
        )
    )
    rt = full.groupBy("c_nationkey").agg(F.sum("obs").alias("r"))
    ct = full.groupBy("c_mktsegment").agg(F.sum("obs").alias("c"))
    n = full.agg(F.sum("obs").alias("total"))
    exp = F.col("r") * F.col("c") / F.col("total").cast("double")
    agg = (
        full.join(F.broadcast(rt), "c_nationkey")
        .join(F.broadcast(ct), "c_mktsegment")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2"),
            F.countDistinct("c_nationkey")
            .cast("bigint")
            .alias("n_rows_dim"),
            F.countDistinct("c_mktsegment")
            .cast("bigint")
            .alias("n_cols_dim"),
            F.max("total").cast("bigint").alias("n"),
        )
    )
    return agg.select(
        F.round(F.col("chi2") + F.lit(1e-9), 4).alias("chi2"),
        "n_rows_dim",
        "n_cols_dim",
        "n",
        F.round(
            F.sqrt(
                F.col("chi2")
                / F.nullif(
                    (
                        F.col("n")
                        * (
                            F.least(
                                F.col("n_rows_dim"), F.col("n_cols_dim")
                            )
                            - 1
                        )
                    ).cast("double"),
                    F.lit(0.0),
                )
            )
            + F.lit(1e-9),
            4,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Robust daily anomaly screen (median / MAD)
# ---------------------------------------------------------------------------


@register(
    "anomaly_mad_daily",
    """
WITH g AS (
  SELECT o_orderdate::DATE AS day,
         sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
  FROM orders GROUP BY 1
), med AS (
  SELECT quantile_cont(rev, 0.5) AS m FROM g
), mad AS (
  SELECT quantile_cont(abs(rev - med.m), 0.5) AS mad FROM g CROSS JOIN med
), rz AS (
  SELECT day, rev,
         round(0.6745 * (rev - med.m) / nullif(mad.mad, 0.0) + 1e-9, 4)
           AS robust_z
  FROM g CROSS JOIN med CROSS JOIN mad
), top AS (
  SELECT day AS top_day, robust_z AS top_rz FROM rz
  ORDER BY abs(robust_z) DESC, day LIMIT 1
)
SELECT count(*)::BIGINT AS n_days,
       round(max(med.m) / 100.0 + 1e-9, 2) AS median_dollars,
       round(max(mad.mad) / 100.0 + 1e-9, 2) AS mad_dollars,
       sum(CASE WHEN abs(robust_z) > 3.5 THEN 1 ELSE 0 END)::BIGINT
         AS n_anomalies,
       max(top.top_rz) AS top_robust_z,
       strftime(max(top.top_day), '%Y-%m-%d') AS top_day
FROM rz CROSS JOIN med CROSS JOIN mad CROSS JOIN top
""",
)
def q_anomaly_mad_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: robust daily-revenue anomaly screen — modified
    z-scores 0.6745·(x − median)/MAD with the Iglewicz-Hoaglin 3.5
    cut (the robust twin of a mean/std window: one
    bad day inflates a stddev and masks itself; the median/MAD pair
    has a 50% breakdown point). Emits a 1-row summary (always
    non-vacuous): day count, median, MAD, anomaly count, and the
    most extreme day with a deterministic (|z| desc, day) tie-break.

    Scale shape: fact -> day grain (one hash agg); median and MAD
    are interpolated percentiles over the CALENDAR-bounded day grain
    (thousands of rows at any sf — never the fact); two 1-row
    broadcasts back over the day grain; 1-row output."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("rev")
        )
        .localCheckpoint()  # calendar-bounded; feeds med, mad, rz
    )
    med = g.agg(F.percentile("rev", F.lit(0.5)).alias("m"))
    mad = (
        g.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(F.abs(F.col("rev") - F.col("m")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    rz = (
        g.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            "rev",
            "m",
            "mad",
            F.round(
                0.6745
                * (F.col("rev") - F.col("m"))
                / F.nullif(F.col("mad"), F.lit(0.0))
                + F.lit(1e-9),
                4,
            ).alias("robust_z"),
        )
        .localCheckpoint()  # day grain; feeds the summary and the top-1
    )
    top = rz.orderBy(F.abs(F.col("robust_z")).desc(), F.col("day")).limit(1)
    return (
        rz.crossJoin(
            F.broadcast(
                top.select(
                    F.col("day").alias("top_day"),
                    F.col("robust_z").alias("top_rz"),
                )
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.max("m") / 100.0 + F.lit(1e-9), 2).alias(
                "median_dollars"
            ),
            F.round(F.max("mad") / 100.0 + F.lit(1e-9), 2).alias(
                "mad_dollars"
            ),
            F.sum(F.when(F.abs(F.col("robust_z")) > 3.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_anomalies"),
            F.max("top_rz").alias("top_robust_z"),
            F.date_format(F.max("top_day"), "yyyy-MM-dd").alias("top_day"),
        )
    )


# ---------------------------------------------------------------------------
# Price elasticity by brand (log-log regression)
# ---------------------------------------------------------------------------


@register(
    "elasticity_by_brand",
    """
WITH li AS (
  SELECT p.p_brand AS brand,
         ln(l.l_quantity) AS ln_q,
         ln(l.l_extendedprice / l.l_quantity) AS ln_p
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
)
SELECT brand, count(*)::BIGINT AS n_lines,
       round(regr_slope(ln_q, ln_p) + 1e-9, 4) AS elasticity,
       round(regr_r2(ln_q, ln_p) + 1e-9, 4) AS r2
FROM li GROUP BY brand
""",
)
def q_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J2 [EXT]: own-price elasticity per brand — the log-log OLS
    slope of quantity on unit price (elasticity = d ln q / d ln p,
    the workhorse demand-curve estimate; cf. any econometrics text,
    e.g. Wooldridge ch. 2's log-log functional form). Slope ~ 0:
    inelastic; << 0: price-sensitive. r2 flags brands where the
    log-linear fit is meaningless. Positive-domain filters guard
    ln() identically on both engines (Spark returns NULL on ln(<=0),
    DuckDB raises — the r8 hurst lesson).

    Scale shape: broadcast dim join (part is the small side), then
    ONE map-side-combined regression-moment hash agg per brand —
    regr_* decomposes like sum/count (the regression_stats scale
    story); |brands| rows out, no window."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_quantity")).alias("ln_q"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ln_p"
            ),
        )
    )
    return j.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.round(F.regr_slope("ln_q", "ln_p") + F.lit(1e-9), 4).alias(
            "elasticity"
        ),
        F.round(F.regr_r2("ln_q", "ln_p") + F.lit(1e-9), 4).alias("r2"),
    )
