"""Round-9 batch 2: incremental maintenance, graph analytics, and
sketch set operations.

The warehouse-side counterpart of the curation family: proving the
incremental path equals the full recompute (view maintenance), CDC
changelog compaction, link prediction and degree correlation on the
purchase graph (Liben-Nowell & Kleinberg 2003; Newman 2002),
theta-style sketch set operations (Dasgupta et al. 2016 /
DataSketches), the LSH parameter planner behind the dedup family's
band configs, and top event paths.

All [EXT] per the north star; same engineering contract as
queries/curation_q (identical aliases, in-query rounding, exact
integer accumulation at decision points, no data-sized unpartitioned
windows)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

# canonical portable-hash SQL spelling (single source: text_q),
# re-keyed from {c} to {x} for readability at the call sites
from resume_jd_matcher_spark.queries.text_q import (  # noqa: E402
    SQL_HASH32 as _SQL_H32_C,
)

_SQL_H32 = _SQL_H32_C.replace("{c}", "{x}")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (merge partials == full recompute)
# ---------------------------------------------------------------------------


@register(
    "incremental_agg_merge",
    """
WITH base AS (
  SELECT o_orderpriority AS prio,
         o_orderdate::DATE AS day,
         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
  FROM orders
), cut AS (
  SELECT max(day) - INTERVAL 7 DAY AS cutoff FROM base
), parts AS (
  SELECT prio, day < cut.cutoff AS is_old,
         count(*)::BIGINT AS n, sum(cents)::BIGINT AS s,
         min(cents) AS mn, max(cents) AS mx
  FROM base CROSS JOIN cut
  GROUP BY prio, is_old
)
SELECT prio,
       sum(n)::BIGINT AS n_orders,
       sum(s)::BIGINT AS rev_cents,
       round(sum(s) / sum(n)::DOUBLE / 100.0 + 1e-9, 2) AS avg_dollars,
       min(mn)::BIGINT AS min_cents,
       max(mx)::BIGINT AS max_cents
FROM parts GROUP BY prio
""",
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: incremental view maintenance — the nightly summary
    table merged with the last-7-days delta using MERGEABLE partial
    aggregates (count/sum/min/max partials; avg derived from the
    merged sum/count, never averaged-of-averages — the classic IVM
    decomposition). The engine computes the OLD partition and the
    DELTA partition as separate partial aggregates and merges them;
    the oracle computes the full aggregate directly — the driver's
    hash equality IS the incremental==full proof, which is the whole
    point of the query.

    Scale shape: at 100 TB the old partials are a stored summary
    table (dimension-bounded) and only the delta scans fresh data;
    here both sides derive in-query for replayability. Two map-side-
    combined hash aggs + a |priorities|-row merge agg; 1-row cutoff
    broadcast."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    cut = base.agg(F.date_sub(F.max("day"), 7).alias("cutoff"))
    tagged = base.crossJoin(F.broadcast(cut))
    # the two partial aggregates an incremental pipeline would hold:
    # the stored OLD summary and the freshly-scanned DELTA summary
    parts = tagged.groupBy(
        "prio", (F.col("day") < F.col("cutoff")).alias("is_old")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    return parts.groupBy("prio").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.sum("s").cast("bigint").alias("rev_cents"),
        F.round(
            F.sum("s") / F.sum("n").cast("double") / 100.0 + F.lit(1e-9), 2
        ).alias("avg_dollars"),
        F.min("mn").cast("bigint").alias("min_cents"),
        F.max("mx").cast("bigint").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# CDC changelog compaction (last-op-wins apply)
# ---------------------------------------------------------------------------


@register(
    "changelog_apply",
    """
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
  FROM orders
), log AS (
  SELECT k, prio, cents, 1 AS seq, 'I' AS op FROM base
  UNION ALL
  SELECT k, prio, (cents * 11) // 10, 2, 'U' FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT k, prio, 0, 3, 'D' FROM base WHERE k % 5 = 0
), latest AS (
  SELECT k, prio, cents, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM log
), state AS (
  SELECT k, prio, cents FROM latest WHERE rn = 1 AND op != 'D'
)
SELECT prio, count(*)::BIGINT AS n_live,
       sum(cents)::BIGINT AS sum_cents,
       sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_updated
FROM state GROUP BY prio
""",
)
def q_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J2 [EXT]: CDC changelog compaction — apply an
    insert/update/delete log to materialize the latest state
    (last-op-wins per key by sequence number, deletes drop the key):
    the Debezium-consumer / Delta-MERGE primitive.
    The changelog derives deterministically from orders (every key
    inserts at seq 1; keys ≡0 mod 3 get a 10% price update at seq 2,
    exact integer DIV; keys ≡0 mod 5 delete at seq 3) so the oracle
    replays the identical log.

    Scale shape: ONE window partitioned BY KEY over ≤3 ops per key
    (partition size bounded by changelog depth, not table size), a
    filter, and a |priorities|-row hash agg. At 100 TB the op log
    shuffles once by key — the same plan Delta's MERGE compaction
    runs."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    log = (
        base.select(
            "k", "prio", "cents", F.lit(1).alias("seq"), F.lit("I").alias("op")
        )
        .unionByName(
            base.filter(F.col("k") % 3 == 0).select(
                "k",
                "prio",
                F.expr("CAST((cents * 11) DIV 10 AS BIGINT)").alias("cents"),
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            base.filter(F.col("k") % 5 == 0).select(
                "k",
                "prio",
                F.lit(0).cast("bigint").alias("cents"),
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
            )
        )
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    state = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return state.groupBy("prio").agg(
        F.count("*").cast("bigint").alias("n_live"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.sum(F.when(F.col("k") % 3 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
    )


# ---------------------------------------------------------------------------
# Link prediction on the co-purchase graph (common neighbors / Jaccard)
# ---------------------------------------------------------------------------

_LP_DF_CAP = 25
_LP_TOP_K = 20


@register(
    "link_prediction_jaccard",
    f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), posting AS (
  SELECT part, count(*)::BIGINT AS pdf FROM e0 GROUP BY part
), e AS (
  SELECT e0.cust, e0.part
  FROM e0 JOIN posting p ON p.part = e0.part AND p.pdf <= {_LP_DF_CAP}
), deg AS (
  SELECT cust, count(*)::BIGINT AS d FROM e GROUP BY cust
), pairs AS (
  SELECT a.cust AS cust_a, b.cust AS cust_b,
         count(*)::BIGINT AS common
  FROM e a
  JOIN e b ON b.part = a.part AND b.cust > a.cust
  GROUP BY cust_a, cust_b
), scored AS (
  SELECT cust_a, cust_b, common,
         round(common / (da.d + db.d - common)::DOUBLE + 1e-9, 4)
           AS jaccard
  FROM pairs
  JOIN deg da ON da.cust = cust_a
  JOIN deg db ON db.cust = cust_b
)
SELECT cust_a, cust_b, common, jaccard
FROM scored
ORDER BY jaccard DESC, common DESC, cust_a, cust_b
LIMIT {_LP_TOP_K}
""",
)
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A4 [EXT]: link prediction on the customer co-purchase
    graph — rank customer pairs by common purchased parts and
    Jaccard overlap of their part sets (Liben-Nowell & Kleinberg
    2003's common-neighbors/Jaccard predictors): high-overlap pairs
    are the "customers like you" edges a recommender would add. The
    similarity UNIVERSE excludes parts bought by more than
    {_LP_DF_CAP} customers — consistently, from the pair build AND
    both degrees — the stop-item filter every co-occurrence
    recommender applies (a ubiquitous item carries no similarity
    signal, the idf rationale), which simultaneously bounds the pair
    space by Σ min(df, cap)² instead of customers². The r9 review
    arc: capping only the numerator understated Jaccard for baskets
    sharing one popular part (inconsistent metric); recounting the
    full intersection per candidate pair was metric-exact but
    measured 74 s at sf0.1 (the verify join explodes by basket
    size); the capped-universe metric is internally consistent AND
    keeps the posting self-join plan — identical baskets score 1.0
    within the universe by construction.

    Cap elbow (r10, measured at sf0.1 where part-df is tight around
    its p50 of 30, p90 37, max 53): cap 40 kept 19,363/20,000 parts
    — no stop-item filtering at all at this data shape — and built
    8.4M pairs (13.3 s); cap 30 → 3.6M; cap 25 → 1.03M pairs over
    ~3,400 parts (4.5 s, the elbow: a 8× pair reduction that still
    keeps a multi-thousand-part universe at sf0.1 and 71 parts /
    16.8k pairs at sf0.001); cap 20 collapses the universe to 710
    parts. 25 is the discriminative-item regime — below the df
    median, where co-purchase actually signals taste similarity.

    Scale shape (r12 posting-list rewrite): ONE groupBy(part)
    collect_set builds each part's buyer basket AND is the
    (cust, part) dedup, so the r10 spelling's separate edge
    distinct, posting census, its broadcast join, and both
    localCheckpoints all disappear; the df cap is just
    size(set) <= cap; candidate pairs are generated EXPRESSION-side
    from each sorted, <=cap-sized buyer array (flatten/transform
    combinatorics — C(cap,2) <= 300 pairs per part, never a
    self-join shuffle) and counted in one hash agg; degrees come
    from re-exploding the same capped baskets and join broadcast
    (|custs| rows); top-k is TakeOrderedAndProject with a full
    deterministic tie-break. Two data-sized shuffles total (basket
    groupBy, pair agg) vs the r10 plan's five plus two checkpoints;
    measured 3.95 -> 2.40 s at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
    )
    # per-part buyer basket in ONE shuffle: collect_set IS the
    # (cust, part) distinct, so no separate edge-dedup pass; the
    # stop-item cap is then just the basket size (set size == part
    # df, bounded by the data shape — max 53 at sf0.1)
    baskets = (
        e0.groupBy("part")
        .agg(F.sort_array(F.collect_set("cust")).alias("cs"))
        .filter(F.size("cs") <= _LP_DF_CAP)
        # AQE coalesces the tiny (<=|parts| rows) basket frame to one
        # partition, which would pin the C(k,2)-per-row pair
        # explosion below to one core; REPARTITION_BY_NUM is exempt
        # from coalescing and the frame is small enough that the
        # round-robin shuffle is free.
        .repartition(spark.sparkContext.defaultParallelism)
        # two consumers (deg + pairs) over a tiny frame
        .persist()
    )
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED

    _PERSISTED.append(baskets)
    deg = (
        baskets.select(F.explode("cs").alias("cust"))
        .groupBy("cust")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    # all C(k,2) ordered pairs per basket, expression-side (sorted
    # input array => cust_a < cust_b by construction)
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(cs, (a, i) -> "
                    "transform(slice(cs, i + 2, size(cs)), "
                    "b -> struct(a AS cust_a, b AS cust_b))))"
                )
            ).alias("p")
        )
        .select("p.cust_a", "p.cust_b")
        .groupBy("cust_a", "cust_b")
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    scored = (
        pairs.join(
            F.broadcast(
                deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("da"))
            ),
            "cust_a",
        )
        .join(
            F.broadcast(
                deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("db"))
            ),
            "cust_b",
        )
        .select(
            "cust_a",
            "cust_b",
            "common",
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double")
                + F.lit(1e-9),
                4,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(),
        F.col("common").desc(),
        F.col("cust_a").asc(),
        F.col("cust_b").asc(),
    ).limit(_LP_TOP_K)


# ---------------------------------------------------------------------------
# Degree assortativity of the part-supplier graph
# ---------------------------------------------------------------------------


@register(
    "degree_assortativity",
    """
WITH e AS (
  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
), dp AS (
  SELECT part, count(*)::BIGINT AS d_part FROM e GROUP BY part
), ds AS (
  SELECT supp, count(*)::BIGINT AS d_supp FROM e GROUP BY supp
)
SELECT count(*)::BIGINT AS n_edges,
       round(avg(d_part) + 1e-9, 4) AS mean_part_degree,
       round(avg(d_supp) + 1e-9, 4) AS mean_supp_degree,
       round(corr(d_part::DOUBLE, d_supp::DOUBLE) + 1e-9, 4)
         AS assortativity
FROM e JOIN dp USING (part) JOIN ds USING (supp)
""",
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A4 [EXT]: degree assortativity of the bipartite
    part-supplier graph — the Pearson correlation of endpoint
    degrees ACROSS EDGES (Newman 2002, generalized to bipartite):
    positive means high-degree parts concentrate on high-degree
    suppliers (hub-hub coupling — a supply-chain fragility signal);
    negative means hubs pair with specialists. The graph-structure
    summary the neardup/PageRank family doesn't cover.

    Scale shape (r10 rewrite — closes the r9 curve's 5.9x-at-10x
    flag): the posting-list formulation replaces the r9
    checkpoint + two edge-sized degree joins. ONE shuffle by part
    builds neighbor sets (collect_set — bounded: a part has
    O(suppliers-per-part) neighbors, 4 in real TPC-H shape),
    d_part = set size; explode + ONE shuffle by supp folds the corr
    moments per supplier, where d_supp = the group count so the
    y-moments are closed forms (Σy = Σ nₑ², Σy² = Σ nₑ³,
    Σxy = Σ nₑ·Σx(supp)); one 1-row finalize. Zero joins, zero
    checkpoints, two shuffles total — official v4 curve
    (SCALE.md): 1.5 s → 4.4 s at 10x, ratio 2.9 vs the r9
    join-plan's 5.9 flag (the rewrite A/B on the v3 corpus measured
    8.6 s → 4.3 s on identical data). Moments accumulate in
    decimal(38,0)
    BEFORE summation (the r8 exact-variance discipline): at 100 TB a
    supplier's degree can reach ~1e7, so nₑ³ ≈ 1e21 overflows bigint
    but sits comfortably in 38 digits; the Pearson ratio is formed
    from exact integers and cast to double only at the end."""
    e = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp"))
    )
    ns = e.groupBy("part").agg(F.collect_set("supp").alias("ns"))
    tagged = ns.select(
        F.size("ns").cast("bigint").alias("d_part"),
        F.explode("ns").alias("supp"),
    )
    dec = "decimal(38,0)"
    per_supp = tagged.groupBy("supp").agg(
        F.count("*").cast(dec).alias("ne"),  # = d_supp
        F.sum(F.col("d_part").cast(dec)).alias("sx"),
        F.sum(F.col("d_part").cast(dec) * F.col("d_part")).alias("sxx"),
    )
    m = per_supp.agg(
        F.sum("ne").alias("n"),
        F.sum("sx").alias("sumx"),
        F.sum("sxx").alias("sumxx"),
        F.sum(F.col("ne") * F.col("ne")).alias("sumy"),
        F.sum(F.col("ne") * F.col("ne") * F.col("ne")).alias("sumyy"),
        F.sum(F.col("ne") * F.col("sx")).alias("sumxy"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.round(F.col("sumx").cast("double") / nd + F.lit(1e-9), 4).alias(
            "mean_part_degree"
        ),
        F.round(F.col("sumy").cast("double") / nd + F.lit(1e-9), 4).alias(
            "mean_supp_degree"
        ),
        F.round(
            (
                (F.col("n") * F.col("sumxy") - F.col("sumx") * F.col("sumy")).cast(
                    "double"
                )
                # nullif: a zero-variance side (degenerate graph -
                # every part or every supplier at one degree) must
                # yield NULL like the oracle's corr(), not an ANSI
                # DIVIDE_BY_ZERO abort.
                / F.nullif(
                    F.sqrt(
                        (
                            F.col("n") * F.col("sumxx")
                            - F.col("sumx") * F.col("sumx")
                        ).cast("double")
                        * (
                            F.col("n") * F.col("sumyy")
                            - F.col("sumy") * F.col("sumy")
                        ).cast("double")
                    ),
                    F.lit(0.0),
                )
            )
            + F.lit(1e-9),
            4,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Theta-sketch set operations (KMV intersection between event audiences)
# ---------------------------------------------------------------------------

_THETA_K = 64


@register(
    "theta_sketch_setops",
    f"""
WITH hv AS (
  SELECT DISTINCT event_type,
         {_SQL_H32.format(x="user_id::VARCHAR")} AS hv
  FROM events
), rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM hv
), sk AS (
  SELECT event_type, hv, rk FROM rk WHERE rk <= {_THETA_K}
), theta AS (
  SELECT event_type,
         CASE WHEN max(rk) < {_THETA_K} THEN 4294967296.0
              ELSE max(CASE WHEN rk = {_THETA_K} THEN hv END)::DOUBLE
         END AS th
  FROM sk GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         least(ta.th, tb.th) AS th
  FROM (SELECT DISTINCT event_type FROM hv) a
  JOIN (SELECT DISTINCT event_type FROM hv) b ON b.event_type > a.event_type
  JOIN theta ta ON ta.event_type = a.event_type
  JOIN theta tb ON tb.event_type = b.event_type
), inter AS (
  SELECT p.type_a, p.type_b, p.th,
         count(*)::BIGINT AS n_common_hashes
  FROM pairs p
  JOIN sk sa ON sa.event_type = p.type_a AND sa.hv < p.th
  JOIN sk sb ON sb.event_type = p.type_b AND sb.hv = sa.hv
                AND sb.hv < p.th
  GROUP BY p.type_a, p.type_b, p.th
), exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*)::BIGINT AS exact_common
  FROM (SELECT DISTINCT event_type, user_id FROM events) a
  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
    ON b.user_id = a.user_id AND b.event_type > a.event_type
  GROUP BY type_a, type_b
)
SELECT p.type_a, p.type_b,
       coalesce(i.n_common_hashes, 0)::BIGINT AS n_common_hashes,
       round(coalesce(i.n_common_hashes, 0)
             * 4294967296.0 / p.th + 1e-9, 2) AS est_common,
       coalesce(x.exact_common, 0)::BIGINT AS exact_common
FROM pairs p
LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
LEFT JOIN exact x ON x.type_a = p.type_a AND x.type_b = p.type_b
""",
)
def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 [EXT]: theta-sketch set intersection (Dasgupta et al. 2016;
    the DataSketches theta framework) between event-type audiences:
    each type keeps a KMV sketch (k = {_THETA_K} smallest portable
    hashes of its users); for a pair, θ = min of the two kth-hash
    thresholds and |A∩B| ≈ |{{h ∈ both sketches : h < θ}}| / θ — the
    audience-overlap estimator every ad/analytics stack runs when
    exact pairwise intersections are too expensive. The exact common
    count rides alongside, making the accuracy contract itself the
    oracle-checked result (the approx_stats discipline). Groups with
    fewer than k users have θ = 1 (sketch saw everything — exact).

    Scale shape: sketches are ≤ k rows per type (the kmv_sketch rank
    window partitions by type over DISTINCT hashes); every pairwise
    step joins k-row frames; the exact companion is one distinct agg
    + a user-keyed self-join — at 100 TB you'd drop the companion
    and keep the sketch path, which never touches more than
    |types|·k rows after the distinct."""
    from resume_jd_matcher_spark.operators.textstats import kmv_sketch

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_sketch(e, "event_type", "user_id", k=_THETA_K).localCheckpoint()
    theta = sk.groupBy("event_type").agg(
        F.when(F.max("rk") < _THETA_K, F.lit(4294967296.0))
        .otherwise(
            F.max(F.when(F.col("rk") == _THETA_K, F.col("hv"))).cast(
                "double"
            )
        )
        .alias("th")
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_b") > F.col("type_a"))
        .join(
            F.broadcast(
                theta.select(
                    F.col("event_type").alias("type_a"),
                    F.col("th").alias("th_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                theta.select(
                    F.col("event_type").alias("type_b"),
                    F.col("th").alias("th_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a", "type_b", F.least("th_a", "th_b").alias("th")
        )
    )
    sa = sk.select(F.col("event_type").alias("type_a"), F.col("hv"))
    sb = sk.select(F.col("event_type").alias("type_b"), F.col("hv"))
    inter = (
        pairs.join(sa, "type_a")
        .filter(F.col("hv") < F.col("th"))
        .join(sb, ["type_b", "hv"])
        .groupBy("type_a", "type_b", "th")
        .agg(F.count("*").cast("bigint").alias("n_common_hashes"))
    )
    du = e.distinct()
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("exact_common"))
    )
    return (
        pairs.join(inter.drop("th"), ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("n_common_hashes", F.lit(0))
            .cast("bigint")
            .alias("n_common_hashes"),
            F.round(
                F.coalesce("n_common_hashes", F.lit(0))
                * 4294967296.0
                / F.col("th")
                + F.lit(1e-9),
                2,
            ).alias("est_common"),
            F.coalesce("exact_common", F.lit(0))
            .cast("bigint")
            .alias("exact_common"),
        )
    )


# ---------------------------------------------------------------------------
# LSH band-configuration planner
# ---------------------------------------------------------------------------

_LSH_PLAN_HASHES = 16
_LSH_PLAN_TARGET = 0.7


@register(
    "lsh_param_planner",
    f"""
WITH cfg AS (
  SELECT b, {_LSH_PLAN_HASHES} // b AS r
  FROM (SELECT unnest([1, 2, 4, 8, 16]) AS b)
), curve AS (
  SELECT b, r,
         round(pow(1.0 / b, 1.0 / r) + 1e-9, 4) AS threshold,
         round(1 - pow(1 - pow(0.5, r), b) + 1e-9, 4) AS p_at_50,
         round(1 - pow(1 - pow(0.7, r), b) + 1e-9, 4) AS p_at_70,
         round(1 - pow(1 - pow(0.9, r), b) + 1e-9, 4) AS p_at_90
  FROM cfg
), ranked AS (
  SELECT *, row_number() OVER (
           ORDER BY abs(threshold - {_LSH_PLAN_TARGET}), b) AS pick
  FROM curve
)
SELECT b::INT AS b, r::INT AS r, threshold, p_at_50, p_at_70, p_at_90,
       pick = 1 AS recommended
FROM ranked
""",
)
def q_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 [EXT]: LSH band-configuration planner — for every (bands b,
    rows r) split of {_LSH_PLAN_HASHES} MinHash functions, the
    S-curve threshold (1/b)^(1/r) and catch probabilities
    1−(1−j^r)^b at Jaccard 0.5/0.7/0.9 (Leskovec-Rajaraman-Ullman,
    MMDS ch. 3), recommending the config whose threshold lands
    closest to the {_LSH_PLAN_TARGET} target — the design calculator
    that justifies minhash_lsh's default split of its 16 hashes into
    b=4 bands of r=4 rows (threshold (1/4)^(1/4) ≈ 0.707).
    Deterministic tie-break on b.

    Scale shape: a 5-row literal frame and pure projection — the
    planner runs before any data is touched; nothing scales with
    input at all (sf_dir is unused, accepted for the uniform query
    signature)."""
    cfgs = [(b, _LSH_PLAN_HASHES // b) for b in (1, 2, 4, 8, 16)]
    cfg = spark.createDataFrame(cfgs, "b int, r int")

    def catch(j: float):
        return F.round(
            1
            - F.pow(
                1 - F.pow(F.lit(j), F.col("r").cast("double")),
                F.col("b").cast("double"),
            )
            + F.lit(1e-9),
            4,
        )

    curve = cfg.select(
        "b",
        "r",
        F.round(
            F.pow(1.0 / F.col("b"), 1.0 / F.col("r")) + F.lit(1e-9), 4
        ).alias("threshold"),
        catch(0.5).alias("p_at_50"),
        catch(0.7).alias("p_at_70"),
        catch(0.9).alias("p_at_90"),
    )
    w = Window.orderBy(
        F.abs(F.col("threshold") - _LSH_PLAN_TARGET), F.col("b")
    )
    return curve.withColumn("pick", F.row_number().over(w)).select(
        F.col("b").cast("int").alias("b"),
        F.col("r").cast("int").alias("r"),
        "threshold",
        "p_at_50",
        "p_at_70",
        "p_at_90",
        (F.col("pick") == 1).alias("recommended"),
    )


# ---------------------------------------------------------------------------
# Top event paths (3-step behavioral sequences)
# ---------------------------------------------------------------------------

_PATH_TOP_K = 10


@register(
    "event_paths_top",
    f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
         count(*)::BIGINT AS n
  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY path
), tot AS (SELECT sum(n)::BIGINT AS t FROM paths)
SELECT path, n,
       round(n / tot.t::DOUBLE + 1e-9, 4) AS share,
       row_number() OVER (ORDER BY n DESC, path) AS rnk
FROM paths CROSS JOIN tot
ORDER BY rnk LIMIT {_PATH_TOP_K}
""",
)
def q_event_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 [EXT]: top behavioral paths — the {_PATH_TOP_K} most
    frequent 3-step event-type sequences across user timelines (the
    path-analysis readout behind funnel tools; it keeps the
    second-order structure a first-order transition matrix drops).
    Deterministic time order via the (ts, event_id)
    tie-break.

    Scale shape: ONE per-user window sort (partitioned by user_id —
    the window_running shape) produces both leads; the path grain is
    ≤ |types|³ rows, so the total/rank/top-k all run on a bounded
    frame via TakeOrderedAndProject semantics."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()  # |types|^3-bounded; feeds tot and the rank
    )
    tot = paths.agg(F.sum("n").cast("bigint").alias("t"))
    ranked = paths.crossJoin(F.broadcast(tot)).select(
        "path",
        "n",
        F.round(F.col("n") / F.col("t").cast("double") + F.lit(1e-9), 4).alias(
            "share"
        ),
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("path")))
        .alias("rnk"),
    )
    return ranked.orderBy("rnk").limit(_PATH_TOP_K)
