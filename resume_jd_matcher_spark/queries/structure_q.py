"""Round-11 family: graph structure, shard assignment, and
calibration governance over the document corpus, plus one profile
of the event stream.

Five operators a 100-TB training-data platform needs beyond the r10
inventory: synchronous label-propagation
communities (modularity structure, not connectivity — cc sees
components, LPA sees dense sub-groups), rendezvous (HRW) shard
routing with a resize-movement audit, B-cubed cluster-quality
evaluation of the dedup clustering, a multiplicative-weights domain-reweighting pass (DoReMi-style
excess-difficulty upweighting with a frequency-rarity proxy), and a
Fano-factor burstiness profile of the event stream.

Determinism discipline: every exposed number in this module is an exact integer or a
fixed-point scaled integer (``*_e6`` / ``*_e9``) computed with
integer half-away-from-zero division — ``(num*2*scale + den) div
(2*den)`` on nonnegative operands — in decimal(38,0) on the Spark
side and HUGEINT in the DuckDB oracle. No float ever reaches the
driver's value hash, so there is no rounding boundary to land on.

Reference parity note: the reference (ShekharK23/resume_jd_matcher)
has no analog for any of these — they are [EXT] operators mandated by
the north star's training-data-pipeline surface (BASELINE.json), in
the same sense as the dedup/eval families (SURVEY.md §2 legend).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.text import seeded_hash32
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.queries.text_q import (
    SQL_HASH32,
    SQL_TOKS,
    _MINHASH_EST_CTE,
)
from resume_jd_matcher_spark.sources.io import load_table

_DEC = "decimal(38,0)"


def _halfup_div(num: str, den: str, scale: int) -> str:
    """SQL/Spark-shared integer half-up scaled division expression:
    round(scale * num / den) for nonnegative exact-integer operands,
    as pure integer arithmetic (Spark ``div`` truncates toward zero,
    DuckDB ``//`` floors — identical on nonnegative values)."""
    return f"(({num}) * {2 * scale} + ({den})) div (2 * ({den}))"


# ---------------------------------------------------------------------------
# Synchronous label propagation on the near-dup graph
# ---------------------------------------------------------------------------

_LPA_ITER = 4


def _lpa_sql(n_iter: int = _LPA_ITER, thresh: float = 0.5) -> str:
    """MinHash-LSH edge CTEs + unrolled synchronous label propagation:
    each round every node adopts its neighbors' most frequent label,
    ties broken by the smallest label — all-integer, so the unrolled
    replay is exact."""
    head = f"""WITH {_MINHASH_EST_CTE},
sym AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM est WHERE est_jaccard >= {thresh}
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM est WHERE est_jaccard >= {thresh}
), edges AS MATERIALIZED (
  -- self-loop per node: each node votes for its own current label,
  -- the standard stabilizer against synchronous LPA's 2-cycle on
  -- symmetric pairs (without it a 2-clique oscillates forever)
  SELECT a, b FROM sym
  UNION ALL
  SELECT DISTINCT a, a FROM sym
), l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS lbl FROM edges
)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(
            f""", v{i} AS (
  SELECT e.a AS node, l.lbl, count(*)::BIGINT AS c
  FROM edges e JOIN l{i - 1} l ON l.node = e.b
  GROUP BY 1, 2
), l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM v{i}
  ) WHERE rn = 1
)"""
        )
    tail = f"""
SELECT l.node AS doc_id, l.lbl AS community, s.community_size
FROM l{n_iter} l
JOIN (SELECT lbl, count(*)::BIGINT AS community_size
      FROM l{n_iter} GROUP BY lbl) s USING (lbl)
"""
    return head + "".join(its) + tail


@register("label_propagation", _lpa_sql())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 [EXT]: synchronous label-propagation communities (Raghavan
    et al. 2007, Phys. Rev. E 76) on the MinHash near-dup graph (same
    doc_id < 200 slice and est >= 0.5 edges as connected_components).
    Connected components answer "what is transitively
    linked"; LPA answers "what forms a densely self-similar block
    INSIDE the linkage" — the community, not the component, is the
    template-family a curation pass reviews as one unit. Fixed
    {n} synchronized rounds, most-frequent label over neighbors PLUS
    a self-vote (the standard stabilizer — without it a symmetric
    pair 2-cycles forever), min-label tie-break: fully integer, so
    the oracle's unrolled CTEs replay the trajectory exactly (the
    pagerank/kmeans discipline without even a rounding step).

    Scale shape: candidates from the banded LSH equi-join (never
    corpus²), then operators/cluster.label_propagation_sync — the
    cost-routed trajectory (driver loop under the edge threshold,
    else per round ONE edge⋈label equi-join + a (node, label) hash
    agg + a max_by top-1 agg; no neighborhood collect_list, so hub
    nodes cost rows, not array width). The size readout is a bounded
    self-agg on the node-grain labels.""".format(n=_LPA_ITER)
    from resume_jd_matcher_spark.operators import dedup
    from resume_jd_matcher_spark.operators.cluster import (
        label_propagation_sync,
    )
    from resume_jd_matcher_spark.operators.dedup import _PERSISTED

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(
        d, n_hashes=16, rows_per_band=4
    ).filter(F.col("est_jaccard") >= 0.5)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("left_id").alias("a"),
                    F.col("right_id").alias("b"),
                ),
                F.struct(
                    F.col("right_id").alias("a"),
                    F.col("left_id").alias("b"),
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    labels = label_propagation_sync(sym, n_iter=_LPA_ITER).persist()
    _PERSISTED.append(labels)
    sizes = labels.groupBy("community").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "community").select(
        F.col("node").alias("doc_id"),
        "community",
        "community_size",
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) shard routing + resize movement audit
# ---------------------------------------------------------------------------

_HRW_SHARDS = 16


@register(
    "shard_rendezvous",
    f"""
WITH h AS (
  SELECT d.doc_id, s.s,
         {SQL_HASH32.format(c="d.doc_id::VARCHAR || '#' || s.s::VARCHAR")} AS hv
  FROM documents d,
       (SELECT unnest(generate_series(0, {_HRW_SHARDS})) AS s) s
), a16 AS (
  SELECT doc_id, s AS shard16 FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s) AS rn
    FROM h WHERE s < {_HRW_SHARDS}
  ) WHERE rn = 1
), a17 AS (
  SELECT doc_id, s AS shard17 FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s) AS rn
    FROM h
  ) WHERE rn = 1
)
SELECT a16.shard16 AS shard, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN a17.shard17 <> a16.shard16 THEN 1 ELSE 0 END)::BIGINT
         AS n_moved
FROM a16 JOIN a17 USING (doc_id)
GROUP BY 1
""",
)
def q_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/A4 [EXT]: rendezvous / highest-random-weight sharding
    (Thaler & Ravishankar 1998, IEEE/ACM ToN 6(1)) — every doc routes
    to argmax over shards of hash(doc, shard), which is stateless,
    coordination-free, and minimally disruptive under resize: adding
    shard {n} relocates ONLY docs whose new hash wins (~1/(n+1) of
    the corpus), which this query audits directly by computing the
    {n}-shard and {n}+1-shard assignments side by side and counting
    per-shard departures. The routing layer a 100-TB ingest needs
    under elastic shard counts.

    Scale shape: linear explode to the doc x (shards+1) grain, ONE
    map-side-combinable max_by aggregation per doc (lexicographic
    (hv, -s) struct max = max hash with min-shard tie-break — no
    window, no shuffle beyond the doc-grain agg), then a
    {n}-row-bounded hash agg. All-integer output.""".format(
        n=_HRW_SHARDS
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    h = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_HRW_SHARDS))).alias("s"),
    ).select(
        "doc_id",
        "s",
        seeded_hash32(F.col("doc_id").cast("string"), F.col("s")).alias("hv"),
    )
    pick = F.struct(F.col("hv"), (-F.col("s")).alias("ns"))
    agg = h.groupBy("doc_id").agg(
        F.max(F.when(F.col("s") < _HRW_SHARDS, pick)).alias("m16"),
        F.max(pick).alias("m17"),
    )
    per = agg.select(
        (-F.col("m16.ns")).alias("shard16"),
        (-F.col("m17.ns")).alias("shard17"),
    )
    return per.groupBy(F.col("shard16").alias("shard")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("shard17") != F.col("shard16"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved"),
    )


# ---------------------------------------------------------------------------
# B-cubed precision/recall of the near-dup clustering vs exact-dup gold
# ---------------------------------------------------------------------------

@register(
    "bcubed_eval",
    f"""
WITH RECURSIVE {_MINHASH_EST_CTE},
edges AS (
  SELECT left_id AS a, right_id AS b FROM est WHERE est_jaccard >= 0.95
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM est WHERE est_jaccard >= 0.95
), reach AS (
  SELECT DISTINCT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
), lab AS (
  SELECT node, min(r) AS pl FROM reach GROUP BY node
), pred AS (
  SELECT d.doc_id, coalesce(lab.pl, d.doc_id) AS p
  FROM docs d LEFT JOIN lab ON lab.node = d.doc_id
), gold AS (
  SELECT doc_id,
         min(doc_id) OVER (
           PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         ) AS g
  FROM documents WHERE doc_id < 200
), cell AS MATERIALIZED (
  SELECT pred.p, gold.g, count(*)::HUGEINT AS npg
  FROM pred JOIN gold USING (doc_id) GROUP BY 1, 2
), tp AS (
  SELECT c.p,
         ((sum(c.npg * c.npg)::HUGEINT * 2000000000 + np.n_p)
          // (2 * np.n_p))::HUGEINT AS t
  FROM cell c
  JOIN (SELECT p, sum(npg)::HUGEINT AS n_p FROM cell GROUP BY p) np
    USING (p)
  GROUP BY c.p, np.n_p
), tg AS (
  SELECT c.g,
         ((sum(c.npg * c.npg)::HUGEINT * 2000000000 + ng.n_g)
          // (2 * ng.n_g))::HUGEINT AS t
  FROM cell c
  JOIN (SELECT g, sum(npg)::HUGEINT AS n_g FROM cell GROUP BY g) ng
    USING (g)
  GROUP BY c.g, ng.n_g
), nn AS (SELECT sum(npg)::HUGEINT AS n FROM cell),
pr AS (
  SELECT ((sum(t) * 2 + nn.n) // (2 * nn.n))::HUGEINT AS p_e9
  FROM tp, nn GROUP BY nn.n
), rc AS (
  SELECT ((sum(t) * 2 + nn.n) // (2 * nn.n))::HUGEINT AS r_e9
  FROM tg, nn GROUP BY nn.n
)
SELECT nn.n::BIGINT AS n_docs,
       pr.p_e9::BIGINT AS precision_e9,
       rc.r_e9::BIGINT AS recall_e9,
       (CASE WHEN pr.p_e9 + rc.r_e9 = 0 THEN 0
             ELSE (2 * pr.p_e9 * rc.r_e9 * 2 + (pr.p_e9 + rc.r_e9))
                  // (2 * (pr.p_e9 + rc.r_e9)) END)::BIGINT AS f1_e9
FROM nn, pr, rc
""",
)
def q_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8-eval [EXT]: B-cubed precision/recall/F1 (Bagga & Baldwin
    1998; Amigo et al. 2009's recommended clustering metric) of the
    MinHash near-dup clustering (est >= 0.95 connected components,
    exactly dedup_clusters' labels, singletons kept) against the
    exact-duplicate gold partition (normalized-text fingerprint,
    dedup_exact's key). Per-item precision = |pred-cluster ∩
    gold-cluster| / |pred-cluster|, recall mirrors over the gold
    cluster; item averages reduce to cell algebra: P = (1/N) Σ_p
    (Σ_g n_pg²)/n_p. Completes minhash_pr_eval (pairwise P/R) with
    the cluster-grain metric that punishes giant merged clusters the
    pairwise view under-weights.

    Determinism: cell counts are exact integers; each per-cluster
    term is the integer half-up e9 division, their mean and the F1
    harmonic mean the same — the oracle replays the identical
    fixed-point algebra in HUGEINT, so the metric is bit-stable (the
    e9 per-cluster rounding is part of the metric's definition here,
    documented, error < |clusters|·5e-10).

    Scale shape: labels from the star-contraction components on
    banded candidates (never corpus²); gold labels one fingerprint
    window; the metric itself runs entirely on the (pred x gold)
    CELL grain — bounded by cluster counts, not documents."""
    from resume_jd_matcher_spark.functions.text import fingerprint_md5
    from resume_jd_matcher_spark.operators import cluster as clusterop
    from resume_jd_matcher_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(
        d, n_hashes=16, rows_per_band=4
    ).filter(F.col("est_jaccard") >= 0.95)
    lab = clusterop.dedup_clusters(pairs).select("doc_id", "cluster_rep")
    pred = d.select("doc_id").join(lab, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_rep", "doc_id").alias("p")
    )
    wg = Window.partitionBy(fingerprint_md5(F.col("text")))
    gold = d.select("doc_id", F.min("doc_id").over(wg).alias("g"))
    cell = (
        pred.join(gold, "doc_id")
        .groupBy("p", "g")
        .agg(F.count("*").cast(_DEC).alias("npg"))
    )
    np_ = cell.groupBy("p").agg(F.sum("npg").cast(_DEC).alias("n_p"))
    ng_ = cell.groupBy("g").agg(F.sum("npg").cast(_DEC).alias("n_g"))
    tp = (
        cell.join(np_, "p")
        .groupBy("p", "n_p")
        .agg(F.sum(F.col("npg") * F.col("npg")).cast(_DEC).alias("s2"))
        .select(
            F.expr(_halfup_div("s2", "n_p", 10**9)).cast(_DEC).alias("t")
        )
    )
    tg = (
        cell.join(ng_, "g")
        .groupBy("g", "n_g")
        .agg(F.sum(F.col("npg") * F.col("npg")).cast(_DEC).alias("s2"))
        .select(
            F.expr(_halfup_div("s2", "n_g", 10**9)).cast(_DEC).alias("t")
        )
    )
    nn = cell.agg(F.sum("npg").cast(_DEC).alias("n"))
    pr = (
        tp.crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(F.sum("t").cast(_DEC).alias("st"))
        .select(
            "n", F.expr(_halfup_div("st", "n", 1)).cast(_DEC).alias("p_e9")
        )
    )
    rc = (
        tg.crossJoin(F.broadcast(nn))
        .groupBy("n")
        .agg(F.sum("t").cast(_DEC).alias("st"))
        .select(F.expr(_halfup_div("st", "n", 1)).cast(_DEC).alias("r_e9"))
    )
    return (
        pr.crossJoin(F.broadcast(rc))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("p_e9").cast("bigint").alias("precision_e9"),
            F.col("r_e9").cast("bigint").alias("recall_e9"),
            F.when(F.col("p_e9") + F.col("r_e9") == 0, F.lit(0).cast("bigint"))
            .otherwise(
                F.expr(
                    "(2 * p_e9 * r_e9 * 2 + (p_e9 + r_e9))"
                    " div (2 * (p_e9 + r_e9))"
                ).cast("bigint")
            )
            .alias("f1_e9"),
        )
    )


# ---------------------------------------------------------------------------
# Multiplicative-weights domain reweighting (DoReMi-style, rarity proxy)
# ---------------------------------------------------------------------------

@register(
    "doremi_reweight",
    f"""
WITH tok AS (
  SELECT source, unnest({SQL_TOKS.format(c='text')}) AS tok FROM documents
), grp AS (
  SELECT source, tok, count(*)::HUGEINT AS c FROM tok GROUP BY 1, 2
), vocab AS (
  SELECT tok, sum(c)::HUGEINT AS f FROM grp GROUP BY tok
), st AS (
  SELECT g.source, sum(g.c)::HUGEINT AS n_tok,
         sum(g.c * v.f)::HUGEINT AS wf
  FROM grp g JOIN vocab v USING (tok) GROUP BY 1
), gl AS (
  SELECT ((sum(wf) * 2000000 + sum(n_tok)) // (2 * sum(n_tok)))::HUGEINT
           AS gf_e6
  FROM st
), m AS (
  SELECT st.source, st.n_tok,
         ((st.wf * 2000000 + st.n_tok) // (2 * st.n_tok))::HUGEINT AS mf_e6,
         greatest(gl.gf_e6
                  - (st.wf * 2000000 + st.n_tok) // (2 * st.n_tok),
                  0)::HUGEINT AS excess_e6
  FROM st, gl
), w AS (
  SELECT source, n_tok, mf_e6, excess_e6,
         n_tok * (1000000 + excess_e6) AS wraw
  FROM m
)
SELECT source, n_tok::BIGINT AS n_tokens, mf_e6::BIGINT AS mean_freq_e6,
       excess_e6::BIGINT AS excess_e6,
       ((wraw * 2000000 + t.tw) // (2 * t.tw))::BIGINT AS weight_e6
FROM w, (SELECT sum(wraw)::HUGEINT AS tw FROM w) t
""",
)
def q_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/A4 [EXT]: multiplicative-weights domain reweighting — the
    DoReMi recipe (Xie et al. 2023, NeurIPS) of upweighting domains
    with EXCESS difficulty, with token-frequency rarity as the
    difficulty proxy (a source whose tokens are globally rarer is
    harder for a reference unigram model; ln-free, so the whole pass
    stays in exact integers — the exp() Hedge update is linearized to
    the classic (1 + eta*excess) MW step, eta = 1). Output: per-source
    token mass, mean global token frequency (e6 fixed-point), excess
    difficulty, and the renormalized mixture weight. Completes the
    mixture family: dsir_weights matches a TARGET distribution,
    temperature_mixture flattens counts, this one chases excess loss.

    Scale shape: one explode to token occurrences, (source, token)
    hash agg, vocabulary self-join at the token grain (both sides
    grouped — never a raw-occurrence join), then |sources|-bounded
    algebra; every ratio is the shared integer half-up division
    (decimal(38,0) / HUGEINT), so sums of billions of counts stay
    exact."""
    from resume_jd_matcher_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    grp = tok.groupBy("source", "tok").agg(
        F.count("*").cast(_DEC).alias("c")
    )
    vocab = grp.groupBy("tok").agg(F.sum("c").cast(_DEC).alias("f"))
    st = (
        grp.join(vocab, "tok")
        .groupBy("source")
        .agg(
            F.sum("c").cast(_DEC).alias("n_tok"),
            F.sum(F.col("c") * F.col("f")).cast(_DEC).alias("wf"),
        )
    )
    gl = st.agg(
        F.expr(_halfup_div("sum(wf)", "sum(n_tok)", 10**6))
        .cast(_DEC)
        .alias("gf_e6")
    )
    m = st.crossJoin(F.broadcast(gl)).select(
        "source",
        "n_tok",
        F.expr(_halfup_div("wf", "n_tok", 10**6)).cast(_DEC).alias("mf_e6"),
        F.greatest(
            F.col("gf_e6")
            - F.expr(_halfup_div("wf", "n_tok", 10**6)).cast(_DEC),
            F.lit(0).cast(_DEC),
        ).alias("excess_e6"),
    )
    w = m.select(
        "source",
        "n_tok",
        "mf_e6",
        "excess_e6",
        (
            F.col("n_tok")
            * (F.lit(10**6).cast(_DEC) + F.col("excess_e6"))
        ).alias("wraw"),
    )
    tw = w.agg(F.sum("wraw").cast(_DEC).alias("tw"))
    return w.crossJoin(F.broadcast(tw)).select(
        "source",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.col("mf_e6").cast("bigint").alias("mean_freq_e6"),
        F.col("excess_e6").cast("bigint").alias("excess_e6"),
        F.expr(_halfup_div("wraw", "tw", 10**6))
        .cast("bigint")
        .alias("weight_e6"),
    )


# ---------------------------------------------------------------------------
# Burstiness profile: Fano factor + CV^2 of daily event counts
# ---------------------------------------------------------------------------

@register(
    "burstiness_fano",
    """
WITH d AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
), span AS (
  SELECT min(ts::DATE) AS lo, max(ts::DATE) AS hi FROM events
), spine AS (
  SELECT unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                INTERVAL 1 DAY))::DATE AS day
  FROM span
), grid AS (
  SELECT t.event_type, s.day
  FROM (SELECT DISTINCT event_type FROM events) t, spine s
), g AS (
  SELECT grid.event_type, coalesce(d.c, 0)::HUGEINT AS c
  FROM grid LEFT JOIN d USING (event_type, day)
), st AS (
  SELECT event_type, count(*)::HUGEINT AS n,
         sum(c)::HUGEINT AS s1, sum(c * c)::HUGEINT AS s2
  FROM g GROUP BY 1
)
SELECT event_type, n::BIGINT AS n_days, s1::BIGINT AS n_events,
       (((n * s2 - s1 * s1) * 2000000 + (n - 1) * s1)
        // nullif(2 * (n - 1) * s1, 0))::BIGINT AS fano_e6,
       ((n * (n * s2 - s1 * s1) * 2000000 + (n - 1) * s1 * s1)
        // nullif(2 * (n - 1) * s1 * s1, 0))::BIGINT AS cv2_e6
FROM st
""",
)
def q_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W4 [EXT]: burstiness profile of the event stream — Fano
    factor (variance-to-mean ratio of daily counts, 1 under Poisson)
    and the squared coefficient of variation per event type, on the
    zero-filled calendar spine so quiet days count. The
    dispersion-side companion of imr_control_chart (level) and
    permutation_entropy (order): Fano >> 1 flags bursty arrivals that
    break per-day capacity planning and Poisson-assuming samplers.
    Both readouts are pure integer ratios of exact count moments —
    n·Σc² − (Σc)² over scaled denominators — so the fixed-point e6
    exposures are bit-stable.

    Scale shape: ONE (type, day) hash agg over the fact, a
    |types| x |days| calendar-bounded zero-fill grid, one moment agg
    per type; no windows, no joins wider than the bounded grid."""
    e = load_table(spark, sf_dir, "events")
    d = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    span = e.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    g = grid.join(d, ["event_type", "day"], "left").select(
        "event_type", F.coalesce("c", F.lit(0)).cast(_DEC).alias("c")
    )
    st = g.groupBy("event_type").agg(
        F.count("*").cast(_DEC).alias("n"),
        F.sum("c").cast(_DEC).alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast(_DEC).alias("s2"),
    )
    return st.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s1").cast("bigint").alias("n_events"),
        F.expr(
            "((n * s2 - s1 * s1) * 2000000 + (n - 1) * s1)"
            " div nullif(2 * (n - 1) * s1, cast(0 as decimal(38,0)))"
        )
        .cast("bigint")
        .alias("fano_e6"),
        F.expr(
            "(n * (n * s2 - s1 * s1) * 2000000 + (n - 1) * s1 * s1)"
            " div nullif(2 * (n - 1) * s1 * s1, cast(0 as decimal(38,0)))"
        )
        .cast("bigint")
        .alias("cv2_e6"),
    )
