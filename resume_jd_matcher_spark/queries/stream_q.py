"""Streaming batch-twins + multimodal queries (SURVEY.md §2.G, §2.H U6).

DuckDB can't run a stream, so each streaming query registers its BATCH
TWIN here (same transformation logic over the same events table);
tests/test_streaming.py asserts stream-result == batch-twin-result,
closing the loop: oracle checks the twin, equivalence checks the
stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.multimodal import attach_media, decode_features
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table


@register(
    "stream_tumbling_counts",
    """
SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
       event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G batch twin: tumbling 1-day event-time windows per
    event_type (streaming version: streaming/events.py
    tumbling_counts, equivalence-tested)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("day_epoch"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "stream_sliding_counts",
    """
WITH e AS (
  SELECT event_type, floor(epoch(ts))::BIGINT AS te FROM events
), w AS (
  SELECT event_type, (te // 43200) * 43200 AS win_epoch FROM e
  UNION ALL
  SELECT event_type, (te // 43200) * 43200 - 43200 FROM e
)
SELECT win_epoch, event_type, count(*)::BIGINT AS n
FROM w GROUP BY 1, 2
""",
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G batch twin: sliding windows (1 day / 12 h hop) — each event
    lands in two windows; the oracle enumerates both hops."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_epoch"),
            "event_type",
            "n",
        )
    )


@register(
    "sessionize",
    """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR date_diff('second', prev_ts, ts) > 3600
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id::BIGINT AS session_id,
       floor(epoch(min(ts)))::BIGINT AS session_start,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM numbered
GROUP BY user_id, session_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/§2.G: gap-based sessionization (gap > 1 h starts a session) —
    lag + running-sum windows; the streaming analog is
    ``session_window(ts, '1 hour')``."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    flagged = e.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 3600), F.lit(1)).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.unix_timestamp(F.min("ts")).alias("session_start"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "multimodal_features",
    """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       octet_length(encode(text))::BIGINT AS byte_len,
       ascii(substr(text, 1, 1))::INT AS first_byte,
       (16 + octet_length(encode(text)) % 64)::INT AS width,
       (16 + (octet_length(encode(text)) * 7) % 64)::INT AS height,
       (1 + ascii(substr(text, 1, 1)) % 8)::INT AS n_frames
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: binary media column + typed metadata → mapInPandas decode /
    feature-extract (bytestats codec; real codecs are an import-gated
    plug). The oracle recomputes the byte-level features in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return decode_features(attach_media(d), codec="bytestats")


@register(
    "multimodal_frames",
    """
SELECT doc_id,
       (f - 1)::INT AS frame_idx,
       ((f - 1) * 64)::BIGINT AS byte_offset
FROM documents,
     LATERAL (SELECT unnest(generate_series(1,
        greatest(octet_length(encode(text)) // 64, 1))) AS f) frames
""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: frame-sampling plumbing — one row per sampled chunk of each
    media blob, lineage preserved."""
    from resume_jd_matcher_spark.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_media(d), every=64)


@register(
    "stream_late_data",
    """
WITH mx AS (
  SELECT max(ts) AS max_all, max(ts) - INTERVAL 2 DAY AS cutoff FROM events
), flags AS (
  SELECT e.event_id, e.event_type, e.value, e.ts,
         (e.ts <= mx.cutoff AND e.event_id % 5 = 0) AS straggler,
         date_trunc('day', e.ts) + INTERVAL 1 DAY AS wend,
         mx.cutoff, mx.max_all
  FROM events e, mx
), b1 AS (
  SELECT max(ts) AS max_b1 FROM flags WHERE ts <= cutoff AND NOT straggler
), acc AS (
  SELECT f.* FROM flags f, b1
  WHERE ((f.ts <= f.cutoff AND NOT f.straggler)
         OR f.wend > b1.max_b1 - INTERVAL 1 HOUR)
    AND f.wend <= f.max_all - INTERVAL 1 HOUR
)
SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
       event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 2) AS total_value
FROM acc
GROUP BY 1, 2
""",
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G batch twin of the WATERMARK-DISCARDS-LATE-ROWS contract.

    Replay model (streaming/events.stage_events_phased): rows up to
    cutoff = max_ts − 2 days arrive first (minus every 5th event, held
    back as stragglers); the stream tail + stragglers arrive in a
    second micro-batch. With a 1 h watermark the first batch leaves
    the watermark at max(on-time ts) − 1 h, so a replayed straggler is
    accepted only if its 1-day window is still open; append mode emits
    exactly the windows the final watermark has closed. This query
    computes that accept/emit rule deterministically in batch;
    tests/test_streaming.py asserts the real two-phase checkpointed
    stream produces IDENTICAL rows."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(
        F.max("ts").alias("max_all"),
        (F.max("ts") - F.expr("INTERVAL 2 DAYS")).alias("cutoff"),
    )
    f = e.crossJoin(F.broadcast(mx))
    straggler = (F.col("ts") <= F.col("cutoff")) & (F.col("event_id") % 5 == 0)
    b1 = (
        f.filter((F.col("ts") <= F.col("cutoff")) & ~straggler)
        .agg(F.max("ts").alias("max_b1"))
    )
    g = f.crossJoin(F.broadcast(b1))
    wend = F.to_timestamp(F.date_trunc("day", F.col("ts"))) + F.expr(
        "INTERVAL 1 DAY"
    )
    accepted = g.filter(
        (
            ((F.col("ts") <= F.col("cutoff")) & ~straggler)
            | (wend > F.col("max_b1") - F.expr("INTERVAL 1 HOUR"))
        )
        & (wend <= F.col("max_all") - F.expr("INTERVAL 1 HOUR"))
    )
    return (
        accepted.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("day_epoch"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "stream_attribution_join",
    """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND c.ts <= p.ts
 AND epoch_us(p.ts) - epoch_us(c.ts) <= 300000000
""",
)
def q_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G batch twin of streaming/events.stream_stream_join: every
    purchase joined to the same user's clicks in the preceding 300 s.
    On a live stream both sides carry watermarks and the time-bound
    join condition lets Spark evict buffered state; the batch run of
    the identical dataflow is what the oracle checks
    (tests/test_streaming.py asserts stream == batch)."""
    from resume_jd_matcher_spark.streaming.events import stream_stream_join

    ev = load_table(spark, sf_dir, "events")
    return stream_stream_join(ev, max_gap_s=300)


@register(
    "funnel_conversion",
    """
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS first_view_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS first_click_us
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.first_view_us
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.first_click_us
  GROUP BY e.user_id
)
SELECT v.user_id, v.first_view_us, c.first_click_us, p.first_purchase_us
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-funnel analysis (view → click-after-view →
    purchase-after-click): each stage is a conditional min chained on
    the previous stage's timestamp. Every aggregate and join keys on
    user_id, so one hash partitioning serves the whole chain
    (Exchange reuse) — three logical shuffles, one physical
    partitioning at scale. Timestamps exposed as integer
    microseconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("first_view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("first_click_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("first_click_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("first_purchase_us"))
    )
    return v.join(c, "user_id", "left").join(p, "user_id", "left").select(
        "user_id", "first_view_us", "first_click_us", "first_purchase_us"
    )


@register(
    "kmv_distinct",
    """
WITH hv AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS hv
  FROM events
), rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM hv
), sk AS (
  SELECT event_type, count(*) AS n,
         max(CASE WHEN rk = 64 THEN hv END) AS kth
  FROM rk WHERE rk <= 64 GROUP BY event_type
), ex AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT s.event_type,
       CASE WHEN s.n < 64 THEN s.n::DOUBLE
            ELSE round(63 * 4294967296.0 / s.kth, 4) END AS est_distinct,
       e.exact_distinct
FROM sk s JOIN ex e ON s.event_type = e.event_type
""",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] mergeable distinct-count sketch: per event_type, the KMV
    (k=64 minimum hash values) estimate of distinct users next to the
    exact count. The deterministic, oracle-replayable counterpart of
    approx_count_distinct (whose HLL registers are engine-internal —
    see approx_stats, rows-only); sketches merge by pooling and
    re-cutting the k minima, so per-day sketches roll up without
    rescanning (operators/textstats.py:kmv_sketch)."""
    from resume_jd_matcher_spark.operators.textstats import (
        kmv_estimate,
        kmv_sketch,
    )

    e = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(e, "event_type", "user_id", k=64)
    est = kmv_estimate(sk, "event_type", k=64)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


_HLL_C = repr((0.7213 / (1.0 + 1.079 / 512)) * 512 * 512 * 16777216)


@register(
    "hll_distinct",
    f"""
WITH hv AS (
  SELECT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS hv
  FROM events
), reg AS (
  SELECT event_type, hv % 512 AS reg,
         CASE WHEN hv // 512 = 0 THEN 24
              ELSE 24 - length(bin(hv // 512)) END AS rank
  FROM hv
), sk AS (
  SELECT event_type, reg, max(rank) AS mx FROM reg GROUP BY event_type, reg
), agg AS (
  SELECT event_type, count(*)::BIGINT AS present,
         sum(pow(2, 24 - mx)::BIGINT)::BIGINT AS zpart
  FROM sk GROUP BY event_type
), est AS (
  SELECT event_type,
         {_HLL_C} / (zpart + (512 - present) * 16777216)::DOUBLE AS est_raw,
         512 - present AS v
  FROM agg
), ex AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(CASE WHEN est_raw <= 1280.0 AND v > 0
                  THEN 512.0 * ln(512.0 / v::DOUBLE) ELSE est_raw END,
             4) AS est_distinct,
       x.exact_distinct
FROM est e JOIN ex x ON e.event_type = x.event_type
""",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] HyperLogLog distinct-count sketch with oracle-replayable
    registers: per event_type, the m=512-register HLL estimate of
    distinct users next to the exact count — KMV's constant-space
    sibling (kmv_distinct) and the deterministic twin of Spark's
    approx_count_distinct. Registers merge by max, so per-day sketches
    roll up without rescanning; the harmonic sum is computed in exact
    scaled-integer form so the only floats are one division (and the
    linear-counting ln), rounded in-query
    (operators/textstats.py:hll_sketch)."""
    from resume_jd_matcher_spark.operators.textstats import (
        hll_estimate,
        hll_sketch,
    )

    e = load_table(spark, sf_dir, "events")
    sk = hll_sketch(e, "event_type", "user_id", p=9)
    est = hll_estimate(sk, "event_type", p=9)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


@register(
    "session_window_agg",
    """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR date_diff('microsecond', prev_ts, ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       floor(epoch(min(ts)))::BIGINT AS session_start,
       floor(epoch(max(ts) + INTERVAL 30 MINUTE))::BIGINT AS session_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM numbered
GROUP BY user_id, session_id
""",
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G: Spark's NATIVE session_window aggregate (30-minute gap) —
    the engine-managed merging-session path, vs `sessionize`'s manual
    lag/running-sum islands. The oracle replays the documented
    semantics: window start = first event, end = last event + gap,
    sessions split when the inter-event gap EXCEEDS 30 min. Native
    session_window is also the streaming-safe formulation (state-store
    merging sessions under a watermark) — the batch call here shares
    the operator."""
    from resume_jd_matcher_spark.streaming.events import session_window_counts

    return session_window_counts(load_table(spark, sf_dir, "events"))


@register(
    "media_binary_neardup",
    """
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, substr(hx, i * 2 + 1, 8) AS tok
  FROM m, unnest(generate_series(0, (length(hx) - 8) // 2)) AS t(i)
  WHERE length(hx) >= 8
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM g
), b AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
  FROM h, (SELECT unnest(generate_series(0, 15)) AS bit) bits
  GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
           AS simhash
  FROM b GROUP BY doc_id
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_media_binary_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: decode-free fuzzy near-dup over the BINARY media
    column — SimHash on sliding byte 4-grams of the raw payload (the
    ssdeep/fuzzy-hash role in multimodal ingest, run before any
    decoder). Engine path reuses the text SimHash core (banded
    equi-join candidates, popcount verify); the oracle is the
    all-pairs hamming spec the banded plan must equal exactly
    (operators/multimodal.py:media_simhash_neardup)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media,
        media_simhash_neardup,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = attach_media(d)
    return media_simhash_neardup(media)


@register(
    "stream_static_enrich",
    """
WITH tier AS (
  SELECT user_id,
         CASE WHEN count(*) >= 60 THEN 'heavy' ELSE 'light' END AS tier
  FROM events GROUP BY user_id
)
SELECT floor(epoch(date_trunc('day', e.ts)))::BIGINT AS day_epoch,
       t.tier, e.event_type, count(*)::BIGINT AS n
FROM events e JOIN tier t USING (user_id)
GROUP BY 1, 2, 3
""",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G batch twin of the STREAM-STATIC enrichment join — the one
    streaming join shape the suite didn't yet pin (stream-stream and
    stateful sessions are covered): arriving events join a broadcast
    OFFLINE dimension (user activity tier), then tumbling per-(tier,
    type) counts. tests/test_streaming.py asserts the real streamed
    run over the replayed file source produces IDENTICAL rows; this
    batch twin is the oracle surface (identical projection, same
    window grain)."""
    from resume_jd_matcher_spark.streaming.events import (
        stream_static_enrich,
        user_tier_dim,
    )

    ev = load_table(spark, sf_dir, "events")
    return stream_static_enrich(ev, user_tier_dim(ev))


@register(
    "stream_drift_monitor",
    """
WITH bc AS (
  SELECT event_type, greatest(least(floor(value / 25)::INT, 9), 0) AS bkt,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), bt AS (
  SELECT event_type, sum(n)::BIGINT AS tot FROM bc GROUP BY 1
), grid AS (
  SELECT bt.event_type, bt.tot, b.bkt
  FROM bt CROSS JOIN
       (SELECT unnest(generate_series(0, 9))::INT AS bkt) b
), base AS (
  SELECT g.event_type, g.bkt,
         greatest(coalesce(c.n, 0) / g.tot::DOUBLE, 1e-4) AS p_base
  FROM grid g LEFT JOIN bc c
    ON c.event_type = g.event_type AND c.bkt = g.bkt
), cc AS (
  SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
         event_type, greatest(least(floor(value / 25)::INT, 9), 0) AS bkt,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2, 3
), ct AS (
  SELECT day_epoch, event_type, sum(n)::BIGINT AS tot
  FROM cc GROUP BY 1, 2
), cur AS (
  SELECT t.day_epoch, b.event_type, b.bkt, b.p_base,
         greatest(coalesce(c.n, 0) / t.tot::DOUBLE, 1e-4) AS p_cur
  FROM base b JOIN ct t ON t.event_type = b.event_type
  LEFT JOIN cc c ON c.day_epoch = t.day_epoch
    AND c.event_type = b.event_type AND c.bkt = b.bkt
)
SELECT day_epoch, event_type,
       round(sum((p_cur - p_base) * ln(p_cur / p_base)) + 1e-9, 6) AS psi,
       (round(sum((p_cur - p_base) * ln(p_cur / p_base)) + 1e-9, 6)
        > 0.2) AS drift
FROM cur GROUP BY 1, 2
""",
)
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G [EXT] batch twin of the streaming PSI drift monitor — the
    streaming member of the drift family (`psi_drift` is
    its static cousin): per tumbling event-time day and event type,
    PSI of the in-window value-bucket distribution against the
    offline full-corpus baseline, alerting at the standard 0.2
    threshold. tests/test_streaming.py asserts the real streamed run
    (ONE bounded streaming aggregation; PSI as a stateless batch
    finalize over the windowed pre-aggregate, because chained
    streaming aggs are unsupported by design) produces IDENTICAL
    rows.

    Scale shape: the streaming state is windows-in-flight × |types| ×
    10 buckets, independent of event volume; the finalize joins only
    bounded pre-aggregates (baseline broadcast). The batch twin's
    fact-sized work is the two bucket-count hash aggs — everything
    after is dimension-bounded."""
    from resume_jd_matcher_spark.streaming.drift import (
        baseline_dist,
        psi_finalize,
        stream_bucket_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return psi_finalize(stream_bucket_counts(ev), baseline_dist(ev))


@register(
    "stream_session_dedup",
    """
WITH ordered AS (
  SELECT user_id, event_type, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, event_type, event_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR date_diff('microsecond', prev_ts, ts) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  SELECT user_id, event_type, ts, value,
         sum(is_new) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, event_type,
       floor(epoch(min(ts)))::BIGINT AS session_start,
       count(*)::BIGINT AS n_dupes,
       round(sum(value), 2) AS total_value
FROM numbered
GROUP BY user_id, event_type, session_id
""",
)
def q_stream_session_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G [EXT] batch twin of SESSION-GAP DEDUP: repeated events of
    the same type by the same user within a 30-minute session collapse
    to one row carrying their multiplicity — the ingest compaction
    that keeps retries / double-fires from inflating downstream
    counts. Native session_window keyed on (user_id, event_type), so
    in stream mode the state store holds only open per-(user, type)
    sessions under the watermark; tests/test_streaming.py asserts the
    streamed run (including a duplicate-replay phase) produces
    IDENTICAL rows (streaming/events.py:session_type_dedup).

    Scale shape: ONE keyed session aggregation over the fact — no
    joins, no windows over data; state is open-sessions-bounded."""
    from resume_jd_matcher_spark.streaming.events import session_type_dedup

    return session_type_dedup(load_table(spark, sf_dir, "events"))


from resume_jd_matcher_spark.queries.vector_q import (  # noqa: E402
    _LSH_PLANES,
    _SQL_LSH_SIG,
    SQL_SQL2,
)


@register(
    "stream_ann_dedup_gate",
    f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), c AS (
  SELECT vec_id, e AS ce,
         {_SQL_LSH_SIG.format(a='e', planes=_LSH_PLANES)} AS bucket
  FROM e0 WHERE vec_id % 4 <> 3
), q AS (
  SELECT vec_id AS query_id, e AS qe,
         {_SQL_LSH_SIG.format(a='e', planes=_LSH_PLANES)} AS qbucket
  FROM e0 WHERE vec_id % 4 = 3
), d AS (
  SELECT q.query_id, c.vec_id AS nn_id, c.bucket,
         {SQL_SQL2.format(a='qe', b='ce')} AS dist
  FROM c JOIN q ON c.bucket = q.qbucket
), r AS (
  SELECT query_id, nn_id, bucket, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, nn_id) AS rn
  FROM d
)
SELECT query_id, nn_id, bucket, round(dist, 4) AS dist,
       (round(dist, 4) <= 1.5) AS is_dup
FROM r WHERE rn = 1
""",
)
def q_stream_ann_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G/V8 [EXT] batch twin of the STREAM-STATIC ANN GATE: each
    arriving vector (the vec_id % 4 == 3 slice — sf-proportional, so
    the stream is non-empty at every scale) is checked against the
    static LSH-indexed corpus for an existing near-duplicate before
    admission — the online dedup gate of a training-data ingest. Top-1
    same-bucket neighbor + is_dup verdict at squared-L2 1.5.

    The formulation is streaming-safe end to end: bucket signature is
    a narrow projection on the arriving side, the index is a broadcast
    static join, and top-1 is a struct-min aggregate (not a rank
    window). tests/test_streaming.py asserts the streamed run equals
    this twin (streaming/events.py:ann_dedup_gate)."""
    from resume_jd_matcher_spark.streaming.events import ann_dedup_gate

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_dedup_gate(
        emb.filter(F.col("vec_id") % 4 == 3),
        emb.filter(F.col("vec_id") % 4 != 3),
        threshold=1.5,
        n_planes=_LSH_PLANES,
    )


@register(
    "stream_topk_trending",
    """
WITH c AS (
  SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
         event_type, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), r AS (
  SELECT day_epoch, event_type, n,
         row_number() OVER (PARTITION BY day_epoch
                            ORDER BY n DESC, event_type) AS rank
  FROM c
)
SELECT day_epoch, rank::INT AS rank, event_type, n
FROM r WHERE rank <= 3
""",
)
def q_stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G [EXT] batch twin of the TRENDING-TOPK monitor: per
    tumbling event-time day, the top-3 event types by count with a
    full deterministic tie-break — the dashboard feed shape. Rank
    windows can't run inside a streaming aggregation, so the streamed
    run is the tumbling pre-aggregate with a STATELESS rank finalize
    (the drift-monitor precedent); tests/test_streaming.py asserts
    equality (streaming/events.py:trending_finalize)."""
    from resume_jd_matcher_spark.streaming.events import trending_finalize

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count("*").alias("n")).select(
        F.unix_timestamp(F.col("w.start")).alias("day_epoch"),
        "event_type",
        "n",
    )
    return trending_finalize(counts, k=3)


_MAGIC_CASE = """CASE WHEN doc_id % 7 = 0 THEN ''
          WHEN doc_id % 3 = 0 THEN '89504E470D0A1A0A'
          WHEN doc_id % 3 = 1 THEN '52494646'
          ELSE '0000001866747970' END"""

_MODALITY_CASE = """CASE WHEN doc_id % 3 = 0 THEN 'image'
          WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"""


@register(
    "media_magic_dispatch",
    f"""
WITH m AS (
  SELECT doc_id, {_MODALITY_CASE} AS declared,
         {_MAGIC_CASE} || hex(encode(text)) AS hx
  FROM documents
), det AS (
  SELECT declared,
         CASE WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'png'
              WHEN starts_with(hx, '52494646') THEN 'riff'
              WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
              ELSE 'unknown' END AS detected,
         (length(hx) // 2)::BIGINT AS bytes
  FROM m
), g AS (
  SELECT declared, detected, count(*)::BIGINT AS n,
         round(avg(bytes) + 1e-9, 2) AS avg_bytes
  FROM det GROUP BY 1, 2
)
SELECT declared, detected, n, avg_bytes,
       (detected = 'unknown' OR declared <>
          CASE WHEN detected = 'png' THEN 'image'
               WHEN detected = 'riff' THEN 'audio'
               ELSE 'video' END) AS mismatch
FROM g
""",
)
def q_media_magic_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6/SRC4 [EXT]: container dispatch by MAGIC BYTES over the
    binary media column — detect PNG / RIFF / ISO-BMFF('ftyp') from
    the payload's leading bytes and reconcile against the declared
    modality; every 7th payload ships headerless so the 'unknown'
    quarantine arm is exercised. The binary-column extension of the
    filename dispatcher (sources/io.py format_dispatch)
    (operators/multimodal.py:magic_dispatch)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_encoded,
        magic_dispatch,
    )

    d = load_table(spark, sf_dir, "documents")
    return magic_dispatch(attach_media_encoded(d))


@register(
    "media_payload_entropy",
    f"""
WITH m AS (
  SELECT doc_id, {_MODALITY_CASE} AS modality,
         {_MAGIC_CASE} || hex(encode(text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, modality, substr(hx, (i - 1) * 2 + 1, 2) AS byte
  FROM m, unnest(generate_series(1, length(hx) // 2)) AS t(i)
), c AS (
  SELECT doc_id, modality, byte, count(*)::DOUBLE AS c
  FROM b GROUP BY 1, 2, 3
), h AS (
  SELECT doc_id, modality,
         log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h
  FROM c GROUP BY 1, 2
)
SELECT modality, count(*)::BIGINT AS n_docs,
       round(avg(h) + 1e-9, 4) AS avg_entropy_bits
FROM h GROUP BY 1
""",
)
def q_media_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: byte-level Shannon entropy of the binary media
    payloads per modality — the decode-free compressed/encrypted-vs-
    plain screen multimodal ingest runs before routing to decoders
    (plain text ~4-5 bits/byte; real compressed media ~8; an 'image'
    blob at text entropy is a mislabel). Linear in payload bytes, two
    bounded hash aggs, no joins
    (operators/multimodal.py:payload_entropy)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_encoded,
        payload_entropy,
    )

    d = load_table(spark, sf_dir, "documents")
    return payload_entropy(attach_media_encoded(d))


@register(
    "stream_view_conversion",
    """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
)
SELECT v.view_id, v.user_id,
       coalesce(p.purchase_id, -1)::BIGINT AS purchase_id,
       coalesce((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000, -1)::BIGINT
         AS lag_s,
       (p.purchase_id IS NOT NULL) AS converted
FROM v LEFT JOIN p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts < v.ts + INTERVAL 1 HOUR
""",
)
def q_stream_view_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G [EXT] batch twin of the LEFT OUTER stream-stream interval
    join (streaming/events.view_conversion_outer): every view joined
    to same-user purchases in the following hour; unmatched views
    emit one purchase_id=-1 row — the per-impression conversion
    ledger. The OUTER side is the new streaming surface vs
    stream_attribution_join's inner join: the no-conversion verdict
    is watermark-driven state eviction, which
    tests/test_streaming.py asserts agrees with this twin on the
    watermark-closed cohort (matched pairs emit immediately; NULL
    rows emit when the purchase watermark passes view_ts + 1h)."""
    from resume_jd_matcher_spark.streaming.events import (
        view_conversion_outer,
    )

    ev = load_table(spark, sf_dir, "events")
    return view_conversion_outer(ev, window_s=3600)


@register(
    "media_ihdr_histogram",
    """
WITH img AS (
  SELECT doc_id,
         16 * (1 + doc_id % 40) AS width,
         16 * (1 + doc_id % 30) AS height
  FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0
)
SELECT 'image' AS modality,
       (width // 128)::INT AS wband,
       (height // 128)::INT AS hband,
       count(*)::BIGINT AS n_docs,
       min(width)::INT AS min_w, max(width)::INT AS max_w,
       min(height)::INT AS min_h, max(height)::INT AS max_h
FROM img GROUP BY 2, 3
""",
)
def q_media_ihdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: fixed-offset HEADER FIELD extraction from the binary
    media column — parse width/height out of the PNG IHDR chunk
    (4-byte big-endian ints at payload offsets 16/20, decoded with a
    base-16 conv, no UDF) and roll into a banded dimension histogram
    per modality. The decode-free metadata probe that sizes decoder
    batches before any image library loads. The oracle recomputes
    the dimensions from the fixture's doc_id arithmetic — a full
    round-trip check of the big-endian encode+parse
    (operators/multimodal.py: attach_media_with_ihdr,
    ihdr_dimensions, dimension_histogram). Narrow per-row parse,
    one bounded hash agg."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_with_ihdr,
        dimension_histogram,
        ihdr_dimensions,
    )

    d = load_table(spark, sf_dir, "documents")
    return dimension_histogram(ihdr_dimensions(attach_media_with_ihdr(d)))


@register(
    "media_ext_quarantine",
    f"""
WITH m AS (
  SELECT doc_id,
         {_MODALITY_CASE} AS declared,
         {_MAGIC_CASE} || hex(encode(text)) AS hx
  FROM documents
), r AS (
  SELECT doc_id, hx,
         CASE WHEN doc_id % 11 = 0 THEN 'quarantine'
              WHEN doc_id % 13 = 0 THEN
                CASE declared WHEN 'image' THEN 'wav'
                              WHEN 'audio' THEN 'mp4'
                              ELSE 'png' END
              ELSE CASE declared WHEN 'image' THEN 'png'
                                 WHEN 'audio' THEN 'wav'
                                 ELSE 'mp4' END END AS route,
         CASE WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'png'
              WHEN starts_with(hx, '52494646') THEN 'riff'
              WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
              ELSE 'unknown' END AS detected
  FROM m
)
SELECT route, detected, count(*)::BIGINT AS n,
       (route = 'quarantine' OR detected = 'unknown' OR
        detected <> CASE route WHEN 'png' THEN 'png'
                               WHEN 'wav' THEN 'riff'
                               WHEN 'mp4' THEN 'mp4'
                               ELSE 'quarantine' END) AS quarantined
FROM r GROUP BY 1, 2
""",
)
def q_media_ext_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6/SRC4 [EXT]: extension-vs-magic admission screen — the SRC4
    filename dispatcher (sources/io.format_dispatch, media
    whitelist) routes by extension, the payload's magic bytes name
    the actual container, and disagreement is the quarantine
    verdict. Catches the three planted defect classes: unsupported
    extensions (doc_id%11), renamed files (supported extension,
    wrong container, doc_id%13), and headerless payloads (doc_id%7).
    All per-row narrow projections on one scan + one bounded
    (route × detected) hash agg (operators/multimodal.py:
    attach_media_paths, ext_magic_quarantine)."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_encoded,
        attach_media_paths,
        ext_magic_quarantine,
    )

    d = load_table(spark, sf_dir, "documents")
    return ext_magic_quarantine(attach_media_paths(attach_media_encoded(d)))


@register(
    "media_wav_census",
    """
WITH a AS (
  SELECT doc_id,
         (1 + doc_id % 2)::INT AS channels,
         (8000 * (1 + doc_id % 5))::INT AS sample_rate_hz,
         (8 * (1 + doc_id % 2))::INT AS bits
  FROM documents
  WHERE doc_id % 3 = 1 AND doc_id % 7 <> 0
)
SELECT channels, sample_rate_hz, bits, TRUE AS rate_consistent,
       count(*)::BIGINT AS n_docs
FROM a GROUP BY 1, 2, 3
""",
)
def q_media_wav_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 [EXT]: fixed-offset LITTLE-endian header extraction — parse
    channels / sample_rate / bits / byte_rate out of the WAV 'fmt '
    chunk (LE byte-pair-reversed base-16 conv, no UDF) and roll into
    the audio format census with the PCM byte_rate consistency
    verdict. The little-endian complement of media_ihdr_histogram:
    together they cover both byte orders container metadata uses.
    The oracle recomputes every field from the fixture's doc_id
    arithmetic — a full round-trip of the LE encode+parse
    (operators/multimodal.py: attach_media_with_wav_fmt,
    wav_fmt_fields). Narrow per-row parse, one bounded hash agg."""
    from resume_jd_matcher_spark.operators.multimodal import (
        attach_media_with_wav_fmt,
        wav_fmt_fields,
    )

    d = load_table(spark, sf_dir, "documents")
    f = wav_fmt_fields(attach_media_with_wav_fmt(d))
    return f.groupBy(
        "channels", "sample_rate_hz", "bits", "rate_consistent"
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
