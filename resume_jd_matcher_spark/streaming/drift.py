"""Streaming distribution-drift monitor: PSI per event-time window
against an offline baseline.

The batch drift query (`psi_drift`) answers "did the
distribution move between two static snapshots?". This module is the
STREAMING member: arriving events are bucketed and counted per
tumbling window with ONE streaming aggregation (state bounded by
windows-in-flight × types × buckets); the PSI reduction itself is a
stateless batch finalize over that bounded pre-aggregate — the
standard streaming pre-agg + batch-finalize split, because PSI needs
the window's TOTAL and Structured Streaming disallows chained
aggregations in one query.

Reference behavior anchor: the reference engine has no streaming
surface at all (SURVEY.md §2.G — Flask request/response only,
app.py:24-61); this is part of the §2.G extension family, kept
semantically aligned with the batch `psi_drift` query's PSI
definition (same eps floor, same ln formulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 10
BUCKET_WIDTH = 25.0
EPS = 1e-4
PSI_ALERT = 0.2  # the standard industry threshold


def value_bucket(col: F.Column) -> F.Column:
    """Fixed-width value bucket, clamped to [0, N_BUCKETS): a pure
    projection, identical in the stream, the batch twin and the SQL
    oracle (greatest(least(floor(value / 25), 9), 0)).

    Clamped at BOTH ends: an unclamped negative value would take a
    bucket < 0 that matches no row of the completed 0..9 grid — the
    rows would still inflate the per-type totals while contributing
    zero PSI terms, so a drift INTO negative values could never trip
    the alert."""
    return F.greatest(
        F.least(
            F.floor(col / F.lit(BUCKET_WIDTH)).cast("int"),
            F.lit(N_BUCKETS - 1),
        ),
        F.lit(0),
    )


def baseline_dist(events_batch: DataFrame) -> DataFrame:
    """Offline per-type bucket distribution with the (type × bucket)
    grid completed and the EPS floor applied — the broadcast-sized
    static side (|types| × N_BUCKETS rows).

    Output: (event_type, bkt, p_base)."""
    cnt = (
        events_batch.select(
            "event_type", value_bucket(F.col("value")).alias("bkt")
        )
        .groupBy("event_type", "bkt")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    grid = tot.select(
        "event_type",
        "tot",
        F.explode(
            F.array(*[F.lit(b) for b in range(N_BUCKETS)])
        ).alias("bkt"),
    )
    return grid.join(cnt, ["event_type", "bkt"], "left").select(
        "event_type",
        "bkt",
        F.greatest(
            F.coalesce(F.col("n"), F.lit(0)) / F.col("tot").cast("double"),
            F.lit(EPS),
        ).alias("p_base"),
    )


def stream_bucket_counts(events: DataFrame, width: str = "1 day") -> DataFrame:
    """The ONE streaming aggregation: tumbling per-(window, type,
    bucket) counts. State is bounded by windows-in-flight × |types| ×
    N_BUCKETS — independent of event volume.

    Output: (day_epoch, event_type, bkt, n)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"),
            "event_type",
            value_bucket(F.col("value")).alias("bkt"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("day_epoch"),
            "event_type",
            "bkt",
            "n",
        )
    )


def psi_finalize(counts: DataFrame, baseline: DataFrame) -> DataFrame:
    """Stateless batch finalize: complete each observed (window, type)
    against the baseline grid, apply the EPS floor to the current
    share, and reduce to PSI = Σ (p_cur − p_base)·ln(p_cur/p_base).
    `drift` compares the ROUNDED psi with the 0.2 alert threshold so
    the boolean is float-portable.

    All inputs are bounded pre-aggregates (windows × types × buckets),
    so every join here is broadcast-sized.

    Output: (day_epoch, event_type, psi, drift)."""
    tot = counts.groupBy("day_epoch", "event_type").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    # Re-referencing `counts` beside an aggregate derived from it is a
    # self-join; rename the join keys so the two sides can't share
    # attribute references (Spark resolves renamed columns cleanly).
    obs = counts.select(
        F.col("day_epoch").alias("o_day"),
        F.col("event_type").alias("o_type"),
        F.col("bkt").alias("o_bkt"),
        F.col("n").alias("o_n"),
    )
    cur = (
        tot.join(F.broadcast(baseline), "event_type")
        .join(
            obs,
            (F.col("o_day") == F.col("day_epoch"))
            & (F.col("o_type") == F.col("event_type"))
            & (F.col("o_bkt") == F.col("bkt")),
            "left",
        )
        .select(
            "day_epoch",
            "event_type",
            "p_base",
            F.greatest(
                F.coalesce(F.col("o_n"), F.lit(0))
                / F.col("tot").cast("double"),
                F.lit(EPS),
            ).alias("p_cur"),
        )
    )
    psi = F.round(
        F.sum(
            (F.col("p_cur") - F.col("p_base"))
            * F.log(F.col("p_cur") / F.col("p_base"))
        )
        + F.lit(1e-9),
        6,
    )
    return cur.groupBy("day_epoch", "event_type").agg(
        psi.alias("psi"),
        (psi > F.lit(PSI_ALERT)).alias("drift"),
    )
