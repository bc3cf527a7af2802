"""Distributed global prefix aggregation (rank + running sum) WITHOUT
a single-partition window.

The naive Spark spelling of "global running total ordered by X" is
``Window.orderBy(X)`` with no partitionBy — Spark funnels the ENTIRE
dataset through one task, the canonical scale-killer this repo's plan
audit hunts for. This module uses the bucket-offset pattern instead
(the same shape as queries' corpus_shuffle, and what every MPP engine
does for global ORDER BY + RANK):

1. one 1-row (min, max) agg over the leading order key, broadcast;
2. a MONOTONE bucket id per row via width_bucket against that range —
   a pure projection, so bucket assignment costs no shuffle and is
   trivially deterministic (unlike sampled range partitioning);
3. per-bucket (count, sum) totals — a map-side-combined hash agg
   whose shuffle is n_buckets rows;
4. prefix-scan the totals (the ONLY unpartitioned window, over
   n_buckets rows — bounded by configuration, not data);
5. one window PARTITIONED BY bucket over the data, plus the broadcast
   offsets: global rank = bucket offset + intra-bucket row_number,
   global running sum likewise.

Net data movement: ONE hash shuffle of the input (the per-bucket
window's Exchange). Three consumers (stats, totals, final) share the
input, so its lineage would otherwise run three times; how that is
paid is the caller's choice via ``checkpoint``:

- ``checkpoint=True`` (default) localCheckpoints the input — right
  for already-AGGREGATED grains (parts, customers, distinct values),
  where the materialization is much smaller than re-running the agg.
- ``checkpoint=False`` recomputes the lineage per consumer — right
  when the input is a bare column-pruned SCAN projection
  (token_budget_curriculum, compaction_plan pass fact-sized frames
  straight off parquet): three pruned scans beat storing the whole
  fact in executor memory at large sf, and the scans stay
  pushdown-pruned.

Monotone-bucket caveat: the default ``bounds="width"`` is equal-WIDTH
(width_bucket), not equal-height; a skewed key distribution
concentrates rows in few buckets, degrading parallelism but never
correctness — every row of an order-key tie lands in the same bucket,
which is exactly what a prefix over a total order requires. For
skew-prone leading keys pass ``bounds="height"``: one extra
approx-percentile agg over the grain yields sampled equal-height
bucket bounds (broadcast, n_buckets-1 doubles), restoring balanced
buckets for any continuous-ish distribution. Mass ties on ONE value
still concentrate under either mode — rank semantics require a tie to
share a bucket.

Determinism: callers must pass a TOTAL order (include a unique id as
the last order column) so rank is reproducible run-to-run and across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Matches the repo-wide shuffle-partition default (session.tune).
DEFAULT_BUCKETS = 64


def global_prefix(
    df: DataFrame,
    order_cols: list[str],
    sum_col: str | None = None,
    ascending: bool = True,
    n_buckets: int = DEFAULT_BUCKETS,
    sum_type: str = "double",
    bounds: str = "width",
    checkpoint: bool = True,
) -> DataFrame:
    """Append exact global ``rank`` (1-based) and ``cum_sum``
    (inclusive running total of ``sum_col``) under the total order
    given by ``order_cols``. The leading order column drives the
    bucketing and must be numeric and non-null. ``sum_col=None``
    skips the running totals entirely (rank-only callers like
    sort_key_advisor's block numbering — no per-bucket sums, no
    data-sized running aggregate, just the row_number over each
    bucket).

    Output: input columns + (rank BIGINT, cum_sum of ``sum_type``).

    Pass ``sum_type="bigint"`` with an integer-valued column (e.g.
    prices pre-converted to cents) when the caller needs
    bit-deterministic accumulation: float running sums depend on
    association order (bucket offsets here vs strict left-to-right in
    a SQL oracle), integer sums do not.

    ``bounds``: ``"width"`` (default) assigns buckets by equal-width
    width_bucket against the (min, max) range — zero extra data pass,
    best for roughly uniform leading keys. ``"height"`` spends one
    approx-percentile agg on sampled equal-height bounds — use when
    the leading key is heavily skewed (e.g. Zipf/power-law spend), or
    equal-width would funnel most rows through few buckets. Either
    way bucket assignment is a monotone function of the leading key,
    which is all correctness requires; the choice only moves
    parallelism (see SCALE.md "skewed-key curve": at 10x on a
    power-law spend grain, height measured 8.08 s vs width's 9.04 s).

    ``checkpoint``: True (default) freezes the input once for the
    three internal consumers — use for aggregated grains. False
    recomputes the input lineage per consumer — use when the input is
    a raw fact-scan projection, where re-reading three pruned parquet
    scans is cheaper at scale than materializing the fact (see module
    docstring).
    """
    if bounds not in ("width", "height"):
        raise ValueError(f"bounds must be 'width' or 'height': {bounds!r}")
    sum_cols = [] if sum_col is None else [sum_col]
    cols = [
        F.col(c).asc() if ascending else F.col(c).desc() for c in order_cols
    ]
    lead = F.col(order_cols[0]).cast("double")
    # Three consumers below; freeze aggregated grains once, or let
    # raw-scan callers re-read the pruned scan (see docstring).
    grain = df.localCheckpoint() if checkpoint else df
    if bounds == "width":
        stats = grain.agg(
            F.min(lead).alias("_lo"), F.max(lead).alias("_hi")
        )
        raw_bkt = F.when(F.col("_hi") == F.col("_lo"), F.lit(1)).otherwise(
            F.width_bucket(lead, "_lo", "_hi", F.lit(n_buckets))
        )
        drop_stats = ["_lo", "_hi"]
    else:
        fracs = F.array(
            *[F.lit(i / n_buckets) for i in range(1, n_buckets)]
        )
        # accuracy 2000 bounds the sketch cost; bound precision only
        # affects load balance (never rank correctness), so a coarse
        # sketch is the right trade. Pinned eagerly REGARDLESS of the
        # checkpoint flag: the stats subplan is embedded in two
        # consumer subtrees (offsets build + final rank join), and
        # percentile_approx is merge-order-sensitive — if Spark's
        # exchange reuse ever fails to kick in (reuse disabled, AQE
        # replanning diverges), the two sides would bucket with
        # DIFFERENT bounds and silently corrupt every rank. One row /
        # n_buckets-1 doubles: computing it exactly once by
        # construction costs nothing. width mode needs no pin —
        # min/max are merge-order-invariant, so a recompute cannot
        # diverge.
        stats = grain.agg(
            F.percentile_approx(lead, fracs, F.lit(2_000)).alias("_bnds")
        ).localCheckpoint(eager=True)
        # bucket = 1 + #bounds strictly below the key: monotone, ties
        # share a bucket, and the per-row cost is an O(n_buckets) fold
        # inside codegen (no shuffle, no UDF).
        raw_bkt = F.lit(1) + F.aggregate(
            F.col("_bnds"),
            F.lit(0),
            lambda acc, b: acc + F.when(lead > b, 1).otherwise(0),
        )
        drop_stats = ["_bnds"]
    # A NULL leading key would get a NULL bucket and be silently
    # DROPPED by the inner offsets join below, corrupting every global
    # rank. Fail fast instead: assert_true returns NULL when the
    # predicate holds, so the when() branch always fires on valid input
    # and the assert stays in the computation path (an unused check
    # column would be pruned by Catalyst).
    bucketed = (
        grain.crossJoin(F.broadcast(stats))
        .withColumn(
            "_bkt",
            F.when(
                F.assert_true(
                    lead.isNotNull(),
                    F.lit(
                        "global_prefix: leading order key must be non-null"
                    ),
                ).isNull(),
                raw_bkt,
            ),
        )
        .drop(*drop_stats)
    )
    per_bucket = bucketed.groupBy("_bkt").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.col(c).cast(sum_type)).alias(f"_s{i}")
            for i, c in enumerate(sum_cols)
        ],
    )
    # The ONLY unpartitioned window: n_buckets rows.
    bkt_order = F.col("_bkt").asc() if ascending else F.col("_bkt").desc()
    w = Window.orderBy(bkt_order).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "_bkt",
        F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_off_n"),
        *[
            F.coalesce(F.sum(f"_s{i}").over(w), F.lit(0).cast(sum_type))
            .alias(f"_off_s{i}")
            for i in range(len(sum_cols))
        ],
    )
    intra = Window.partitionBy("_bkt").orderBy(*cols)
    intra_run = intra.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        bucketed.join(F.broadcast(offsets), "_bkt")
        .select(
            *df.columns,
            (F.col("_off_n") + F.row_number().over(intra)).alias("rank"),
            *[
                (
                    F.col(f"_off_s{i}")
                    + F.sum(F.col(c).cast(sum_type)).over(intra_run)
                ).alias("cum_sum")
                for i, c in enumerate(sum_cols)
            ],
        )
    )
