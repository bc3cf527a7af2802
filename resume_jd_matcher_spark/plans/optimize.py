"""Physical-plan helpers (SURVEY.md §4).

Catalyst already provides pushdown, pruning, broadcast selection, AQE
— this covers the one place the engine must shape the plan itself:
making sure a cross-join's streamed side has enough partitions to use
every core (a small parquet file arrives as ONE partition, and
BroadcastNestedLoopJoin inherits the streamed side's parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism if it
    currently has fewer partitions.

    Intended for the *streamed* side of a broadcast cross join whose
    source is a handful of small files: the O(N·M) pair computation
    inherits the scan's partitioning, so one input split = one core.
    At real scale the scan already yields hundreds of splits and this
    is a no-op (the partition check avoids a gratuitous shuffle).

    Caveat: the check reads the PRE-AQE partition count, so it is
    blind to runtime coalescing — a shuffle feeding a bare
    ``localCheckpoint`` can still land on ~3 partitions and pin that
    (an r9 trace measured 5.9x the time at 10x the data). If a
    checkpoint must keep its parallelism, ``repartition(n)`` FIRST
    (REPARTITION_BY_NUM is exempt from AQE coalescing by contract) —
    though the better fix is usually restructuring so no checkpoint
    is needed at all.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Cache-release discipline (r8 advisor note -> r10 resolution):
# queries that persist() a shared intermediate (pair spaces, vocab
# grains) enroll it in the engine-wide ledger
# (operators/dedup._PERSISTED); the sweep hooks (tools/driver_sim.py,
# bench.py) call dedup.release_persisted() after EVERY query's
# action, so caches are reclaimed deterministically instead of at
# session-end LRU. An earlier draft eagerly localCheckpoint'ed the
# result and unpersisted inline ("materialize_and_release"), but the
# construction-time checkpoint hid the whole subplan from the plan
# audits (the registry-wide cartesian sweep) behind a
# Scan ExistingRDD node and ran the job whenever the plan was merely
# built — the lazy ledger keeps both properties without either cost.
