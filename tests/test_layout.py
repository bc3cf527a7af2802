"""Storage-layout levers for 100 TB (SCALE.md "Scans"): partition
pruning on a date-partitioned table and row-group data skipping via
sort-within-partitions. Layout is what makes the difference between
scanning 100 TB and scanning the 100 GB a query actually needs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from resume_jd_matcher_spark.plans.optimize import physical_plan
from resume_jd_matcher_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def partitioned_events(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout") / "events_by_day")
    (
        load_table(spark, SF, "events")
        .withColumn("event_date", F.to_date("ts"))
        # sort within files by user_id: parquet row-group min/max on
        # user_id become selective -> predicate pushdown skips groups
        .repartition("event_date")
        .sortWithinPartitions("user_id")
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(out)
    )
    return out


def test_partition_pruning_prunes_directories(spark, partitioned_events):
    df = spark.read.parquet(partitioned_events)
    dates = [r[0] for r in df.select("event_date").distinct().collect()]
    assert len(dates) > 3  # fixture spans a month
    one = df.filter(F.col("event_date") == str(sorted(dates)[0]))
    plan = physical_plan(one)
    # the date predicate must be a PartitionFilter (directory pruning),
    # not a post-scan Filter over all files
    assert "PartitionFilters: [" in plan
    assert "isnotnull(event_date" in plan or "event_date" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_partition_pruning_reads_fewer_files(spark, partitioned_events):
    df = spark.read.parquet(partitioned_events)
    dates = sorted(r[0] for r in df.select("event_date").distinct().collect())
    all_files = df.inputFiles()
    one_day = df.filter(F.col("event_date") == str(dates[0]))
    # inputFiles() is pre-pruning; count the actual partition dirs
    day_dirs = {os.path.dirname(f) for f in all_files}
    assert len(day_dirs) == len(dates)
    assert one_day.count() == df.filter(
        F.col("event_date") == str(dates[0])
    ).count()


def test_pushed_filter_on_sorted_column(spark, partitioned_events):
    df = spark.read.parquet(partitioned_events).filter(F.col("user_id") == 7)
    plan = physical_plan(df)
    assert "PushedFilters: [" in plan and "user_id" in plan.split(
        "PushedFilters:"
    )[1].split("]")[0]


def test_partitioned_result_matches_unpartitioned(spark, partitioned_events):
    base = load_table(spark, SF, "events")
    part = spark.read.parquet(partitioned_events)
    got = (
        part.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    )
    want = base.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_schema_evolution_merge_read(spark, tmp_path):
    """Corpus schemas evolve (new metadata columns appear mid-crawl):
    mergeSchema reads the union schema, old files surface NULLs, and
    filters still push down on columns present in every file."""
    out = str(tmp_path / "evolving")
    v1 = load_table(spark, SF, "documents").select("doc_id", "text")
    v2 = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text", "lang")
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    v1.write.parquet(out + "/batch=1")
    v2.write.parquet(out + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) >= {"doc_id", "text", "lang"}
    assert merged.count() == v1.count() + v2.count()
    # old files: evolved column is NULL, not an error
    old = merged.filter(F.col("doc_id") < 100000)
    assert old.filter(F.col("lang").isNull()).count() == old.count()
    plan = physical_plan(merged.filter(F.col("doc_id") == 5).select("doc_id"))
    assert "PushedFilters: [" in plan and "doc_id" in plan.split(
        "PushedFilters:"
    )[1].split("]")[0]


def test_range_partitioned_sorted_write(spark, tmp_path):
    """Globally-sorted output layout: repartitionByRange + sortWithin
    Partitions writes files whose key ranges don't overlap — the
    layout that makes downstream merge reads and range pruning cheap."""
    out = str(tmp_path / "sorted_events")
    ev = load_table(spark, SF, "events")
    (
        ev.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # per-file min/max user_id ranges must not overlap (global sort)
    import pyarrow.parquet as pq

    ranges = []
    for f in back.inputFiles():
        t = pq.read_table(f.replace("file:", ""), columns=["user_id"])
        vals = t.column("user_id").to_pylist()
        if vals:
            ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping ranges {(lo1, hi1)} vs {(lo2, hi2)}"


def test_lsh_index_persist_and_probe(spark, tmp_path):
    """V3 'index build' the Spark-native way: persist the LSH bucket
    assignment (with its n_planes metadata) once, probe it later
    without recomputing signatures — probe results equal the direct
    in-flight path, and a mismatched n_planes probe is rejected
    instead of silently returning an empty join."""
    import pytest as _pytest

    from resume_jd_matcher_spark.operators.ann import (
        build_lsh_index,
        lsh_bucket_topk,
        probe_lsh_index,
    )

    out = str(tmp_path / "lsh_index")
    emb = load_table(spark, SF, "embeddings")
    build_lsh_index(emb.select("vec_id", "embedding"), out, n_planes=8)

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    direct = lsh_bucket_topk(emb.select("vec_id", "embedding"), q, k=5)
    probed = probe_lsh_index(spark, out, q, k=5, n_planes=8)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, probed.collect())
    )

    with _pytest.raises(ValueError, match="n_planes=8"):
        probe_lsh_index(spark, out, q, k=5, n_planes=16)
    with _pytest.raises(ValueError, match="_lsh_meta"):
        probe_lsh_index(spark, str(tmp_path / "nope"), q, k=5)


def test_incremental_daily_processing_equals_full_batch(
    spark, partitioned_events, tmp_path
):
    """The incremental-batch pattern: process one day-partition at a
    time (partition-pruned read), append each day's aggregate to a
    results table — the accumulated result equals the full-batch
    answer. This is how a 100 TB pipeline processes only the new day,
    not the whole history."""
    out = str(tmp_path / "daily_agg")
    df = spark.read.parquet(partitioned_events)
    dates = sorted(r[0] for r in df.select("event_date").distinct().collect())
    for d in dates:  # each iteration reads ONE pruned partition
        (
            df.filter(F.col("event_date") == str(d))
            .groupBy("event_date", "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
            .write.mode("append")
            .parquet(out)
        )
    got = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    want = (
        load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

