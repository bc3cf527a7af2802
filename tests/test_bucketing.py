"""Bucketing: pre-partitioned co-located joins skip the shuffle —
the storage-side scale lever for repeated joins on the same key."""

from __future__ import annotations

import pytest

from conftest import physical_plan
from resume_jd_matcher_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_bucketed_join_has_no_shuffle(spark):
    import os
    import shutil
    import uuid

    tag = uuid.uuid4().hex[:8]
    t_orders, t_customer = f"b_orders_{tag}", f"b_customer_{tag}"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    # These fixture tables are broadcast-sized; disable broadcast so the
    # planner takes the bucketed sort-merge path the test demonstrates.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, SF, "orders")
        c = load_table(spark, SF, "customer")
        (
            o.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(t_orders)
        )
        (
            c.write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(t_customer)
        )

        bo = spark.table(t_orders)
        bc = spark.table(t_customer)
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey).select(
            "o_orderkey", "c_custkey"
        )
        plan = physical_plan(joined)
        # Both sides pre-bucketed on the join key → SortMergeJoin with
        # no shuffle exchange anywhere in the plan.
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_customer}")
        for t in (t_orders, t_customer):
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

