"""Measure the RELATIONAL scale curve (r7 verdict task #5):
run the registered TPC-H-shaped queries on a synthetic 1x and
10x corpus (deterministic spark.range + xxhash64 columns, partition-
parallel, no driver loops) and report wall-clock ratios, plus a
dedicated `global_prefix` stress under a power-law-SKEWED leading key
comparing the equal-width and sampled equal-height bucket modes.

The r7 curve (tools/scale_curve.py) covered text/dedup kernels only;
this closes the relational side. Equal-width width_bucket is the
documented weak spot (operators/prefix.py): a Zipf-ish key funnels
most rows into few buckets — degraded parallelism, never wrong
answers. The skew table below quantifies it and justifies the
`bounds="height"` default for revenue-/spend-ranked callers.

Usage: python tools/scale_curve_rel.py [n_orders_base] [mult]
Appends/replaces the "## Measured scale curve - relational" section
in SCALE.md and prints the table.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BASE = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 10
SUPERLINEAR_AT = 1.35 * MULT
WORK = "/tmp/spark_graft_scale_rel"
SKEW_N = 500_000

EPOCH_1992 = 694_224_000  # 1992-01-01 UTC, TPC-H-ish date floor


def synth_rel(spark, n_orders: int, d: str) -> None:
    """Write orders/lineitem/part parquet shaped like TESTDATA.md's
    tables: deterministic xxhash64-derived columns, 32 partitions,
    ~uniform keys (the skew stress has its own dedicated kernel)."""
    from pyspark.sql import functions as F

    # keyed on a size marker so a work dir left by a DIFFERENT
    # n_orders run regenerates instead of silently timing stale data
    # (an events.parquet-existence check ignored the CLI size args),
    # and on the newest synth artifact so an older tool version's dir
    # (no events table) regenerates instead of half-missing.
    # v2: adds customer.parquet (round-9 neyman/BH kernels)
    # v3: adds supplier.parquet (round-10 join_cardinality_qerror)
    # v4: l_suppkey drawn from the SUPPLIER key space (v3 reused the
    #     part modulus, so ~97% of lineitems dangled in the
    #     lineitem-supplier join the qerror kernel times)
    marker = os.path.join(d, f".n_orders_v4_{n_orders}")
    if os.path.exists(os.path.join(d, "events.parquet")) and os.path.exists(
        marker
    ):
        return
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    n_cust = max(n_orders // 10, 1)
    n_parts = max(n_orders // 5, 1)
    n_supp = max(n_orders // 150, 1)

    def h(col, seed, mod):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(mod))

    oid = F.col("id")
    (
        spark.range(1, n_orders + 1, 1, 32)
        .select(
            oid.alias("o_orderkey"),
            (h(oid, 1, n_cust) + 1).alias("o_custkey"),
            F.lit("O").alias("o_orderstatus"),
            ((h(oid, 2, 49_999_900) + 100) / 100.0).alias("o_totalprice"),
            F.timestamp_seconds(
                F.lit(EPOCH_1992) + h(oid, 3, 2400) * 86400
            ).alias("o_orderdate"),
            F.lit("1-URGENT").alias("o_orderpriority"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "orders.parquet"))
    )
    lid = F.col("id")
    (
        spark.range(0, n_orders * 4, 1, 32)
        .select(
            (F.floor(lid / 4) + 1).alias("l_orderkey"),
            (h(lid, 4, n_parts) + 1).alias("l_partkey"),
            (h(lid, 5, n_supp) + 1).alias("l_suppkey"),
            (F.pmod(lid, F.lit(4)) + 1).cast("int").alias("l_linenumber"),
            (h(lid, 6, 50) + 1.0).alias("l_quantity"),
            ((h(lid, 7, 9_999_900) + 100) / 100.0).alias("l_extendedprice"),
            (h(lid, 8, 11) / 100.0).alias("l_discount"),
            (h(lid, 9, 9) / 100.0).alias("l_tax"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                (h(lid, 10, 3) + 1).cast("int"),
            ).alias("l_returnflag"),
            F.lit("O").alias("l_linestatus"),
            F.timestamp_seconds(
                F.lit(EPOCH_1992) + h(lid, 11, 2500) * 86400
            ).alias("l_shipdate"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "lineitem.parquet"))
    )
    eid = F.col("id")
    n_users = max(n_orders // 100, 1)
    (
        spark.range(0, n_orders, 1, 32)
        .select(
            eid.alias("event_id"),
            F.timestamp_seconds(
                F.lit(1_704_067_200)  # 2024-01-01 UTC, TESTDATA.md shape
                + h(eid, 15, 30) * 86400
                + h(eid, 16, 86400)
            ).alias("ts"),
            (h(eid, 17, n_users) + 1).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("signup"),
                    F.lit("purchase"), F.lit("error"),
                ),
                (h(eid, 18, 5) + 1).cast("int"),
            ).alias("event_type"),
            ((h(eid, 19, 48_999) + 1) / 100.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "events.parquet"))
    )
    pid = F.col("id")
    (
        spark.range(1, n_parts + 1, 1, 32)
        .select(
            pid.alias("p_partkey"),
            F.concat(F.lit("part-"), pid).alias("p_name"),
            F.concat(
                F.lit("Brand#"), (h(pid, 12, 25) + 11).cast("string")
            ).alias("p_brand"),
            F.lit("STANDARD").alias("p_type"),
            (h(pid, 13, 50) + 1).cast("int").alias("p_size"),
            ((h(pid, 14, 99_900) + 100) / 100.0).alias("p_retailprice"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "part.parquet"))
    )
    cid = F.col("id")
    (
        spark.range(1, n_cust + 1, 1, 32)
        .select(
            cid.alias("c_custkey"),
            F.concat(F.lit("Customer#"), cid).alias("c_name"),
            h(cid, 20, 25).cast("int").alias("c_nationkey"),
            ((h(cid, 21, 1_099_999) - 99_999) / 100.0).alias("c_acctbal"),
            F.element_at(
                F.array(
                    F.lit("AUTOMOBILE"), F.lit("BUILDING"),
                    F.lit("FURNITURE"), F.lit("HOUSEHOLD"),
                    F.lit("MACHINERY"),
                ),
                (h(cid, 22, 5) + 1).cast("int"),
            ).alias("c_mktsegment"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "customer.parquet"))
    )
    sid = F.col("id")
    (
        spark.range(1, n_supp + 1, 1, 32)
        .select(
            sid.alias("s_suppkey"),
            F.concat(F.lit("Supplier#"), sid).alias("s_name"),
            h(sid, 23, 25).cast("int").alias("s_nationkey"),
            ((h(sid, 24, 1_099_999) - 99_999) / 100.0).alias("s_acctbal"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d, "supplier.parquet"))
    )
    open(marker, "w").close()


def masstie_spend(spark, n: int):
    """Mass-tie grain: ONE value (0 cents) holds 30% of all rows; the
    rest are continuous power-law. Rank semantics force every row of a
    tie into the same bucket under ANY monotone scheme, so this is the
    distribution NEITHER bounds mode can rebalance — the measurement
    quantifies the floor, it doesn't fix it (a tie's intra-bucket
    window cost is unavoidable for exact dense ranks)."""
    from pyspark.sql import functions as F

    u = F.pmod(F.xxhash64(F.col("id"), F.lit(22)), F.lit(2_000)) + 1
    tied = F.pmod(F.xxhash64(F.col("id"), F.lit(23)), F.lit(10)) < 3
    return spark.range(0, n, 1, 32).select(
        F.col("id").alias("k"),
        F.when(tied, F.lit(0))
        .otherwise(F.floor(F.lit(1.0e12) / (u * u)))
        .cast("bigint")
        .alias("cents"),
    )


def skew_spend(spark, n: int):
    """CONTINUOUS power-law spend grain: cents = floor(1e12 / u²) for
    u uniform in [1, 2000] — ~99.6% of rows land in the bottom 0.1%
    of the value range (bucket 1 for equal-width bounds) while the
    2000 distinct values keep ties bucketable, so sampled equal-height
    bounds CAN rebalance. This isolates the skew failure mode from
    the mass-tie failure mode (a single value holding 30% of rows is
    unbucketable under ANY monotone scheme — rank semantics force a
    tie to share a bucket; measured separately in the r8 notes)."""
    from pyspark.sql import functions as F

    u = F.pmod(F.xxhash64(F.col("id"), F.lit(21)), F.lit(2_000)) + 1
    return spark.range(0, n, 1, 32).select(
        F.col("id").alias("k"),
        F.floor(F.lit(1.0e12) / (u * u)).cast("bigint").alias("cents"),
    )


REGISTERED = [
    # round-9 curation/governance members with relational inputs:
    # day-grain SPC/complexity/rank-corr kernels, the prefix-scan
    # layout advisor (the one fact-ranking member), the event-grain
    # group-sequential monitor, and the two customer-dim designs.
    "imr_control_chart",
    "permutation_entropy",
    "spearman_daily_corr",
    "sort_key_advisor",
    "obrien_fleming_monitor",
    "neyman_allocation",
    "benjamini_hochberg",
    # round-10 inference family (all relational inputs; the one
    # documents member, local_clustering, shares graph_triangles'
    # minhash-edge kernel already covered by the text curve):
    "jarque_bera",
    "anova_oneway",
    "kruskal_wallis",
    "levene_test",
    "ljung_box",
    "durbin_watson",
    "holt_linear_forecast",
    "brier_logloss",
    "matthews_mcc",
    "theil_index",
    "hhi_concentration",
    "grubbs_test",
    "rolling_beta",
    # round-10 inference batch 5 (relational members; good_turing /
    # jsd_drift / textrank_keywords are documents kernels on the
    # text-curve side of the boundary):
    "mann_whitney_u",
    "friedman_test",
    "breusch_pagan",
    "gumbel_maxima",
    # round-10 inference batch 6 (relational members;
    # embedding_effective_rank needs an embeddings table this corpus
    # doesn't synthesize — its Gram kernel is the PCA kernel already
    # measured via bench + the three-sf sims):
    "log_rank_test",
    "price_index_fisher",
    "tukey_hsd",
    "cooks_distance",
    # round-10 inference batch 7 (events inputs; k_core_graph is a
    # documents kernel sharing the text curve's minhash-edge chain;
    # markov_attribution's value iteration runs on the bounded
    # (variants x states) grain — its fact cost is the journey
    # window, measured here):
    "rmst",
    "hosmer_lemeshow",
    "isotonic_calibration",
    "markov_attribution",
    # round-10 batch 8 (customer / orders inputs):
    "gaussian_mixture_em",
    "periodogram",
]


def main() -> None:
    from resume_jd_matcher_spark import queries as Q
    from resume_jd_matcher_spark.operators.prefix import global_prefix
    from resume_jd_matcher_spark.session import get_spark

    spark = get_spark("scale-curve-rel")
    dirs = {}
    for label, n in (("1x", N_BASE), (f"{MULT}x", N_BASE * MULT)):
        d = os.path.join(WORK, label)
        synth_rel(spark, n, d)
        dirs[label] = d

    def run(thunk) -> float:
        t0 = time.perf_counter()
        thunk().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # warm JVM + scans
    for d in dirs.values():
        for t in ("orders", "lineitem", "part", "events"):
            spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()

    rows = []
    for name in REGISTERED:
        spark.sparkContext._jvm.System.gc()
        fn = Q._REGISTRY[name].fn
        t1 = min(run(lambda: fn(spark, dirs["1x"])) for _ in range(2))
        t10 = min(run(lambda: fn(spark, dirs[f"{MULT}x"])) for _ in range(2))
        ratio = t10 / t1 if t1 > 0 else float("inf")
        flag = "**SUPER-LINEAR**" if ratio > SUPERLINEAR_AT else "ok"
        rows.append((name, t1, t10, ratio, flag))
        print(f"{name}: {t1:.2f}s -> {t10:.2f}s  ratio {ratio:.1f}  {flag}")

    # --- skewed-key global_prefix stress: width vs height bounds,
    # plus the mass-tie floor neither mode can rebalance ---
    skew_rows = []
    for gen, label in ((skew_spend, "skew"), (masstie_spend, "masstie")):
        for mode in ("width", "height"):
            # The 10x kernels leave broadcast blocks + shuffle state
            # behind; without a GC nudge the NEXT kernel's first runs
            # absorb the pauses (r8: a 17 s phantom on a 2 s kernel).
            spark.sparkContext._jvm.System.gc()
            s1 = gen(spark, SKEW_N).localCheckpoint()
            s10 = gen(spark, SKEW_N * MULT).localCheckpoint()
            t1 = min(
                run(lambda: global_prefix(s1, ["cents", "k"], "cents",
                                          sum_type="bigint", bounds=mode))
                for _ in range(2)
            )
            t10 = min(
                run(lambda: global_prefix(s10, ["cents", "k"], "cents",
                                          sum_type="bigint", bounds=mode))
                for _ in range(2)
            )
            ratio = t10 / t1 if t1 > 0 else float("inf")
            flag = "**SUPER-LINEAR**" if ratio > SUPERLINEAR_AT else "ok"
            name = f"global_prefix[{label},{mode}]"
            skew_rows.append((name, t1, t10, ratio, flag))
            print(f"{name}: {t1:.2f}s -> {t10:.2f}s  "
                  f"ratio {ratio:.1f}  {flag}")

    lines = [
        "## Measured scale curve - relational (rounds 8-10)",
        "",
        f"Synthetic TPC-H-shaped tables ({N_BASE:,} orders / "
        f"{4 * N_BASE:,} lineitem rows at 1x, deterministic "
        f"xxhash64 columns, tools/scale_curve_rel.py) vs {MULT}x on",
        "local[32]; best-of-2 wall seconds. The skew rows run",
        f"`global_prefix` on a {SKEW_N:,}-row power-law spend grain",
        "(cents = 1e12/u², u uniform in [1, 2000]: ~99.6% of rows land",
        "in equal-width bucket 1 of 64) — the adversarial distribution",
        "for equal-width buckets. The masstie rows plant ONE value on",
        "30% of rows: rank semantics force a tie into a single bucket",
        "under ANY monotone scheme, so that floor is the exact-rank",
        "semantics' cost, not a bounds-mode defect — equal-height still",
        "rebalances the other 70%.",
        "",
        "| operator | 1x s | 10x s | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name, t1, t10, ratio, flag in rows + skew_rows:
        lines.append(
            f"| `{name}` | {t1:.2f} | {t10:.2f} | {ratio:.1f} | {flag} |"
        )
    block = "\n".join(lines)

    # marker-delimited: replaces ONLY this tool's section (see
    # tools/scale_md.py — the r8 regen-clobber lesson).
    from scale_md import write_section

    write_section("rel", block)
    print("wrote SCALE.md")
    spark.stop()


if __name__ == "__main__":
    main()
