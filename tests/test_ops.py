"""Round-9 batch 2: invariants of the ops_q queries — incremental
aggregate maintenance, CDC changelog compaction, link prediction,
degree assortativity, theta-sketch set ops, the LSH parameter
planner, and top event paths."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


class TestIncrementalAggMerge:
    def test_merge_equals_full_recompute(self, spark, sf_dir, duck):
        """The IVM contract, asserted directly: the merged partials
        must equal a straight one-pass aggregate over the fixture."""
        from resume_jd_matcher_spark.queries import ops_q

        got = {
            r["prio"]: r
            for r in ops_q.q_incremental_agg_merge(spark, sf_dir).collect()
        }
        full = duck.sql(
            """
            SELECT o_orderpriority AS prio, count(*)::BIGINT AS n,
                   sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS s
            FROM orders GROUP BY prio
            """
        ).fetchall()
        assert len(got) == len(full)
        for prio, n, s in full:
            assert got[prio]["n_orders"] == n
            assert got[prio]["rev_cents"] == s


class TestChangelogApply:
    def test_last_op_wins_and_deletes_drop(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import ops_q

        d0 = dt.datetime(2024, 1, 1)
        # keys 1..15, single priority: inserts everywhere; k%3==0
        # updated (+10% int cents); k%5==0 deleted
        rows = [
            (k, 1, "O", 100.0, d0, "P") for k in range(1, 16)
        ]
        o = spark.createDataFrame(rows, _ORD_SCHEMA)
        monkeypatch.setattr(ops_q, "load_table", lambda *a: o)
        r = ops_q.q_changelog_apply(spark, SF).collect()[0]
        # deleted: 5, 10, 15 -> 12 live keys
        assert r["n_live"] == 12
        # updated live keys: 3, 6, 9, 12 (15 deleted) -> 4
        assert r["n_updated"] == 4
        # 8 plain inserts @10000 + 4 updates @11000
        assert r["sum_cents"] == 8 * 10000 + 4 * 11000


class TestLinkPrediction:
    def test_identical_baskets_score_one(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import ops_q

        # orders 1..4 -> customers 1..4; cust 1 and 2 buy {10, 11},
        # cust 3 buys {10, 12}, cust 4 buys {99}
        orders = spark.createDataFrame(
            [
                (1, 1, "O", 0.0, dt.datetime(2024, 1, 1), "P"),
                (2, 2, "O", 0.0, dt.datetime(2024, 1, 1), "P"),
                (3, 3, "O", 0.0, dt.datetime(2024, 1, 1), "P"),
                (4, 4, "O", 0.0, dt.datetime(2024, 1, 1), "P"),
            ],
            _ORD_SCHEMA,
        )
        li_rows = [
            (1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12), (4, 99),
        ]
        li = spark.createDataFrame(
            [(ok, pk, 1, 1, 1.0, 0.0, 0.0, 0.0, "N", "O",
              dt.datetime(2024, 1, 1)) for ok, pk in li_rows],
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber long, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        )
        monkeypatch.setattr(
            ops_q,
            "load_table",
            lambda spark_, sf, name: li if name == "lineitem" else orders,
        )
        out = {
            (r["cust_a"], r["cust_b"]): r
            for r in ops_q.q_link_prediction_jaccard(spark, SF).collect()
        }
        assert out[(1, 2)]["jaccard"] == pytest.approx(1.0)
        assert out[(1, 2)]["common"] == 2
        assert out[(1, 3)]["jaccard"] == pytest.approx(0.3333)  # round 4
        # cust 4 shares nothing -> never appears
        assert not any(4 in k for k in out)

    def test_popular_part_excluded_consistently(
        self, spark, monkeypatch
    ):
        """The r9 review arc: the df cap defines the similarity
        UNIVERSE consistently — a popular part is excluded from the
        intersection AND both degrees (stop-item filter), so
        identical baskets still score 1.0. Custs 1 and 2 share
        {P, Q}; P has df=45 (> _LP_DF_CAP at any of its measured
        settings), Q has df=2: within the universe both baskets are
        {Q} -> common=1, jaccard=1.0."""
        from resume_jd_matcher_spark.queries import ops_q

        P, Q = 100, 200
        orders = spark.createDataFrame(
            [
                (c, c, "O", 0.0, dt.datetime(2024, 1, 1), "P")
                for c in range(1, 46)
            ],
            _ORD_SCHEMA,
        )
        li_rows = [(c, P) for c in range(1, 46)]  # P: df=45
        li_rows += [(1, Q), (2, Q)]               # Q: df=2
        li = spark.createDataFrame(
            [(ok, pk, 1, 1, 1.0, 0.0, 0.0, 0.0, "N", "O",
              dt.datetime(2024, 1, 1)) for ok, pk in li_rows],
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber long, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        )
        monkeypatch.setattr(
            ops_q,
            "load_table",
            lambda spark_, sf, name: li if name == "lineitem" else orders,
        )
        out = {
            (r["cust_a"], r["cust_b"]): r
            for r in ops_q.q_link_prediction_jaccard(spark, SF).collect()
        }
        # only (1, 2) is discoverable (via Q); P alone generates none
        assert set(out) == {(1, 2)}
        assert out[(1, 2)]["common"] == 1              # universe = {Q}
        assert out[(1, 2)]["jaccard"] == pytest.approx(1.0)


class TestDegreeAssortativity:
    def test_fixture_bounds_and_edge_count(self, spark, sf_dir, duck):
        from resume_jd_matcher_spark.queries import ops_q

        r = ops_q.q_degree_assortativity(spark, sf_dir).collect()[0]
        exact = duck.sql(
            "SELECT count(*) FROM (SELECT DISTINCT l_partkey, l_suppkey "
            "FROM lineitem)"
        ).fetchone()[0]
        assert r["n_edges"] == exact
        assert -1.0 <= r["assortativity"] <= 1.0


class TestThetaSketchSetops:
    def test_small_audiences_are_exact(self, spark, monkeypatch):
        """Types with < k users have theta = 1: the estimate must
        EQUAL the exact intersection."""
        from resume_jd_matcher_spark.queries import ops_q

        d0 = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        # 30 users view; users 0..9 also click -> intersect = 10
        for u in range(30):
            rows.append((eid, d0, u, "view", 0.0, "{}")); eid += 1
        for u in range(10):
            rows.append((eid, d0, u, "click", 0.0, "{}")); eid += 1
        ev = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(ops_q, "load_table", lambda *a: ev)
        r = ops_q.q_theta_sketch_setops(spark, SF).collect()
        assert len(r) == 1
        assert r[0]["exact_common"] == 10
        assert r[0]["est_common"] == pytest.approx(10.0)

    def test_fixture_estimates_track_exact(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries import ops_q

        rows = ops_q.q_theta_sketch_setops(spark, sf_dir).collect()
        assert len(rows) == 10  # 5 choose 2 event types
        for r in rows:
            if r["exact_common"] >= 50:
                # k=64 KMV: loose 3-sigma-ish relative error bound
                assert (
                    abs(r["est_common"] - r["exact_common"])
                    / r["exact_common"]
                    < 0.6
                )


class TestLshParamPlanner:
    def test_curve_shape_and_recommendation(self, spark):
        from resume_jd_matcher_spark.queries import ops_q

        rows = {r["b"]: r for r in ops_q.q_lsh_param_planner(spark, SF).collect()}
        assert set(rows) == {1, 2, 4, 8, 16}
        # threshold FALLS as bands increase (more bands = easier catch)
        ths = [rows[b]["threshold"] for b in (1, 2, 4, 8, 16)]
        assert all(a > b for a, b in zip(ths, ths[1:]))
        # b=4, r=4: (1/4)^(1/4) = 0.7071
        assert rows[4]["threshold"] == pytest.approx(0.7071)
        # catch probability is monotone in jaccard for every config
        for r in rows.values():
            assert r["p_at_50"] <= r["p_at_70"] <= r["p_at_90"]
        # exactly one recommendation; (4, 4) is minhash_lsh's default
        recs = [r for r in rows.values() if r["recommended"]]
        assert len(recs) == 1 and recs[0]["b"] == 4 and recs[0]["r"] == 4


class TestEventPaths:
    def test_single_user_linear_timeline(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import ops_q

        d0 = dt.datetime(2024, 1, 1)
        seq = ["signup", "view", "click", "purchase"]
        rows = [
            (i, d0 + dt.timedelta(minutes=i), 1, t, 0.0, "{}")
            for i, t in enumerate(seq)
        ]
        ev = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(ops_q, "load_table", lambda *a: ev)
        out = {r["path"]: r for r in ops_q.q_event_paths_top(spark, SF).collect()}
        assert set(out) == {
            "signup > view > click",
            "view > click > purchase",
        }
        assert all(r["n"] == 1 for r in out.values())
        assert sum(r["share"] for r in out.values()) == pytest.approx(1.0)


class TestBatch3:
    def test_cross_source_leakage_detects_verbatim_copy(
        self, spark, monkeypatch
    ):
        from resume_jd_matcher_spark.queries import curation_q

        text = " ".join(f"w{i}" for i in range(30))
        other = " ".join(f"z{i}" for i in range(30))
        docs = spark.createDataFrame(
            [
                (1, text, "en", "sA", len(text)),
                (2, text, "en", "sB", len(text)),   # verbatim cross-source
                (3, other, "en", "sC", len(other)), # unique
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
        monkeypatch.setattr(curation_q, "load_table", lambda *a: docs)
        out = {
            (r["src_a"], r["src_b"]): r
            for r in curation_q.q_cross_source_leakage(spark, SF).collect()
        }
        assert set(out) == {("sA", "sB")}
        assert out[("sA", "sB")]["n_pairs"] == 1
        assert out[("sA", "sB")]["avg_est_jaccard"] == pytest.approx(1.0)
