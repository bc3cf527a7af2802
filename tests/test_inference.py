"""Round-10: invariants of the inference_q queries — Jarque-Bera,
one-way ANOVA, Kruskal-Wallis, Brown-Forsythe, Ljung-Box,
Durbin-Watson, Holt linear forecast, Brier/log-loss, Matthews MCC,
Theil decomposition, HHI, Grubbs, rolling beta, and the per-node
local clustering coefficient — each against a hand-computable
fixture."""

from __future__ import annotations

import datetime as dt
import math

import pytest

SF = "/root/testdata/sf0.001"

_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)
_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _cust(rows):
    return [
        (i, f"c{i}", nat, float(bal), seg)
        for i, (nat, bal, seg) in enumerate(rows)
    ]


def _ord(day_vals):
    """One order per (day_offset, price)."""
    return [
        (
            i,
            1,
            "O",
            float(p),
            dt.datetime(2024, 1, 1) + dt.timedelta(days=d),
            "1-URGENT",
        )
        for i, (d, p) in enumerate(day_vals)
    ]


class TestJarqueBera:
    def test_symmetric_uniform_hand_values(self, spark, monkeypatch):
        """x = 1..5: skew 0, excess kurtosis 6.8/4 - 3 = -1.3,
        JB = 5/6 * (0 + 1.69/4) = 0.3521."""
        from resume_jd_matcher_spark.queries import inference_q

        c = spark.createDataFrame(
            _cust([(0, v, "A") for v in [1, 2, 3, 4, 5]]), _CUST_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_jarque_bera(spark, SF).collect()
        assert r["n"] == 5
        assert r["skewness"] == pytest.approx(0.0, abs=1e-6)
        assert r["kurtosis_excess"] == pytest.approx(-1.3, abs=1e-6)
        assert r["jb_stat"] == pytest.approx(0.3521, abs=1e-4)
        assert r["reject_normal"] is False


class TestAnovaOneway:
    def test_two_group_hand_f(self, spark, monkeypatch):
        """A=[1,2,3], B=[4,5,6]: SSB=13.5, SSW=4, F=13.5."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "A") for v in [1, 2, 3]] + [
            (0, v, "B") for v in [4, 5, 6]
        ]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_anova_oneway(spark, SF).collect()
        assert r["n"] == 6 and r["k_groups"] == 2
        assert r["ss_between"] == pytest.approx(13.5, abs=1e-6)
        assert r["ss_within"] == pytest.approx(4.0, abs=1e-6)
        assert r["f_stat"] == pytest.approx(13.5, abs=1e-4)

    def test_zero_within_variance_is_null(self, spark, monkeypatch):
        """Constant groups: SSW=0 → F is NULL (nullif guard)."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, 1, "A"), (0, 1, "A"), (0, 2, "B"), (0, 2, "B")]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_anova_oneway(spark, SF).collect()
        assert r["f_stat"] is None


class TestKruskalWallis:
    def test_no_ties_hand_h(self, spark, monkeypatch):
        """A=[1,2,3], B=[4,5,6]: H = 12/42*(12+75) - 21 = 3.8571,
        correction 1.0."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "A") for v in [1, 2, 3]] + [
            (0, v, "B") for v in [4, 5, 6]
        ]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_kruskal_wallis(spark, SF).collect()
        assert r["n"] == 6 and r["k_groups"] == 2
        assert r["h_stat"] == pytest.approx(3.8571, abs=1e-4)
        assert r["tie_correction"] == pytest.approx(1.0, abs=1e-9)
        assert r["h_corrected"] == pytest.approx(3.8571, abs=1e-4)

    def test_tied_ranks_average_and_correct(self, spark, monkeypatch):
        """A=[1,1,2], B=[2,3,3]: tie-averaged ranks give H=3.0476,
        tie mass 18/210 → H_c = 3.3333."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "A") for v in [1, 1, 2]] + [
            (0, v, "B") for v in [2, 3, 3]
        ]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_kruskal_wallis(spark, SF).collect()
        assert r["h_stat"] == pytest.approx(3.0476, abs=1e-4)
        assert r["tie_correction"] == pytest.approx(1 - 18 / 210, abs=1e-6)
        assert r["h_corrected"] == pytest.approx(3.3333, abs=1e-4)


class TestLeveneTest:
    def test_hand_w(self, spark, monkeypatch):
        """A=[0,2,4] (med 2, z=[2,0,2]), B=[0,8] (med 4, z=[4,4]):
        W = 8.5333/ (2.6667/3) = 9.6."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "A") for v in [0, 2, 4]] + [(0, v, "B") for v in [0, 8]]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_levene_test(spark, SF).collect()
        assert r["n"] == 5 and r["k_groups"] == 2
        assert r["w_stat"] == pytest.approx(9.6, abs=1e-4)

    def test_zero_within_is_null(self, spark, monkeypatch):
        """Symmetric pairs: every |x-med| equal within group → SSW=0
        → NULL (guard)."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, 0, "A"), (0, 2, "A"), (0, 0, "B"), (0, 4, "B")]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_levene_test(spark, SF).collect()
        assert r["w_stat"] is None


def _lb_hand(series, max_lag):
    n = len(series)
    mu = sum(series) / n
    dev = [x - mu for x in series]
    ss = sum(d * d for d in dev)
    q = 0.0
    for k in range(1, max_lag + 1):
        sp = sum(dev[t] * dev[t + k] for t in range(n - k))
        r = sp / ss
        q += r * r / (n - k)
    return n * (n + 2.0) * q


class TestLjungBox:
    def test_hand_q_on_short_series(self, spark, monkeypatch):
        """Contiguous 15-day series: Q matches the textbook loop."""
        from resume_jd_matcher_spark.queries import inference_q

        prices = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9]
        o = spark.createDataFrame(
            _ord([(d, 100 * p) for d, p in enumerate(prices)]), _ORD_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        [r] = inference_q.q_ljung_box(spark, SF).collect()
        assert r["n_days"] == 15
        # day grain in cents: price*100 → cents = price*10000
        expected = _lb_hand([p * 10000 for p in prices], 10)
        assert r["q_stat"] == pytest.approx(expected, abs=1e-3)


class TestDurbinWatson:
    def test_alternating_residuals_push_dw_to_four(self, spark, monkeypatch):
        """A perfectly alternating series around a flat trend has
        e_t = -e_{t-1}: DW = Σ(2e)²/Σe² → ~4 (strong negative
        autocorrelation)."""
        from resume_jd_matcher_spark.queries import inference_q

        prices = [10 if d % 2 == 0 else 20 for d in range(20)]
        o = spark.createDataFrame(
            _ord(list(enumerate(prices))), _ORD_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        [r] = inference_q.q_durbin_watson(spark, SF).collect()
        assert r["n_days"] == 20
        assert r["dw_stat"] > 3.5

    def test_perfect_trend_is_null(self, spark, monkeypatch):
        """x_t exactly linear in t: all residuals 0 → DW NULL."""
        from resume_jd_matcher_spark.queries import inference_q

        o = spark.createDataFrame(
            _ord([(d, 100 + 10 * d) for d in range(10)]), _ORD_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        [r] = inference_q.q_durbin_watson(spark, SF).collect()
        assert r["slope"] == pytest.approx(1000.0, abs=1e-6)
        assert r["dw_stat"] is None


class TestHoltLinearForecast:
    def test_matches_hand_recursion(self, spark, monkeypatch):
        """Fold result equals the textbook l/b recursion seeded
        l1=x1, b1=x2-x1 and updated for t=2..n."""
        from resume_jd_matcher_spark.queries import inference_q

        prices = [100.0, 120.0, 90.0, 150.0, 130.0]
        o = spark.createDataFrame(
            _ord(list(enumerate(prices))), _ORD_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        out = {
            r["horizon_days"]: r["forecast_revenue"]
            for r in inference_q.q_holt_linear_forecast(spark, SF).collect()
        }
        assert len(out) == 7
        xs = [p * 100 for p in prices]  # cents day grain
        a, b = 0.3, 0.1
        l, t = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            ln = a * x + (1 - a) * (l + t)
            t = b * (ln - l) + (1 - b) * t
            l = ln
        for h in range(1, 8):
            assert out[h] == pytest.approx((l + h * t) / 100.0, abs=0.01)

    def test_linear_series_forecasts_linearly(self, spark, monkeypatch):
        """On an exactly linear series Holt locks the trend: the
        h-step forecasts continue the line."""
        from resume_jd_matcher_spark.queries import inference_q

        o = spark.createDataFrame(
            _ord([(d, 100 + 10 * d) for d in range(30)]), _ORD_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        out = {
            r["horizon_days"]: r["forecast_revenue"]
            for r in inference_q.q_holt_linear_forecast(spark, SF).collect()
        }
        # day 29 price = 390; slope 10/day → forecast(h) ≈ 390 + 10h
        for h in range(1, 8):
            assert out[h] == pytest.approx(390 + 10 * h, rel=1e-3)


class TestBrierLogloss:
    def test_sharp_scorer_beats_flat(self, spark, monkeypatch):
        """Purchases at high value, views at low: the standardized
        sigmoid separates them, Brier ≪ 0.25 and log-loss ≪ ln 2."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = []
        for i in range(200):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)
            if i % 2 == 0:
                rows.append((i, ts, 1, "purchase", 100.0, "{}"))
            else:
                rows.append((i, ts, 1, "view", 0.0, "{}"))
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_brier_logloss(spark, SF).collect()
        assert r["n"] == 200
        assert r["prevalence"] == pytest.approx(0.5, abs=1e-6)
        # standardized ±1σ scores → p = σ(±1) = 0.731/0.269:
        # brier = 0.269² ≈ 0.0724, log-loss = -ln 0.731 ≈ 0.313 < ln 2
        assert r["brier"] < 0.1
        assert r["log_loss"] < math.log(2)

    def test_hand_values(self, spark, monkeypatch):
        """Explicit 4-event fixture: replicate mu/sd/sigmoid/clamp
        chain in python and compare both scores exactly."""
        from resume_jd_matcher_spark.queries import inference_q

        vals = [1.0, 2.0, 3.0, 4.0]
        labels = [0, 0, 1, 1]
        rows = [
            (
                i,
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
                1,
                "purchase" if lab else "view",
                v,
                "{}",
            )
            for i, (v, lab) in enumerate(zip(vals, labels))
        ]
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_brier_logloss(spark, SF).collect()
        mu = sum(vals) / 4
        sd = math.sqrt(sum(v * v for v in vals) / 4 - mu * mu)
        ps = [
            min(max(round(1 / (1 + math.exp(-(v - mu) / sd)), 9), 1e-6),
                1 - 1e-6)
            for v in vals
        ]
        brier = sum((p - y) ** 2 for p, y in zip(ps, labels)) / 4
        ll = -sum(
            y * math.log(p) + (1 - y) * math.log(1 - p)
            for p, y in zip(ps, labels)
        ) / 4
        assert r["brier"] == pytest.approx(brier, abs=1e-5)
        assert r["log_loss"] == pytest.approx(ll, abs=1e-5)


class TestMatthewsMcc:
    def test_perfect_classifier_mcc_one(self, spark, monkeypatch):
        """Purchases all above the mean, views all below → confusion
        diagonal → MCC = 1, F1 = 1."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = []
        for i in range(100):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)
            if i % 2 == 0:
                rows.append((i, ts, 1, "purchase", 10.0, "{}"))
            else:
                rows.append((i, ts, 1, "view", 0.0, "{}"))
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_matthews_mcc(spark, SF).collect()
        assert (r["tp"], r["tn"], r["fp"], r["fn"]) == (50, 50, 0, 0)
        assert r["mcc"] == pytest.approx(1.0, abs=1e-6)
        assert r["f1"] == pytest.approx(1.0, abs=1e-6)
        assert r["accuracy"] == pytest.approx(1.0, abs=1e-6)

    def test_inverted_classifier_mcc_minus_one(self, spark, monkeypatch):
        """Labels flipped against the score → MCC = -1."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = []
        for i in range(100):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)
            if i % 2 == 0:
                rows.append((i, ts, 1, "view", 10.0, "{}"))
            else:
                rows.append((i, ts, 1, "purchase", 0.0, "{}"))
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_matthews_mcc(spark, SF).collect()
        assert r["mcc"] == pytest.approx(-1.0, abs=1e-6)


class TestTheilIndex:
    def test_equal_incomes_zero(self, spark, monkeypatch):
        """All balances equal → every component 0."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(n, 100, "A") for n in [0, 0, 1, 1]]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_theil_index(spark, SF).collect()
        assert r["theil_total"] == pytest.approx(0.0, abs=1e-6)
        assert r["theil_within"] == pytest.approx(0.0, abs=1e-6)
        assert r["theil_between"] == pytest.approx(0.0, abs=1e-6)

    def test_decomposition_adds_up(self, spark, monkeypatch):
        """T_total = T_within + T_between on an unequal fixture, and
        matches the direct definition."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, 100, "A"), (0, 300, "A"), (1, 500, "A"), (1, 1100, "A")]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_theil_index(spark, SF).collect()
        xs = [100, 300, 500, 1100]
        mu = sum(xs) / 4
        t_direct = sum((x / mu) * math.log(x / mu) for x in xs) / 4
        assert r["theil_total"] == pytest.approx(t_direct, abs=1e-5)
        assert r["theil_total"] == pytest.approx(
            r["theil_within"] + r["theil_between"], abs=1e-5
        )
        assert r["theil_between"] > 0

    def test_nonpositive_balances_excluded(self, spark, monkeypatch):
        """x ≤ 0 rows are filtered (ln domain), not crashed on."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, -50, "A"), (0, 0, "A"), (0, 100, "A"), (0, 100, "A")]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_theil_index(spark, SF).collect()
        assert r["n"] == 2
        assert r["theil_total"] == pytest.approx(0.0, abs=1e-6)


class TestHhiConcentration:
    def test_monopoly_and_duopoly(self, spark, monkeypatch):
        """Single brand → HHI 10000, CR1 1; two equal brands → HHI
        5000, CR1 0.5."""
        from resume_jd_matcher_spark.queries import inference_q

        li_schema = (
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp"
        )
        pt_schema = (
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double"
        )
        ship = dt.datetime(2024, 1, 1)

        def li(rows):
            return spark.createDataFrame(
                [
                    (i, pk, 1, 1, 1.0, price, 0.0, 0.0, "N", "O", ship)
                    for i, (pk, price) in enumerate(rows)
                ],
                li_schema,
            )

        def pt(rows):
            return spark.createDataFrame(
                [(pk, f"p{pk}", br, "T", 1, 1.0) for pk, br in rows],
                pt_schema,
            )

        from resume_jd_matcher_spark.queries import inference_q as iq

        tables = {
            "lineitem": li([(1, 100.0), (1, 200.0)]),
            "part": pt([(1, "B#1")]),
        }
        monkeypatch.setattr(
            iq, "load_table", lambda s, d, name: tables[name]
        )
        [r] = iq.q_hhi_concentration(spark, SF).collect()
        assert r["n_brands"] == 1
        assert r["hhi"] == pytest.approx(10000.0, abs=1e-6)
        assert r["cr1"] == pytest.approx(1.0, abs=1e-6)

        tables = {
            "lineitem": li([(1, 100.0), (2, 100.0)]),
            "part": pt([(1, "B#1"), (2, "B#2")]),
        }
        monkeypatch.setattr(
            iq, "load_table", lambda s, d, name: tables[name]
        )
        [r] = iq.q_hhi_concentration(spark, SF).collect()
        assert r["n_brands"] == 2
        assert r["hhi"] == pytest.approx(5000.0, abs=1e-6)
        assert r["cr1"] == pytest.approx(0.5, abs=1e-6)
        assert r["cr4"] == pytest.approx(1.0, abs=1e-6)


class TestGrubbsTest:
    def test_outlier_found_with_hand_g(self, spark, monkeypatch):
        """[1,2,3,4,100]: mean 22, the G statistic and the offending
        value match the hand computation."""
        from resume_jd_matcher_spark.queries import inference_q

        xs = [1, 2, 3, 4, 100]
        c = spark.createDataFrame(
            _cust([(0, v, "A") for v in xs]), _CUST_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_grubbs_test(spark, SF).collect()
        m = sum(xs) / 5
        sd = math.sqrt(sum((x - m) ** 2 for x in xs) / 4)
        assert r["outlier_bal"] == pytest.approx(100.0, abs=1e-6)
        assert r["g_stat"] == pytest.approx((100 - m) / sd, abs=1e-4)

    def test_tie_breaks_to_smallest_value(self, spark, monkeypatch):
        """Symmetric extremes (±10): both hit max_dev; pick = -10."""
        from resume_jd_matcher_spark.queries import inference_q

        c = spark.createDataFrame(
            _cust([(0, v, "A") for v in [-10, 0, 10]]), _CUST_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_grubbs_test(spark, SF).collect()
        assert r["outlier_bal"] == pytest.approx(-10.0, abs=1e-6)


class TestRollingBeta:
    def test_proportional_segment_beta_constant(self, spark, monkeypatch):
        """BUILDING customers contribute exactly half of every day's
        revenue → β = 0.5 on every complete window."""
        from resume_jd_matcher_spark.queries import inference_q as iq

        ship = dt.datetime(2024, 1, 1)
        orders, oid = [], 0
        # two orders per day: custkey 1 (BUILDING) and 2 (OTHER),
        # equal varying prices → seg = mkt/2 exactly
        for d in range(30):
            p = 100.0 + 7 * (d % 5)
            for ck in (1, 2):
                orders.append(
                    (oid, ck, "O", p, ship + dt.timedelta(days=d), "1")
                )
                oid += 1
        o = spark.createDataFrame(orders, _ORD_SCHEMA)
        c = spark.createDataFrame(
            [(1, "c1", 0, 0.0, "BUILDING"), (2, "c2", 0, 0.0, "AUTOMOBILE")],
            _CUST_SCHEMA,
        )
        tables = {"orders": o, "customer": c}
        monkeypatch.setattr(iq, "load_table", lambda s, d, n: tables[n])
        rows = iq.q_rolling_beta(spark, SF).collect()
        assert len(rows) == 30 - 13
        for r in rows:
            assert r["beta_e4"] == 5000  # β = 0.5 exactly, scaled 1e4


class TestLocalClustering:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(
            [(a, b) for a, b in edges], "left_id long, right_id long"
        )

    def test_triangle_all_ones(self, spark):
        """K3: every node deg 2, 1 triangle, lcc = 1."""
        from resume_jd_matcher_spark.operators.cluster import local_clustering

        out = local_clustering(
            self._pairs(spark, [(1, 2), (2, 3), (1, 3)])
        ).collect()
        assert len(out) == 3
        for r in out:
            assert r["deg"] == 2 and r["n_tri"] == 1
            assert r["lcc"] == pytest.approx(1.0, abs=1e-6)

    def test_path_center_zero(self, spark):
        """Path 1-2-3: center node deg 2, no triangle, lcc = 0;
        leaves (deg 1) are excluded."""
        from resume_jd_matcher_spark.operators.cluster import local_clustering

        out = local_clustering(self._pairs(spark, [(1, 2), (2, 3)])).collect()
        assert len(out) == 1
        assert out[0]["node"] == 2
        assert out[0]["n_tri"] == 0
        assert out[0]["lcc"] == pytest.approx(0.0, abs=1e-6)

    def test_k4_minus_edge(self, spark):
        """K4 minus edge (3,4): nodes 1,2 have deg 3 and 2 triangles
        (lcc 2/3); nodes 3,4 deg 2, 1 triangle (lcc 1)."""
        from resume_jd_matcher_spark.operators.cluster import local_clustering

        out = {
            r["node"]: r
            for r in local_clustering(
                self._pairs(
                    spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
                )
            ).collect()
        }
        assert out[1]["deg"] == 3 and out[1]["n_tri"] == 2
        assert out[1]["lcc"] == pytest.approx(2 / 3, abs=1e-4)
        assert out[3]["deg"] == 2 and out[3]["n_tri"] == 1
        assert out[3]["lcc"] == pytest.approx(1.0, abs=1e-6)


# ---------------------------------------------------------------------------
# Batch 5: mann_whitney_u / friedman_test / breusch_pagan /
# gumbel_maxima (inference_q) + good_turing / jsd_drift /
# textrank_keywords (text_q)
# ---------------------------------------------------------------------------

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    return spark.createDataFrame(
        [
            (i, t, lang, "src", len(t))
            for i, (t, lang) in enumerate(zip(texts, langs))
        ],
        _DOC_SCHEMA,
    )


class TestMannWhitneyU:
    def _run(self, spark, monkeypatch, a_vals, b_vals):
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "AUTOMOBILE") for v in a_vals] + [
            (0, v, "BUILDING") for v in b_vals
        ]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_mann_whitney_u(spark, SF).collect()
        return r

    def test_fully_separated_groups(self, spark, monkeypatch):
        """Every A below every B: U_A = 0, AUC equivalence 0."""
        r = self._run(spark, monkeypatch, [1, 2, 3], [4, 5, 6])
        assert (r["n_a"], r["n_b"]) == (3, 3)
        assert r["u_stat"] == pytest.approx(0.0, abs=1e-6)
        assert r["auc_equiv"] == pytest.approx(0.0, abs=1e-6)
        assert r["z_stat"] < -1.9

    def test_interleaved_symmetric_z_zero(self, spark, monkeypatch):
        """A=[1,4], B=[2,3]: U_A = n·m/2 exactly → z = 0."""
        r = self._run(spark, monkeypatch, [1, 4], [2, 3])
        assert r["u_stat"] == pytest.approx(2.0, abs=1e-6)
        assert r["auc_equiv"] == pytest.approx(0.5, abs=1e-6)
        assert r["z_stat"] == pytest.approx(0.0, abs=1e-6)


class TestFriedmanTest:
    def test_consistent_ordering_hand_chi2(self, spark, monkeypatch):
        """2 complete blocks, 3 treatments, same order in both:
        R = [2,4,6] → χ²_F = 0.5·56 − 24 = 4 = n(k−1)."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = []
        for blk in (0, 1):
            for j, seg in enumerate(["A", "B", "C"]):
                rows.append((blk, 10 * (j + 1) + blk, seg))
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_friedman_test(spark, SF).collect()
        assert (r["n_blocks"], r["k_treatments"]) == (2, 3)
        assert r["chi2_f"] == pytest.approx(4.0, abs=1e-6)

    def test_incomplete_block_excluded(self, spark, monkeypatch):
        """A block missing one treatment must not enter n_blocks."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = []
        for blk in (0, 1):
            for j, seg in enumerate(["A", "B", "C"]):
                rows.append((blk, 10 * (j + 1), seg))
        rows += [(2, 10, "A"), (2, 20, "B")]  # incomplete block
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_friedman_test(spark, SF).collect()
        assert r["n_blocks"] == 2


class TestBreuschPagan:
    def test_growing_variance_rejects(self, spark, monkeypatch):
        """Alternating residuals whose amplitude grows with t: e²
        correlates with t → LM large, homoscedasticity rejected."""
        from resume_jd_matcher_spark.queries import inference_q

        prices = [
            1000 + (50 * (d + 1)) * (1 if d % 2 == 0 else -1)
            for d in range(40)
        ]
        o = spark.createDataFrame(_ord(list(enumerate(prices))), _ORD_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        [r] = inference_q.q_breusch_pagan(spark, SF).collect()
        assert r["n_days"] == 40
        assert r["lm_stat"] > 3.841
        assert r["reject_homoscedastic"] is True

    def test_constant_variance_zero_lm(self, spark, monkeypatch):
        """Constant-amplitude alternation: e² constant → var_e = 0 →
        the guarded CASE yields LM = 0, no rejection."""
        from resume_jd_matcher_spark.queries import inference_q

        prices = [1000 + (100 if d % 2 == 0 else -100) for d in range(40)]
        o = spark.createDataFrame(_ord(list(enumerate(prices))), _ORD_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        [r] = inference_q.q_breusch_pagan(spark, SF).collect()
        assert r["lm_stat"] == pytest.approx(0.0, abs=1e-3)
        assert r["reject_homoscedastic"] is False


class TestGumbelMaxima:
    def test_hand_moments_fit(self, spark, monkeypatch):
        """Three months with known daily maxima: β = s√6/π,
        μ = x̄ − γβ, return level μ − β·ln(−ln(1−1/T))."""
        from resume_jd_matcher_spark.queries import inference_q

        day_vals = []
        # month m: days at price 100(m+1) except one peak day
        peaks = [500.0, 900.0, 700.0]
        for m, peak in enumerate(peaks):
            base = dt.datetime(2024, 1 + m, 1)
            for d in range(5):
                day_vals.append((0, 0))  # placeholder, rebuilt below
        orders = []
        oid = 0
        for m, peak in enumerate(peaks):
            for d in range(5):
                price = peak if d == 2 else 100.0
                orders.append(
                    (
                        oid,
                        1,
                        "O",
                        price,
                        dt.datetime(2024, 1 + m, 1 + d),
                        "1",
                    )
                )
                oid += 1
        o = spark.createDataFrame(orders, _ORD_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        [r] = inference_q.q_gumbel_maxima(spark, SF).collect()
        assert r["n_months"] == 3
        xs = [p * 100 for p in peaks]  # cents
        mean = sum(xs) / 3
        sd = math.sqrt(sum((x - mean) ** 2 for x in xs) / 2)
        beta = sd * math.sqrt(6) / math.pi
        mu = mean - 0.5772156649015329 * beta
        assert r["mu_revenue"] == pytest.approx(mu / 100, abs=0.01)
        assert r["beta_revenue"] == pytest.approx(beta / 100, abs=0.01)
        rl12 = (mu - beta * math.log(-math.log(1 - 1 / 12))) / 100
        assert r["return_level_12m"] == pytest.approx(rl12, abs=0.01)
        assert r["return_level_60m"] > r["return_level_12m"]


class TestGoodTuring:
    def test_hand_frequency_of_frequencies(self, spark, monkeypatch):
        """'a b c d' has shingles {abc, bcd} ×1; a doc repeated twice
        gives its shingles count 2: N_1 = 2, N_2 = 2 →
        r*(1) = 2·N_2/N_1 = 2, r*(2) = 3·0/2 = 0."""
        from resume_jd_matcher_spark.queries import text_q

        docs = _docs(
            spark, ["a b c d", "x y z", "x y z"]
        )  # abc,bcd ×1; xyz ×2
        monkeypatch.setattr(text_q, "load_table", lambda *a: docs)
        out = {r["r"]: r for r in text_q.q_good_turing(spark, SF).collect()}
        assert out[1]["n_r"] == 2 and out[2]["n_r"] == 1
        assert out[1]["r_star"] == pytest.approx(2 * 1 / 2, abs=1e-6)
        assert out[2]["r_star"] == pytest.approx(0.0, abs=1e-6)
        # total shingle mass = 2·1 + 1·2 = 4; N1 = 2 → p0 = 0.5
        assert out[1]["p_unseen"] == pytest.approx(0.5, abs=1e-9)

    def test_short_docs_skipped(self, spark, monkeypatch):
        """Documents under 3 tokens contribute no shingles."""
        from resume_jd_matcher_spark.queries import text_q

        docs = _docs(spark, ["a b", "q", "a b c"])
        monkeypatch.setattr(text_q, "load_table", lambda *a: docs)
        out = text_q.q_good_turing(spark, SF).collect()
        assert len(out) == 1 and out[0]["r"] == 1 and out[0]["n_r"] == 1


class TestJsdDrift:
    def test_identical_distributions_zero(self, spark, monkeypatch):
        """Same text on both sides → JSD ≈ 0, Hellinger ≈ 0."""
        from resume_jd_matcher_spark.queries import text_q

        docs = _docs(
            spark,
            ["alpha beta gamma", "alpha beta gamma"],
            langs=["en", "de"],
        )
        monkeypatch.setattr(text_q, "load_table", lambda *a: docs)
        [r] = text_q.q_jsd_drift(spark, SF).collect()
        assert r["n_vocab"] == 3
        assert r["jsd_bits"] == pytest.approx(0.0, abs=1e-6)
        assert r["hellinger"] == pytest.approx(0.0, abs=1e-6)

    def test_disjoint_vocabularies_near_one(self, spark, monkeypatch):
        """Disjoint vocabularies → JSD near 1 bit (minus the Laplace
        smoothing mass), Hellinger near 1."""
        from resume_jd_matcher_spark.queries import text_q

        docs = _docs(
            spark,
            ["aa bb cc aa bb cc aa bb cc", "xx yy zz xx yy zz xx yy zz"],
            langs=["en", "de"],
        )
        monkeypatch.setattr(text_q, "load_table", lambda *a: docs)
        [r] = text_q.q_jsd_drift(spark, SF).collect()
        # hand value: p=3.5/12 present / 0.5/12 absent per side →
        # 6 · (0.5·p·ln(p/m) + 0.5·q·ln(q/m)) = 0.3163 nats = 0.456 bits
        assert r["jsd_bits"] == pytest.approx(0.456, abs=0.01)
        assert 0.4 < r["jsd_bits"] < 1.0
        assert r["hellinger"] > 0.5


class TestTextrankKeywords:
    def test_hub_token_ranks_first(self, spark, monkeypatch):
        """A star graph (hub adjacent to 6 spokes, each pair ≥
        min_count): the hub gets the top PageRank."""
        from resume_jd_matcher_spark.queries import text_q

        texts = [" ".join(["hub", f"x{i}"] * 6) for i in range(6)]
        docs = _docs(spark, texts)
        monkeypatch.setattr(text_q, "load_table", lambda *a: docs)
        out = text_q.q_textrank_keywords(spark, SF).collect()
        assert out[0]["token"] == "hub"
        assert len(out) == 7  # hub + 6 spokes
        assert out[0]["pr"] > out[1]["pr"]


# ---------------------------------------------------------------------------
# Batch 6: log_rank_test / price_index_fisher / tukey_hsd /
# cooks_distance (inference_q) + embedding_effective_rank (vector_q)
# ---------------------------------------------------------------------------

def _lr_arm(uid):
    import hashlib

    return int(hashlib.md5(f"{uid}#lr".encode()).hexdigest()[:8], 16) % 2


class TestLogRankTest:
    def _events(self, spark, conv_day_by_arm):
        rows, eid = [], 0
        for uid in range(1, 61):
            arm = _lr_arm(uid)
            fd = dt.datetime(2024, 1, 1)
            rows.append((eid, fd, uid, "view", 1.0, "{}"))
            eid += 1
            dd = conv_day_by_arm(arm, uid)
            if dd is not None:
                rows.append(
                    (eid, fd + dt.timedelta(days=dd), uid, "purchase", 1.0, "{}")
                )
                eid += 1
        return spark.createDataFrame(rows, _EV_SCHEMA)

    def test_identical_arms_chi2_zero(self, spark, monkeypatch):
        """Both arms convert on the same day schedule → O = E →
        χ² = 0."""
        from resume_jd_matcher_spark.queries import inference_q

        e = self._events(spark, lambda arm, uid: 1 + (uid % 4))
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_log_rank_test(spark, SF).collect()
        assert r["n_a"] + r["n_b"] == 60
        # the hash split is not stratified by conversion day, so O−E
        # carries sampling noise — but far below the χ²(1) cut
        assert r["chi2"] is not None and r["chi2"] < 3.841
        assert r["reject_equal_curves"] is False

    def test_shifted_arm_rejects(self, spark, monkeypatch):
        """Arm 0 converts on day 1, arm 1 on day 9 → curves differ →
        χ² over the 3.841 cut."""
        from resume_jd_matcher_spark.queries import inference_q

        e = self._events(spark, lambda arm, uid: 1 if arm == 0 else 9)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_log_rank_test(spark, SF).collect()
        assert r["chi2"] > 3.841
        assert r["reject_equal_curves"] is True


class TestPriceIndexFisher:
    def test_doubled_price_index_two(self, spark, monkeypatch):
        """One part, unit price doubles between the first and last
        year at equal quantities → L = P = F = 2."""
        from resume_jd_matcher_spark.queries import inference_q

        li_schema = (
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp"
        )
        rows = [
            # year 2020: qty 4 at unit price 10 → extended 40
            (1, 1, 1, 1, 4.0, 40.0, 0.0, 0.0, "N", "O", dt.datetime(2020, 6, 1)),
            # year 2023: qty 4 at unit price 20 → extended 80
            (2, 1, 1, 1, 4.0, 80.0, 0.0, 0.0, "N", "O", dt.datetime(2023, 6, 1)),
        ]
        l = spark.createDataFrame(rows, li_schema)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: l)
        [r] = inference_q.q_price_index_fisher(spark, SF).collect()
        assert (r["year_base"], r["year_curr"]) == (2020, 2023)
        assert r["n_common_parts"] == 1
        assert r["laspeyres"] == pytest.approx(2.0, abs=1e-6)
        assert r["paasche"] == pytest.approx(2.0, abs=1e-6)
        assert r["fisher"] == pytest.approx(2.0, abs=1e-6)


class TestTukeyHsd:
    def test_hand_q_two_groups(self, spark, monkeypatch):
        """A=[0,0,2,2], B=[10,10,12,12]: MSW = 8/6, q = 10/√(⅓) =
        17.3205, significant."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "A") for v in [0, 0, 2, 2]] + [
            (0, v, "B") for v in [10, 10, 12, 12]
        ]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_tukey_hsd(spark, SF).collect()
        assert (r["seg_a"], r["seg_b"]) == ("A", "B")
        assert r["mean_diff"] == pytest.approx(-10.0, abs=1e-6)
        assert r["q_stat"] == pytest.approx(17.3205, abs=1e-3)
        assert r["significant"] is True

    def test_identical_groups_not_significant(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import inference_q

        rows = [(0, v, "A") for v in [1, 2, 3]] + [
            (0, v, "B") for v in [1, 2, 3]
        ]
        c = spark.createDataFrame(_cust(rows), _CUST_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_tukey_hsd(spark, SF).collect()
        assert r["q_stat"] == pytest.approx(0.0, abs=1e-6)
        assert r["significant"] is False


class TestCooksDistance:
    def test_injected_spike_is_top_influential(self, spark, monkeypatch):
        """A clean linear trend with one massive spike day: that day
        has the top Cook's D and is flagged."""
        from resume_jd_matcher_spark.queries import inference_q

        prices = [100 + 10 * d for d in range(30)]
        prices[7] = 5000  # the spike (day 2024-01-08)
        o = spark.createDataFrame(_ord(list(enumerate(prices))), _ORD_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        rows = inference_q.q_cooks_distance(spark, SF).collect()
        assert len(rows) == 10
        assert rows[0]["day"] == "2024-01-08"
        assert rows[0]["influential"] is True
        assert rows[0]["cooks_d"] > rows[1]["cooks_d"]


class TestEmbeddingEffectiveRank:
    _EMB_SCHEMA = "vec_id long, embedding array<float>, label int"

    def test_isotropic_pr_equals_dims(self, spark, monkeypatch):
        """±e₁/±e₂ vectors: C = diag(0.5, 0.5) → trace 1, PR = 2."""
        from resume_jd_matcher_spark.queries import vector_q

        vecs = [(0, [1.0, 0.0], 0), (1, [-1.0, 0.0], 0),
                (2, [0.0, 1.0], 0), (3, [0.0, -1.0], 0)]
        emb = spark.createDataFrame(vecs, self._EMB_SCHEMA)
        monkeypatch.setattr(vector_q, "load_table", lambda *a: emb)
        [r] = vector_q.q_embedding_effective_rank(spark, SF).collect()
        assert (r["d"], r["n_vecs"]) == (2, 4)
        assert r["trace"] == pytest.approx(1.0, abs=1e-6)
        assert r["participation_ratio"] == pytest.approx(2.0, abs=1e-4)

    def test_collapsed_pr_one(self, spark, monkeypatch):
        """All variance in dim 0: C = diag(1, 0) → PR = 1."""
        from resume_jd_matcher_spark.queries import vector_q

        vecs = [(0, [1.0, 0.0], 0), (1, [-1.0, 0.0], 0)]
        emb = spark.createDataFrame(vecs, self._EMB_SCHEMA)
        monkeypatch.setattr(vector_q, "load_table", lambda *a: emb)
        [r] = vector_q.q_embedding_effective_rank(spark, SF).collect()
        assert r["participation_ratio"] == pytest.approx(1.0, abs=1e-4)


# ---------------------------------------------------------------------------
# Batch 7: rmst / hosmer_lemeshow / isotonic_calibration /
# k_core (operator) / markov_attribution
# ---------------------------------------------------------------------------

class TestRmst:
    def test_hand_km_area(self, spark, monkeypatch):
        """4 users from day 0: two convert at t=2, one at t=6, one
        censored at the horizon (6). τ = 3. S = 1 on [0,2), 0.5 on
        [2,6) → RMST(3) = 2 + 0.5·1 = 2.5."""
        from resume_jd_matcher_spark.queries import inference_q

        rows, eid = [], 0
        fd = dt.datetime(2024, 1, 1)
        for uid, conv_day in [(1, 2), (2, 2), (3, 6), (4, None)]:
            rows.append((eid, fd, uid, "view", 1.0, "{}"))
            eid += 1
            if conv_day is not None:
                rows.append(
                    (
                        eid,
                        fd + dt.timedelta(days=conv_day),
                        uid,
                        "purchase",
                        1.0,
                        "{}",
                    )
                )
                eid += 1
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_rmst(spark, SF).collect()
        assert r["tau_days"] == 3
        assert r["n_users"] == 4
        assert r["rmst_days"] == pytest.approx(2.5, abs=1e-6)


class TestHosmerLemeshow:
    def test_separated_labels_reject(self, spark, monkeypatch):
        """Values 0..99, label = value ≥ 50: bins predict mid-range
        probabilities but observe 0/1 → HL huge, rejected."""
        from resume_jd_matcher_spark.queries import inference_q

        rows = [
            (
                i,
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
                1,
                "purchase" if v >= 50 else "view",
                float(v),
                "{}",
            )
            for i, v in enumerate(range(100))
        ]
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        [r] = inference_q.q_hosmer_lemeshow(spark, SF).collect()
        assert r["df"] == r["n_bins"] - 2
        assert r["hl_stat"] > 15.507
        if r["n_bins"] == 10:
            assert r["reject_calibrated"] is True


class TestIsotonicCalibration:
    def test_violator_bins_pool(self, spark, monkeypatch):
        """Two populated bins with obs rates (0.8, 0.2) at equal n:
        the isotonic fit pools both to 0.5 and is monotone."""
        from resume_jd_matcher_spark.queries import inference_q

        rows, eid = [], 0
        # low values (bin low) with 8/10 positives, high values
        # (bin high) with 2/10 positives — a calibration inversion
        for i in range(10):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(seconds=eid),
                    1,
                    "purchase" if i < 8 else "view",
                    0.0,
                    "{}",
                )
            )
            eid += 1
        for i in range(10):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(seconds=eid),
                    1,
                    "purchase" if i < 2 else "view",
                    10.0,
                    "{}",
                )
            )
            eid += 1
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        out = sorted(
            inference_q.q_isotonic_calibration(spark, SF).collect(),
            key=lambda r: r["bin"],
        )
        assert len(out) == 2
        assert out[0]["obs_rate"] == pytest.approx(0.8, abs=1e-6)
        assert out[1]["obs_rate"] == pytest.approx(0.2, abs=1e-6)
        assert out[0]["iso_rate"] == pytest.approx(0.5, abs=1e-6)
        assert out[1]["iso_rate"] == pytest.approx(0.5, abs=1e-6)
        # monotone by construction
        assert out[0]["iso_rate"] <= out[1]["iso_rate"] + 1e-9

    def test_already_monotone_unchanged(self, spark, monkeypatch):
        """Monotone obs rates pass through the PAV untouched."""
        from resume_jd_matcher_spark.queries import inference_q

        rows, eid = [], 0
        for i in range(10):  # low bin: 2/10
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(seconds=eid),
                    1,
                    "purchase" if i < 2 else "view",
                    0.0,
                    "{}",
                )
            )
            eid += 1
        for i in range(10):  # high bin: 8/10
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(seconds=eid),
                    1,
                    "purchase" if i < 8 else "view",
                    10.0,
                    "{}",
                )
            )
            eid += 1
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        out = sorted(
            inference_q.q_isotonic_calibration(spark, SF).collect(),
            key=lambda r: r["bin"],
        )
        assert out[0]["iso_rate"] == pytest.approx(0.2, abs=1e-6)
        assert out[1]["iso_rate"] == pytest.approx(0.8, abs=1e-6)


class TestKCore:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(
            [(a, b) for a, b in edges], "left_id long, right_id long"
        )

    def test_star_dissolves_clique_survives(self, spark):
        """A 5-leaf star has no 3-core; K4 survives with core_deg 3."""
        from resume_jd_matcher_spark.operators.cluster import k_core

        star = [(0, i) for i in range(1, 6)]
        assert k_core(self._pairs(spark, star), k=3).count() == 0

        k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        out = {r["node"]: r["core_deg"] for r in k_core(
            self._pairs(spark, k4), k=3
        ).collect()}
        assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_pendant_chain_peels_into_core(self, spark):
        """K4 plus a pendant path: the path peels away over rounds,
        the K4 core remains."""
        from resume_jd_matcher_spark.operators.cluster import k_core

        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (5, 6), (6, 7)]
        out = {r["node"] for r in k_core(
            self._pairs(spark, edges), k=3
        ).collect()}
        assert out == {1, 2, 3, 4}

    def test_local_and_distributed_routes_agree(self, spark, spark_route):
        """r13 cost routing: the driver-side peel (bounded take) and
        the distributed per-round loop (forced via a zero
        driver row limit) must produce identical (node, core_deg)
        sets — the connected_components routing contract applied to
        k_core."""
        from resume_jd_matcher_spark.operators.cluster import k_core

        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (5, 6), (6, 7), (5, 7), (2, 8), (3, 8),
                 (4, 8)]
        pairs = self._pairs(spark, edges)
        local = {(r["node"], r["core_deg"])
                 for r in k_core(pairs, k=3).collect()}
        spark_route()
        dist = {(r["node"], r["core_deg"])
                for r in k_core(pairs, k=3).collect()}
        assert local == dist
        assert local  # K4+node8 survives: non-vacuous agreement


class TestMarkovAttribution:
    def test_two_channel_hand_chain(self, spark, monkeypatch):
        """u1: a→CONV, u2: b→NULL. Removing a kills all conversion
        (removal 1); removing b changes nothing (removal 0)."""
        from resume_jd_matcher_spark.queries import inference_q

        fd = dt.datetime(2024, 1, 1)
        rows = [
            (0, fd, 1, "click", 1.0, "{}"),
            (1, fd + dt.timedelta(seconds=10), 1, "purchase", 1.0, "{}"),
            (2, fd, 2, "view", 1.0, "{}"),
        ]
        e = spark.createDataFrame(rows, _EV_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: e)
        out = {
            r["channel"]: r
            for r in inference_q.q_markov_attribution(spark, SF).collect()
        }
        assert set(out) == {"click", "view"}
        assert out["click"]["p_conv_base"] == pytest.approx(0.5, abs=1e-6)
        assert out["click"]["removal_effect"] == pytest.approx(1.0, abs=1e-6)
        assert out["view"]["removal_effect"] == pytest.approx(0.0, abs=1e-6)
        assert out["click"]["attribution_share"] == pytest.approx(
            1.0, abs=1e-6
        )


# ---------------------------------------------------------------------------
# Batch 8: gaussian_mixture_em / periodogram
# ---------------------------------------------------------------------------

class TestGaussianMixtureEm:
    def test_bimodal_components_separate(self, spark, monkeypatch):
        """Two well-separated normal-ish clumps (~100 and ~5000):
        after 3 EM iterations the component means straddle them and
        the mixing weight is near 0.5."""
        from resume_jd_matcher_spark.queries import inference_q

        vals = [90, 95, 100, 105, 110] * 20 + [4900, 4950, 5000, 5050, 5100] * 20
        c = spark.createDataFrame(
            _cust([(0, v, "A") for v in vals]), _CUST_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_gaussian_mixture_em(spark, SF).collect()
        assert r["n"] == 200
        assert r["mu1"] == pytest.approx(100.0, abs=25.0)
        assert r["mu2"] == pytest.approx(5000.0, abs=25.0)
        assert 0.3 < r["pi1"] < 0.7
        assert r["sigma1"] < 200 and r["sigma2"] < 200

    def test_single_population_means_agree(self, spark, monkeypatch):
        """Unimodal data: both components settle near the common
        mean (EM has nothing to separate)."""
        from resume_jd_matcher_spark.queries import inference_q

        vals = list(range(900, 1101, 2))
        c = spark.createDataFrame(
            _cust([(0, v, "A") for v in vals]), _CUST_SCHEMA
        )
        monkeypatch.setattr(inference_q, "load_table", lambda *a: c)
        [r] = inference_q.q_gaussian_mixture_em(spark, SF).collect()
        assert abs(r["mu1"] - r["mu2"]) < 120


class TestPeriodogram:
    def test_weekly_cycle_peaks_at_period_seven(self, spark, monkeypatch):
        """A pure 7-day cycle over 56 days (n/7 = 8 full periods):
        the k = n/7 = 8 frequency takes nearly all the power."""
        from resume_jd_matcher_spark.queries import inference_q

        n = 56
        prices = [
            1000 + 500 * math.cos(2 * math.pi * d / 7) for d in range(n)
        ]
        o = spark.createDataFrame(_ord(list(enumerate(prices))), _ORD_SCHEMA)
        monkeypatch.setattr(inference_q, "load_table", lambda *a: o)
        out = {r["k"]: r for r in inference_q.q_periodogram(spark, SF).collect()}
        assert len(out) == 16
        assert out[8]["period_days"] == pytest.approx(7.0, abs=1e-6)
        assert out[8]["power_share"] > 0.9
        for k, r in out.items():
            if k != 8:
                assert r["power_share"] < 0.05
