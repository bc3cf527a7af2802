"""Invariants of curation_q's cross-source leakage query (a verbatim
copy across two sources is the one leaked pair) and of text_q's LSH
band planner behind minhash_lsh's default band split."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


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


class TestLshParamPlanner:
    def test_curve_shape_and_recommendation(self, spark):
        from resume_jd_matcher_spark.queries import text_q

        rows = {r["b"]: r for r in text_q.q_lsh_param_planner(spark, SF).collect()}
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
