"""Round-8 evaluation & data-ops layer: invariants of the evalops_q
queries — vocabulary overlap, token-budget curriculum and compaction
planning."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


class TestVocabOverlap:
    def test_identical_sources_have_jaccard_one(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import evalops_q

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma", "en", "s1", 16),
                (2, "alpha beta gamma", "en", "s2", 16),
                (3, "delta epsilon", "en", "s3", 13),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        monkeypatch.setattr(evalops_q, "load_table", lambda *a: docs)
        rows = {
            (r["source_a"], r["source_b"]): r
            for r in evalops_q.q_vocab_overlap(spark, SF).collect()
        }
        assert rows[("s1", "s2")]["jaccard"] == pytest.approx(1.0)
        assert rows[("s1", "s2")]["n_common"] == 3
        # disjoint vocabularies never meet the equi-join -> no row
        assert ("s1", "s3") not in rows and ("s2", "s3") not in rows


class TestTokenBudgetCurriculum:
    def test_phases_cut_at_cumulative_budget(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries import evalops_q

        out = evalops_q.q_token_budget_curriculum(spark, sf_dir).collect()
        by_rank = sorted(out, key=lambda r: r["rank"])
        # ranks are a 1..n permutation and cum_share is monotone
        assert [r["rank"] for r in by_rank] == list(range(1, len(out) + 1))
        shares = [r["cum_share"] for r in by_rank]
        assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
        assert shares[-1] == pytest.approx(1.0, abs=1e-6)
        # phase boundaries are consistent with the share
        for r in by_rank:
            if r["cum_share"] < 0.0999:
                assert r["phase"] == "warmup"
            elif 0.101 < r["cum_share"] < 0.6999:
                assert r["phase"] == "core"
            elif r["cum_share"] > 0.701:
                assert r["phase"] == "polish"


class TestCompactionPlan:
    def test_exact_packing(self, spark, monkeypatch):
        """10 files of exactly 50k chars -> 5 bins of 2 contiguous
        files, each exactly full."""
        from resume_jd_matcher_spark.queries import evalops_q

        docs = spark.createDataFrame(
            [(i, "x", "en", "s", 50_000) for i in range(10)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
        monkeypatch.setattr(evalops_q, "load_table", lambda *a: docs)
        out = sorted(
            evalops_q.q_compaction_plan(spark, SF).collect(),
            key=lambda r: r["bin"],
        )
        assert [r["bin"] for r in out] == [0, 1, 2, 3, 4]
        for k, r in enumerate(out):
            assert r["n_files"] == 2
            assert r["total_chars"] == 100_000
            assert r["first_doc"] == 2 * k and r["last_doc"] == 2 * k + 1
            assert r["fill_ratio"] == pytest.approx(1.0)

    def test_fixture_contiguous_and_bounded(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries import evalops_q

        out = sorted(
            evalops_q.q_compaction_plan(spark, sf_dir).collect(),
            key=lambda r: r["bin"],
        )
        assert len(out) >= 1
        for prev, cur in zip(out, out[1:]):
            # contiguity: doc ranges never interleave across bins
            assert prev["last_doc"] < cur["first_doc"]
            # every bin except possibly the last crosses the target
            assert prev["total_chars"] + cur["total_chars"] > 100_000
