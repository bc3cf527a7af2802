"""Semantics tests for the round-6 analytics additions: dictionary
keyword tagging / skill coverage, Wilson-bound ranking, and the
corpus analytics queries.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.tagging import keyword_tag, skill_coverage


class TestKeywordTag:
    def test_bigram_matches_as_unit(self, spark):
        df = spark.createDataFrame(
            [(1, "uses a hash join plan"), (2, "hash table only"), (3, "nothing here")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in keyword_tag(df, ["hash join", "plan"]).collect()}
        assert out[1]["matched_keywords"] == "hash join,plan"
        assert out[1]["n_matched"] == 2
        # "hash" alone (doc 2) must NOT match the bigram keyword
        assert out[2]["n_matched"] == 0
        # no-match docs still present with empty tag set
        assert out[3]["n_matched"] == 0 and out[3]["matched_keywords"] == ""

    def test_set_semantics_and_case(self, spark):
        df = spark.createDataFrame(
            [(1, "Spark SPARK spark spark")], "doc_id long, text string"
        )
        out = keyword_tag(df, ["Spark"]).collect()[0]
        assert out["n_matched"] == 1  # distinct, case-folded

    def test_dictionary_scales_not_text(self, spark):
        # dictionary terms absent from the text change nothing
        df = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
        small = keyword_tag(df, ["alpha"]).collect()[0]
        big = keyword_tag(df, ["alpha"] + [f"kw{i}" for i in range(200)]).collect()[0]
        assert small["matched_keywords"] == big["matched_keywords"] == "alpha"

    def test_empty_dictionary_and_null_text_degrade_to_zero(self, spark):
        # ADVICE r6: empty keyword list used to hit array_sort(None)
        # TypeError; NULL text used to yield NULL matched where the
        # SQL oracle coalesces to 0. Both routes must degrade to
        # zero matches.
        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, None)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in keyword_tag(df, []).collect()}
        assert out[1]["n_matched"] == 0 and out[1]["matched_keywords"] == ""
        out = {r["doc_id"]: r for r in keyword_tag(df, ["alpha"]).collect()}
        assert out[1]["n_matched"] == 1
        assert out[2]["n_matched"] == 0 and out[2]["matched_keywords"] == ""
        # broadcast route (dict > LITERAL_DICT_MAX) same NULL-text story
        big = ["alpha"] + [f"kw{i}" for i in range(300)]
        out = {r["doc_id"]: r for r in keyword_tag(df, big).collect()}
        assert out[1]["n_matched"] == 1
        assert out[2]["n_matched"] == 0 and out[2]["matched_keywords"] == ""


class TestSkillCoverage:
    def test_idf_weights_rare_over_common(self, spark):
        # "common" in every doc; "rare" in one. Doc 1 matches only
        # common, doc 2 only rare: equal plain coverage, rare wins idf.
        rows = [(i, "common filler") for i in range(1, 9)]
        rows.append((9, "rare filler"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in skill_coverage(df, ["common", "rare"]).collect()
        }
        assert out[1]["coverage"] == out[9]["coverage"] == 0.5
        assert out[9]["idf_coverage"] > out[1]["idf_coverage"]

    def test_unseen_jd_term_keeps_mass(self, spark):
        # a JD term absent corpus-wide still sits in the denominator:
        # full-match coverage is impossible, idf_coverage < 1. (Terms
        # present in EVERY doc would carry idf ln(1)=0, so keep the
        # matched terms out of some docs.)
        df = spark.createDataFrame(
            [(1, "sql python"), (2, "filler"), (3, "filler")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in
               skill_coverage(df, ["sql", "python", "verilog"]).collect()}[1]
        assert out["n_matched"] == 2
        assert out["coverage"] == pytest.approx(2 / 3, abs=1e-4)
        assert 0 < out["idf_coverage"] < 1

    def test_banding_thresholds(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c"), (3, "a")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["band"] for r in
               skill_coverage(df, ["a", "b", "c", "d", "e"]).collect()}
        assert out == {1: "high", 2: "medium", 3: "low"}


class TestWilsonRanking:
    def test_small_sample_demoted(self, spark):
        # 3/3 perfect vs 95/100: naive rate says tiny source wins,
        # Wilson lower bound must rank the big source first.
        from resume_jd_matcher_spark.operators.tagging import keyword_tag  # noqa: F401
        rows = [(i, "x" * 400, "big") for i in range(95)]
        rows += [(100 + i, "x" * 10, "big") for i in range(5)]
        rows += [(200 + i, "x" * 400, "tiny") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        df = df.withColumn("n_chars", F.length("text"))

        # inline the wilson expression the query uses
        per = df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_chars") >= 300).cast("bigint")).alias("n_keep"),
        )
        p = F.col("n_keep") / F.col("n_docs").cast("double")
        n = F.col("n_docs")
        wilson = (
            p + F.lit(1.9208) / n
            - F.lit(1.96) * F.sqrt(p * (1 - p) / n + F.lit(0.9604) / (n * n.cast("double")))
        ) / (1 + F.lit(3.8416) / n)
        got = {r["source"]: (r["rate"], r["w"]) for r in
               per.select("source", p.alias("rate"), wilson.alias("w")).collect()}
        assert got["tiny"][0] > got["big"][0]   # naive rate: tiny "wins"
        assert got["big"][1] > got["tiny"][1]   # wilson: big wins
        assert 0 <= got["tiny"][1] <= 1


class TestNegativeSampling:
    def test_k_draws_per_doc_and_determinism(self, spark):
        from resume_jd_matcher_spark.operators.sampling import negative_sampling

        rows = [(i, "apple banana cherry date " * 3 + ("rare" if i == 0 else ""))
                for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = negative_sampling(df, k=3, vocab_size=10).collect()
        b = negative_sampling(df, k=3, vocab_size=10).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
        per_doc = {}
        for r in a:
            per_doc.setdefault(r["doc_id"], set()).add(r["j"])
        assert all(js == {1, 2, 3} for js in per_doc.values())  # exactly k each
        assert len(per_doc) == 20

    def test_distribution_follows_power_weights(self, spark):
        """'common' appears 9× as often as 'rare' → sampling odds
        ≈ 9^0.75 ≈ 5.2, not 9. Check the drawn share lands nearer the
        tempered ratio than the raw one."""
        from resume_jd_matcher_spark.operators.sampling import negative_sampling

        text = ("common " * 9 + "rare ").strip()
        rows = [(i, text) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = negative_sampling(df, k=4, vocab_size=2).collect()
        n = len(out)
        n_common = sum(1 for r in out if r["neg_token"] == "common")
        share = n_common / n
        expected = 9**0.75 / (9**0.75 + 1)   # ≈ 0.839
        raw = 9 / 10.0
        assert n == 2000
        assert abs(share - expected) < abs(share - raw)
        assert abs(share - expected) < 0.03

    def test_seed_changes_draws(self, spark):
        from resume_jd_matcher_spark.operators.sampling import negative_sampling

        rows = [(i, "alpha beta gamma delta epsilon") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = {(r["doc_id"], r["j"]): r["neg_token"]
             for r in negative_sampling(df, k=2, vocab_size=5, seed=1).collect()}
        b = {(r["doc_id"], r["j"]): r["neg_token"]
             for r in negative_sampling(df, k=2, vocab_size=5, seed=2).collect()}
        assert a != b


class TestMarginBitext:
    def test_hub_penalized(self, spark):
        """A hub target close to EVERY source must lose to a target
        that is uniquely close to one source, even at equal raw
        cosine — the margin denominator cancels hubness."""
        from resume_jd_matcher_spark.operators.retrieval import margin_bitext_mine

        import math

        def vec(theta):
            return [math.cos(theta), math.sin(theta)]

        rows = []
        # sources (label 0) spread out
        for i, th in enumerate([0.0, 1.2, 2.4]):
            rows.append((i, vec(th), 0))
        # hub target: equally mid-distance to all sources
        rows.append((10, vec(1.2), 1))
        # unique target: very close to source 0 only
        rows.append((11, vec(0.05), 1))
        # fillers so neighborhoods exist
        rows.append((12, vec(2.0), 1))
        rows.append((13, vec(2.8), 1))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        out = {r["src_id"]: r for r in
               margin_bitext_mine(df, nbr_k=2, min_margin=0.0).collect()}
        assert out[0]["tgt_id"] == 11          # the unique match wins for src 0
        assert out[0]["margin"] > out[1]["margin"]  # hub-matched src has weaker margin

    def test_zero_norm_ignored(self, spark):
        from resume_jd_matcher_spark.operators.retrieval import margin_bitext_mine

        rows = [
            (0, [1.0, 0.0], 0),
            (1, [0.0, 0.0], 1),   # zero-norm: NULL cosine, must not crash
            (2, [0.9, 0.1], 1),
            (3, [0.5, 0.5], 1),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        out = margin_bitext_mine(df, nbr_k=2, min_margin=0.0).collect()
        assert len(out) == 1 and out[0]["tgt_id"] == 2


class TestBatch3Analytics:
    def test_ngram_diversity_bounds(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import analytics_q

        rows = [(1, "a b c d e", "en", "unique", 9),
                (2, "x y x y x y", "en", "loop", 11)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        out = {r["source"]: r for r in
               analytics_q.q_ngram_diversity(spark, "ignored").collect()}
        assert out["unique"]["distinct_2"] == 1.0          # all bigrams unique
        # "x y x y x y": bigrams xy,yx,xy,yx,xy → 2 distinct / 5
        assert out["loop"]["n_bigrams"] == 5
        assert out["loop"]["n_distinct"] == 2
        assert out["loop"]["distinct_2"] == 0.4

    def test_inverted_index_head(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import analytics_q

        rows = [(i, "alpha beta" if i < 15 else "alpha", "en", "s", 5)
                for i in range(20)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        out = {r["token"]: r for r in
               analytics_q.q_inverted_index(spark, "ignored").collect()}
        assert out["alpha"]["df"] == 20
        assert out["beta"]["df"] == 15
        # head capped at the 10 LOWEST doc ids
        assert out["alpha"]["posting_head"] == ",".join(str(i) for i in range(10))
        assert out["beta"]["posting_head"] == ",".join(str(i) for i in range(10))

    def test_heaps_fit_shared_and_ttr_bounds(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries.analytics_q import q_heaps_law

        out = q_heaps_law(spark, sf_dir).collect()
        assert len(out) >= 2
        assert len({(r["beta"], r["k"], r["r2"]) for r in out}) == 1  # one fit
        for r in out:
            assert 0 < r["ttr"] <= 1.0
            assert r["n_types"] <= r["n_tokens"]

    def test_align_uniformity_separates_collapse(self, spark):
        """Collapsed embeddings (all identical): alignment 0 (perfect)
        but uniformity 0 (worst); spread embeddings trade alignment
        for much lower uniformity — the collapse detector."""
        from resume_jd_matcher_spark.operators import retrieval  # noqa: F401
        import math

        from resume_jd_matcher_spark.queries import vector_q

        def run(df, monkey):
            monkey.setattr(vector_q, "load_table", lambda s, d, n: df)
            return vector_q.q_align_uniformity(spark, "ignored").collect()[0]

        import pytest as _pytest
        mp = _pytest.MonkeyPatch()
        try:
            collapsed = spark.createDataFrame(
                [(i, [1.0, 0.0], i % 2) for i in range(40)],
                "vec_id long, embedding array<float>, label int",
            )
            c = run(collapsed, mp)
            assert c["alignment"] == _pytest.approx(0.0, abs=1e-6)
            assert c["uniformity"] == _pytest.approx(0.0, abs=1e-6)

            spread = spark.createDataFrame(
                [(i, [math.cos(i * 0.157), math.sin(i * 0.157)], i % 2)
                 for i in range(40)],
                "vec_id long, embedding array<float>, label int",
            )
            s = run(spread, mp)
            assert s["uniformity"] < c["uniformity"] - 0.5
            assert s["alignment"] > c["alignment"]
        finally:
            mp.undo()


class TestQuantileNormalize:
    def test_shifted_sources_align(self, spark, monkeypatch):
        """Source B = source A's scores + 500 (pure shift). After
        quantile normalization both sources map onto the SAME pooled
        values at the same within-source quantiles."""
        from resume_jd_matcher_spark.queries import analytics_q

        rows = []
        for i in range(100):
            rows.append((i, "x", "en", "A", 100 + i))
            rows.append((1000 + i, "x", "en", "B", 600 + i))
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        out = analytics_q.q_quantile_normalize(spark, "ignored").collect()
        by_doc = {r["doc_id"]: r for r in out}
        # same within-source rank -> same normalized value
        for i in range(100):
            assert by_doc[i]["qbin"] == by_doc[1000 + i]["qbin"]
            assert by_doc[i]["norm_chars"] == by_doc[1000 + i]["norm_chars"]
        # normalized values come from the pooled support
        pooled = {r["norm_chars"] for r in out}
        support = set(range(100, 200)) | set(range(600, 700))
        assert pooled <= support

    def test_cdf_monotone_in_score(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import analytics_q

        rows = [(i, "x", "en", "s", 10 * i) for i in range(1, 30)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        out = sorted(
            analytics_q.q_quantile_normalize(spark, "ignored").collect(),
            key=lambda r: r["n_chars_b"],
        )
        cdfs = [r["src_cdf"] for r in out]
        norms = [r["norm_chars"] for r in out]
        assert cdfs == sorted(cdfs)
        assert norms == sorted(norms)


class TestNegativeSamplingCDF:
    def test_integer_cdf_partitions_range(self, spark):
        """The vocab intervals [lo, hi) must tile [0, W) exactly (no
        gap, no overlap) and every draw's r must land in exactly one
        interval — the invariant that makes the binned inversion
        correct."""
        from pyspark.sql import functions as F
        from resume_jd_matcher_spark.functions.text import tokens

        rows = [(i, "aa bb bb cc cc cc dd dd dd dd x" + str(i % 3))
                for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        vocab = (
            df.select(F.explode(tokens("text")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("tok").asc())
            .limit(7)
            .select("tok", "cnt",
                    F.round(F.pow(F.col("cnt").cast("double"), 0.75) * 1000)
                    .cast("bigint").alias("wt"))
        ).collect()
        # replay the operator's CDF in python
        ivs, acc = [], 0
        for r in sorted(vocab, key=lambda r: (-r["cnt"], r["tok"])):
            ivs.append((r["tok"], acc, acc + r["wt"]))
            acc += r["wt"]
        W = acc
        assert ivs[0][1] == 0 and ivs[-1][2] == W
        for (_, _lo, hi), (_, lo2, _) in zip(ivs, ivs[1:]):
            assert hi == lo2  # no gap, no overlap

        from resume_jd_matcher_spark.operators.sampling import negative_sampling
        out = negative_sampling(df, k=3, vocab_size=7).collect()
        tok_of = {t: (lo, hi) for t, lo, hi in ivs}
        assert len(out) == 60 * 3
        for r in out:
            lo, hi = tok_of[r["neg_token"]]
            assert hi - lo > 0 and 0 <= lo < hi <= W


class TestZipfFit:
    def test_planted_zipfian_corpus(self, spark, monkeypatch):
        """Counts exactly C/rank -> log-log OLS recovers exponent -1
        with r2 ~ 1; vocab < top-k so coverage is 1.0."""
        from resume_jd_matcher_spark.queries import analytics_q

        words = []
        for rank in range(1, 21):
            words += [f"w{rank:02d}"] * (2520 // rank)  # exact C/rank
        docs = [(i, "s", " ".join(words[i::10])) for i in range(10)]
        df = spark.createDataFrame(docs, "doc_id long, source string, text string")
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        r = analytics_q.q_zipf_fit(spark, "ignored").collect()[0]
        assert r["n_terms"] == 20
        assert r["vocab_size"] == 20
        assert r["zipf_exponent"] == pytest.approx(-1.0, abs=0.01)
        assert r["r2"] > 0.999
        assert r["topk_coverage"] == pytest.approx(1.0)

    def test_flat_corpus_zero_slope(self, spark, monkeypatch):
        """Every term equally frequent -> slope 0 (template corpus
        signature)."""
        from resume_jd_matcher_spark.queries import analytics_q

        words = [f"t{i:02d}" for i in range(30)] * 50
        df = spark.createDataFrame(
            [(0, "s", " ".join(words))], "doc_id long, source string, text string"
        )
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        r = analytics_q.q_zipf_fit(spark, "ignored").collect()[0]
        assert r["zipf_exponent"] == pytest.approx(0.0, abs=1e-6)


class TestLlrKeyness:
    def test_planted_key_term_ranks_first(self, spark, monkeypatch):
        """A term appearing ONLY in source A (and often) must be A's
        top keyness term; shared background terms must not outrank
        it. A rare term (corpus df < 5) never appears."""
        from resume_jd_matcher_spark.queries import analytics_q

        bg = "the and of to in " * 20  # shared background
        docs = [
            (0, "A", bg + " kubernetes " * 30 + " rare"),
            (1, "A", bg + " kubernetes " * 30),
            (2, "B", bg),
            (3, "B", bg),
        ]
        df = spark.createDataFrame(docs, "doc_id long, source string, text string")
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        out = analytics_q.q_llr_keyness(spark, "ignored").collect()
        a_rows = sorted([r for r in out if r["source"] == "A"], key=lambda r: r["rk"])
        assert a_rows and a_rows[0]["token"] == "kubernetes"
        assert a_rows[0]["n_in_source"] == 60
        assert a_rows[0]["llr"] > 0
        assert all(r["token"] != "rare" for r in out)  # df=1 < min_df
        # ranks are 1..k, contiguous per source
        for src in {"A", "B"}:
            rks = [r["rk"] for r in out if r["source"] == src]
            assert rks == list(range(1, len(rks) + 1))

    def test_balanced_term_not_keyed(self, spark, monkeypatch):
        """A term spread exactly proportionally to source sizes has
        observed == expected -> direction 0 -> excluded everywhere."""
        from resume_jd_matcher_spark.queries import analytics_q

        docs = [
            (0, "A", "even " * 10 + "alpha " * 10),
            (1, "B", "even " * 10 + "beta " * 10),
        ]
        df = spark.createDataFrame(docs, "doc_id long, source string, text string")
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        out = analytics_q.q_llr_keyness(spark, "ignored").collect()
        assert all(r["token"] != "even" for r in out)


class TestEffectiveSources:
    def test_uniform_mix_equals_source_count(self, spark, monkeypatch):
        """k equal sources -> effective number == k under BOTH Hill
        orders, evenness == 1."""
        from resume_jd_matcher_spark.queries import analytics_q

        docs = [(i, f"s{i % 5}", "x") for i in range(500)]
        df = spark.createDataFrame(docs, "doc_id long, source string, text string")
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        r = analytics_q.q_effective_sources(spark, "ignored").collect()[0]
        assert r["n_sources"] == 5
        assert r["effective_shannon"] == pytest.approx(5.0, abs=1e-3)
        assert r["effective_simpson"] == pytest.approx(5.0, abs=1e-3)
        assert r["evenness"] == pytest.approx(1.0, abs=1e-3)

    def test_dominated_mix_collapses(self, spark, monkeypatch):
        """95/5 split over 2 sources behaves like ~1.2 effective
        sources; single source -> H 0, effective 1, evenness NULL."""
        from resume_jd_matcher_spark.queries import analytics_q
        import math

        docs = [(i, "big", "x") for i in range(95)] + [
            (95 + i, "small", "x") for i in range(5)
        ]
        df = spark.createDataFrame(docs, "doc_id long, source string, text string")
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: df)
        r = analytics_q.q_effective_sources(spark, "ignored").collect()[0]
        h = -(0.95 * math.log(0.95) + 0.05 * math.log(0.05))
        assert r["shannon_h"] == pytest.approx(h, abs=1e-3)
        assert r["effective_shannon"] == pytest.approx(math.exp(h), abs=1e-3)

        solo = spark.createDataFrame(
            [(0, "only", "x")], "doc_id long, source string, text string"
        )
        monkeypatch.setattr(analytics_q, "load_table", lambda s, d, n: solo)
        r = analytics_q.q_effective_sources(spark, "ignored").collect()[0]
        assert r["shannon_h"] == pytest.approx(0.0)
        assert r["effective_shannon"] == pytest.approx(1.0)
        assert r["evenness"] is None
