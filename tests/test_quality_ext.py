"""Semantics tests for the round-5 quality/analytics additions:
PMI collocations, the hashed linear quality classifier, and
embedding-space outlier detection.
"""

from __future__ import annotations

import math

import pytest

from resume_jd_matcher_spark.operators.quality import (
    classifier_weights,
    embedding_outliers,
    quality_classifier,
)
from resume_jd_matcher_spark.operators.textstats import pmi_collocations


class TestPMI:
    def test_bound_pair_beats_independent(self, spark):
        # "new york" always adjacent; "the cat/dog/fish" varies.
        rows = [(i, "new york " + ("the cat " if i % 2 else "the dog ") * 2) for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {(r["w1"], r["w2"]): r["pmi"] for r in pmi_collocations(df, min_count=10, k=50).collect()}
        assert ("new", "york") in out
        # 'the'→{cat,dog} splits mass; 'new'→'york' is deterministic
        assert out[("new", "york")] > out[("the", "cat")]

    def test_min_count_suppresses_rare(self, spark):
        df = spark.createDataFrame(
            [(1, "rare pair common common common common")], "doc_id long, text string"
        )
        assert pmi_collocations(df, min_count=2, k=10).count() == 1  # only common,common

    def test_pmi_value_exact(self, spark):
        # 4 bigrams total: (a b) x2, (b a), (b c). unigrams: a=2,b=3,c=1? text "a b a b c"
        df = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
        out = {(r["w1"], r["w2"]): r["pmi"] for r in pmi_collocations(df, min_count=2, k=10).collect()}
        # tokens: a,b,a,b,c (T=5, a=2, b=2); bigrams: (a,b)x2,(b,a),(b,c) (B=4)
        expected = math.log((2 / 4) / ((2 / 5) * (2 / 5)))
        assert out[("a", "b")] == pytest.approx(expected, abs=1e-5)


class TestQualityClassifier:
    def test_weights_deterministic_and_bounded(self, spark):
        w1 = {r["bucket"]: r["weight"] for r in classifier_weights(spark, 64).collect()}
        w2 = {r["bucket"]: r["weight"] for r in classifier_weights(spark, 64).collect()}
        assert w1 == w2 and len(w1) == 64
        assert all(-1.0 <= v <= 1.0 for v in w1.values())

    def test_prob_is_sigmoid_of_logit(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "zeta eta theta")],
            "doc_id long, text string",
        )
        out = quality_classifier(docs, classifier_weights(spark, 64), n_buckets=64)
        for r in out.collect():
            assert r["prob"] == pytest.approx(
                1.0 / (1.0 + math.exp(-r["logit"])), abs=2e-6
            )
            assert r["keep"] == int(r["prob"] > 0.5)

    def test_identical_docs_same_score(self, spark):
        docs = spark.createDataFrame(
            [(1, "same words here"), (2, "same words here")],
            "doc_id long, text string",
        )
        a, b = sorted(
            quality_classifier(docs, classifier_weights(spark, 64), 64).collect(),
            key=lambda r: r["doc_id"],
        )
        assert a["logit"] == b["logit"] and a["prob"] == b["prob"]


class TestEmbeddingOutliers:
    def test_planted_outlier_flagged(self, spark):
        # tight cluster at origin + one far point, all same label
        rows = [(i, 0, [0.0 + 0.01 * (i % 3), 0.0]) for i in range(20)]
        rows.append((99, 0, [50.0, 50.0]))
        df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
        out = {r["vec_id"]: r for r in embedding_outliers(df).collect()}
        assert out[99]["is_outlier"] == 1
        assert all(out[i]["is_outlier"] == 0 for i in range(20))
        assert out[99]["z"] > 2.0

    def test_z_mean_near_zero(self, spark):
        rows = [(i, 0, [float(i % 5), float(i % 7)]) for i in range(35)]
        df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
        zs = [r["z"] for r in embedding_outliers(df).collect()]
        assert abs(sum(zs) / len(zs)) < 0.01


class TestBPE:
    def test_learns_frequency_ordered_and_recursive_merges(self, spark):
        """5×"abab" + 3×"cd": step 1 merges the most frequent pair
        (a,b); step 2 must build ON that merge ((ab,ab) — only
        expressible after step 1); step 3 falls to (c,d)."""
        from resume_jd_matcher_spark.operators.textstats import (
            bpe_learn_merges,
        )

        rows = [(i, "abab" if i < 5 else "cd") for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [
            (r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_learn_merges(df, n_merges=3).collect()
        ]
        assert got == [
            (1, "a", "b", 10),   # 2 occurrences per "abab" word-token ×5
            (2, "ab", "ab", 5),  # recursive: uses step-1's symbol
            (3, "c", "d", 3),
        ]

    def test_stops_when_no_pairs_remain(self, spark):
        from resume_jd_matcher_spark.operators.textstats import (
            bpe_learn_merges,
        )

        df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
        got = bpe_learn_merges(df, n_merges=5).collect()
        assert got == []  # single-char words carry no pairs

    def test_encode_fertility_reflects_merges(self, spark):
        """After learning on 5×"abab"+3×"cd", encoding maps "abab" to
        ONE symbol (two recursive merges) and "cd" to one — fertility
        collapses from 4/2 chars to 1 symbol per word."""
        from resume_jd_matcher_spark.operators.textstats import (
            bpe_encode_stats,
        )

        rows = [(i, "abab" if i < 5 else "cd") for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in bpe_encode_stats(df, n_merges=3).collect()}
        assert got[0]["n_words"] == 1 and got[0]["n_symbols"] == 1
        assert got[7]["n_symbols"] == 1  # "cd" merged at step 3
        assert got[0]["symbols_per_word"] == 1.0

    def test_local_and_distributed_routes_agree(self, spark, spark_route):
        """r13 cost routing: the driver-side merge loop (bounded
        vocab take) and the distributed per-merge argmax loop
        (forced via zero driver row limits) must learn the identical rule
        sequence, and the encode halves must emit identical
        fertility rows."""
        from resume_jd_matcher_spark.operators.textstats import (
            bpe_encode_stats,
            bpe_learn_merges,
        )

        rows = [(i, f"abab cd ab ce de x{i % 5}y qrs") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        local = [tuple(r) for r in bpe_learn_merges(df, n_merges=5).collect()]
        enc_l = {
            r["doc_id"]: tuple(r)
            for r in bpe_encode_stats(df, n_merges=5).collect()
        }
        spark_route()
        dist = [tuple(r) for r in bpe_learn_merges(df, n_merges=5).collect()]
        assert local == dist and len(local) == 5
        enc_d = {
            r["doc_id"]: tuple(r)
            for r in bpe_encode_stats(df, n_merges=5).collect()
        }
        assert enc_l == enc_d and len(enc_l) == 20

    def test_merge_loop_caps_cached_generations(self, spark, monkeypatch, spark_route):
        """The merge loop unpersists the superseded vocab generation
        inside the loop: peak simultaneously-persisted DataFrames must
        stay at 2 regardless of n_merges, and everything is released
        on exit (getPersistentRDDs back to its pre-call census)."""
        from pyspark.sql import DataFrame

        from resume_jd_matcher_spark.operators.textstats import (
            bpe_learn_merges,
        )

        live = {"n": 0, "peak": 0}
        orig_persist, orig_unpersist = DataFrame.persist, DataFrame.unpersist

        def persist(self, *a, **k):
            live["n"] += 1
            live["peak"] = max(live["peak"], live["n"])
            return orig_persist(self, *a, **k)

        def unpersist(self, *a, **k):
            live["n"] -= 1
            return orig_unpersist(self, *a, **k)

        monkeypatch.setattr(DataFrame, "persist", persist)
        monkeypatch.setattr(DataFrame, "unpersist", unpersist)

        # enough distinct pairs for 10 real merge iterations
        rows = [(i, f"ab cd ab ce de x{i % 5}y qrs") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
        # zero driver row limits force the distributed loop — the cache
        # discipline under test only exists on that route (r13 added
        # a driver-side route for vocabularies that fit a bounded take)
        spark_route()
        merges = bpe_learn_merges(df, n_merges=10).collect()
        assert len(merges) >= 5  # the loop genuinely iterated
        assert live["peak"] <= 2, f"peak cached vocab generations {live['peak']}"
        assert live["n"] == 0, "a vocab generation leaked past the loop"
        # allow the (ContextCleaner-collectable) localCheckpoint RDD
        # taken at step 8 to linger; nothing else may remain
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after <= baseline + 1
