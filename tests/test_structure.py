"""Unit tests for the round-11 structure family
(queries/structure_q.py): hand-computed fixtures for LPA,
rendezvous sharding, B-cubed and the
multiplicative-weights reweighting — plus the exact-integer
discipline checks (every exposed column is integral)."""

from __future__ import annotations

import hashlib

SF = "/root/testdata/sf0.001"

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(rows):
    return [(i, t, "en", s, len(t)) for i, t, s in rows]


def _hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


class TestLabelPropagation:
    def _lpa(self, spark, edges, n_iter=4):
        from resume_jd_matcher_spark.operators.cluster import (
            label_propagation_sync,
        )

        sym = spark.createDataFrame(
            [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
            "a long, b long",
        )
        return {
            r["node"]: r["community"]
            for r in label_propagation_sync(sym, n_iter=n_iter).collect()
        }

    def test_triangle_converges_to_min_label(self, spark):
        out = self._lpa(spark, [(1, 2), (2, 3), (1, 3)])
        assert out == {1: 1, 2: 1, 3: 1}

    def test_pair_stabilizes_via_self_vote(self, spark):
        """Without the self-vote a 2-clique oscillates; with it both
        nodes settle on the min label."""
        out = self._lpa(spark, [(4, 5)])
        assert out == {4: 4, 5: 4}

    def test_two_cliques_stay_separate(self, spark):
        out = self._lpa(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)])
        assert out[1] == out[2] == out[3] == 1
        assert out[10] == out[11] == out[12] == 10

    def test_distributed_path_matches_local(self, spark, monkeypatch):
        """Force the DataFrame loop (a zero LOCAL_GRAPH_EDGES) and
        compare labels with the driver path on the same graph."""
        from resume_jd_matcher_spark.operators import cluster
        from resume_jd_matcher_spark.operators.cluster import (
            label_propagation_sync,
        )

        edges = [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)]
        sym = spark.createDataFrame(
            [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
            "a long, b long",
        )
        local = {
            r["node"]: r["community"]
            for r in label_propagation_sync(sym, n_iter=4).collect()
        }
        monkeypatch.setattr(cluster, "LOCAL_GRAPH_EDGES", 0)
        dist = {
            r["node"]: r["community"]
            for r in label_propagation_sync(sym, n_iter=4).collect()
        }
        assert local == dist


class TestShardRendezvous:
    def test_assignment_matches_python_hrw(self, spark, monkeypatch):
        """Exact per-shard counts against a pure-python HRW replay of
        the shared hash32 family."""
        from resume_jd_matcher_spark.queries import structure_q as sq

        docs = spark.createDataFrame(
            _docs([(i, f"text {i}", "web") for i in range(50)]), _DOC_SCHEMA
        )
        monkeypatch.setattr(sq, "load_table", lambda *a: docs)
        out = {r["shard"]: r for r in sq.q_shard_rendezvous(spark, SF).collect()}

        exp_docs: dict[int, int] = {}
        exp_moved: dict[int, int] = {}
        for i in range(50):
            hv16 = [(_hash32(f"{i}#{s}"), -s) for s in range(16)]
            hv17 = [(_hash32(f"{i}#{s}"), -s) for s in range(17)]
            s16 = -max(hv16)[1]
            s17 = -max(hv17)[1]
            exp_docs[s16] = exp_docs.get(s16, 0) + 1
            if s17 != s16:
                exp_moved[s16] = exp_moved.get(s16, 0) + 1
        for shard, r in out.items():
            assert r["n_docs"] == exp_docs.get(shard, 0)
            assert r["n_moved"] == exp_moved.get(shard, 0)
        assert sum(r["n_docs"] for r in out.values()) == 50

    def test_moves_are_minority(self, spark, sf_dir):
        """HRW resize property: adding one shard to 16 moves roughly
        1/17 of docs — assert well under half move."""
        from resume_jd_matcher_spark.queries import structure_q as sq

        rows = sq.q_shard_rendezvous(spark, sf_dir).collect()
        total = sum(r["n_docs"] for r in rows)
        moved = sum(r["n_moved"] for r in rows)
        assert 0 <= moved < total / 2


class TestBcubedEval:
    def test_perfect_clustering_scores_one(self, spark, monkeypatch):
        """Exact-dup groups == near-dup groups (identical texts,
        wildly distinct otherwise): P = R = F1 = 1e9 exactly."""
        from resume_jd_matcher_spark.queries import structure_q as sq

        dup_a = "alpha bravo charlie delta echo foxtrot golf hotel"
        dup_b = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
        rows = _docs(
            [
                (0, dup_a, "web"),
                (1, dup_a, "web"),
                (2, dup_b, "web"),
                (3, dup_b, "web"),
                (4, "zulu yankee xray whiskey victor uniform", "web"),
            ]
        )
        docs = spark.createDataFrame(rows, _DOC_SCHEMA)
        monkeypatch.setattr(sq, "load_table", lambda *a: docs)
        [r] = sq.q_bcubed_eval(spark, SF).collect()
        assert r["n_docs"] == 5
        assert r["precision_e9"] == 10**9
        assert r["recall_e9"] == 10**9
        assert r["f1_e9"] == 10**9

    def test_all_integral_columns(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries import structure_q as sq

        df = sq.q_bcubed_eval(spark, sf_dir)
        assert all(f.dataType.simpleString() == "bigint" for f in df.schema)


class TestDoremiReweight:
    def test_hand_computed_two_sources(self, spark, monkeypatch):
        """A: 'a a a' (3 common tokens), B: 'b' (1 rare token) —
        every fixed-point step checked by hand."""
        from resume_jd_matcher_spark.queries import structure_q as sq

        docs = spark.createDataFrame(
            _docs([(0, "a a a", "A"), (1, "b", "B")]), _DOC_SCHEMA
        )
        monkeypatch.setattr(sq, "load_table", lambda *a: docs)
        out = {r["source"]: r for r in sq.q_doremi_reweight(spark, SF).collect()}
        a, b = out["A"], out["B"]
        assert (a["n_tokens"], b["n_tokens"]) == (3, 1)
        assert a["mean_freq_e6"] == 3_000_000  # every token seen 3x
        assert b["mean_freq_e6"] == 1_000_000
        # global mean freq = (9 + 1) / 4 = 2.5
        assert a["excess_e6"] == 0
        assert b["excess_e6"] == 1_500_000
        # wraw: A = 3 * 1e6, B = 1 * 2.5e6; shares of 5.5e6
        assert a["weight_e6"] == (3_000_000 * 2_000_000 + 5_500_000) // (
            2 * 5_500_000
        )
        assert b["weight_e6"] == (2_500_000 * 2_000_000 + 5_500_000) // (
            2 * 5_500_000
        )

    def test_weights_sum_to_one(self, spark, sf_dir):
        from resume_jd_matcher_spark.queries import structure_q as sq

        rows = sq.q_doremi_reweight(spark, sf_dir).collect()
        total = sum(r["weight_e6"] for r in rows)
        assert abs(total - 10**6) <= len(rows)  # half-up per share
