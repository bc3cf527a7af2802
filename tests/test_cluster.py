"""Connected-components cluster resolution (operators/cluster.py) and
winnowing fingerprints (operators/textstats.winnow_fingerprints)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.cluster import (
    connected_components,
    dedup_clusters,
)
from resume_jd_matcher_spark.operators.textstats import winnow_fingerprints


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["left_id", "right_id"])


def test_cc_triangle_chain_and_pair(spark):
    # triangle {1,2,3}, chain 10-11-12-13, isolated pair {20,21}
    e = _edges(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
    )
    got = {
        (r["node"], r["cluster_rep"])
        for r in connected_components(e).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }


def test_cc_long_chain_converges(spark):
    # worst case for label propagation: a path graph; diameter = n-1
    n = 12
    e = _edges(spark, [(i, i + 1) for i in range(n)])
    rows = connected_components(e, max_iter=n + 2).collect()
    assert {r["cluster_rep"] for r in rows} == {0}
    assert len(rows) == n + 1


def test_cc_local_equals_distributed(spark, spark_route):
    # both routes must produce identical labels and cluster sizes,
    # a node whose only edge is a self-loop included
    pairs = [
        (1, 2), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21), (3, 30),
        (40, 40),
    ]
    e = _edges(spark, pairs)
    # small graph -> driver union-find
    local_cc = {tuple(r) for r in connected_components(e).collect()}
    local_dc = {tuple(r) for r in dedup_clusters(e).collect()}
    spark_route()  # force the star loop
    assert local_cc == {tuple(r) for r in connected_components(e).collect()}
    assert local_dc == {tuple(r) for r in dedup_clusters(e).collect()}
    assert (40, 40) in local_cc and (40, 40, 1) in local_dc


def test_cc_direction_invariant(spark):
    # (a,b) vs (b,a) must give identical clusters
    fwd = connected_components(_edges(spark, [(5, 9), (9, 7)])).collect()
    rev = connected_components(_edges(spark, [(9, 5), (7, 9)])).collect()
    assert {(r["node"], r["cluster_rep"]) for r in fwd} == {
        (r["node"], r["cluster_rep"]) for r in rev
    }


def test_dedup_clusters_sizes(spark, count_jobs):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    # the small path answers with a local relation: collecting it runs
    # no Spark job
    rows, jobs = count_jobs(dedup_clusters(e).collect)
    assert jobs == 0
    by_doc = {r["doc_id"]: (r["cluster_rep"], r["cluster_size"]) for r in rows}
    assert by_doc == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 2), 11: (10, 2),
    }
    # keep-policy filter retains exactly one doc per cluster
    keep = [r for r in rows if r["doc_id"] == r["cluster_rep"]]
    assert len(keep) == 2


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_winnow_shared_run_shares_fingerprint(spark):
    # k=4, w=5: a shared run of >= k+w-1 = 8 tokens guarantees a
    # common fingerprint (the winnowing coverage guarantee).
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    d = _docs(
        spark,
        [
            f"intro words here {shared} tail one",
            f"{shared} completely different ending tokens now",
        ],
    )
    fps = winnow_fingerprints(d, k=4, w=5).collect()
    s0 = {r["fp"] for r in fps if r["doc_id"] == 0}
    s1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    assert s0 & s1


def test_winnow_short_doc_empty(spark):
    # fewer than k + w - 1 tokens -> no full window -> no fingerprints
    d = _docs(spark, ["only five tokens right here"])
    assert winnow_fingerprints(d, k=4, w=5).count() == 0


def test_winnow_deterministic(spark):
    d = _docs(spark, ["one two three four five six seven eight nine ten"])
    a = sorted(r["fp"] for r in winnow_fingerprints(d).collect())
    b = sorted(r["fp"] for r in winnow_fingerprints(d).collect())
    assert a == b and a


def test_winnow_no_python_in_plan(spark, sf_dir):
    from resume_jd_matcher_spark.sources.io import load_table

    plan = winnow_fingerprints(
        load_table(spark, sf_dir, "documents")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_union_find_matches_bfs_closure():
    """Property: driver-side union-find labels == brute-force BFS
    components, across random edge lists."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from resume_jd_matcher_spark.operators.cluster import (
        _uf_find,
        _union_find,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1,
            max_size=40,
        )
    )
    def check(pairs):
        parent = _union_find(pairs)
        got = {n: _uf_find(parent, n) for n in parent}
        # brute force: BFS from every node over the undirected graph
        adj: dict = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for start in adj:
            seen, todo = {start}, [start]
            while todo:
                cur = todo.pop()
                for nxt in adj[cur]:
                    if nxt not in seen:
                        seen.add(nxt)
                        todo.append(nxt)
            want[start] = min(seen)
        assert got == want

    check()


def test_winnow_guarantee_property(spark):
    """Property: ANY two docs sharing a token run of length >= k+w-1
    share at least one winnowing fingerprint (the MOSS guarantee),
    regardless of surrounding text."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for trial in range(10):
        shared = " ".join(rng.choices(vocab, k=8))  # k+w-1 = 8
        pre_a = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
        post_a = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
        pre_b = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
        post_b = " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
        rows.append((trial * 2, f"{pre_a} {shared} {post_a}".strip()))
        rows.append((trial * 2 + 1, f"{pre_b} {shared} {post_b}".strip()))
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(d, k=4, w=5).collect()
    by_doc: dict = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for trial in range(10):
        a, b = by_doc.get(trial * 2, set()), by_doc.get(trial * 2 + 1, set())
        assert a & b, f"trial {trial}: no shared fingerprint"


def test_text_ops_survive_degenerate_docs(spark):
    """Empty / whitespace / NULL / single-token docs must not kill
    tasks (ANSI mode turns x/0 into an executor error): ratios degrade
    to NULL, fingerprints to empty sets."""
    from resume_jd_matcher_spark.operators import dedup, textstats

    d = spark.createDataFrame(
        [
            (0, "normal text with several tokens here"),
            (1, ""),
            (2, "   "),
            (3, None),
            (4, "one"),
        ],
        "doc_id: bigint, text: string",
    )
    tq = {r["doc_id"]: r for r in textstats.text_quality(d).collect()}
    assert tq[0]["punct_ratio"] is not None
    assert tq[1]["punct_ratio"] is None  # 0 chars -> NULL, not crash
    assert winnow_fingerprints(d).count() == 0  # no doc has >= 8 tokens
    assert textstats.token_counts(d).count() == 5
    assert dedup.simhash(d).count() >= 4  # null text contributes nothing


@pytest.mark.slow
def test_dedup_pipeline_at_scale_smoke(spark, synth_docs, spark_route):
    """Scale smoke: 20k generated docs (40x the sf0.01 fixture)
    through MinHash-LSH candidates -> DISTRIBUTED connected
    components (local route disabled). Verifies the planted near-dup
    pairs are recovered and clusters stay transitive at a size where
    driver-side shortcuts are off."""
    from resume_jd_matcher_spark.operators import dedup

    spark_route()
    docs = synth_docs(20000, seed=11)
    edges = dedup.minhash_lsh_candidates(docs, n_hashes=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.9
    )
    comp = connected_components(edges, max_iter=20)
    labels = {r["node"]: r["cluster_rep"] for r in comp.collect()}
    dedup.release_persisted()
    # planted structure: (id-1, id) for id % 10 == 9 must co-cluster
    planted_hits = sum(
        1
        for node, rep in labels.items()
        if node % 10 == 9 and labels.get(node - 1) == rep
    )
    assert planted_hits > 1000  # ~2000 planted; LSH @ 0.9 recovers most
    # transitivity: every member points at a rep that is its own rep
    assert all(labels[rep] == rep for rep in set(labels.values()))


def test_chunk_sliding_total_coverage(spark):
    """Property: sliding chunker covers every token (stride < width ->
    no token falls between chunks) and consecutive chunks overlap by
    width - stride tokens."""
    from resume_jd_matcher_spark.queries.sampling_q import q_chunk_sliding  # noqa: F401

    text = " ".join(f"t{i}" for i in range(400))
    d = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(96))
    chunks = (
        d.select("doc_id", F.explode(starts).alias("i"), toks.alias("toks"))
        .select("i", F.slice("toks", F.col("i"), 128).alias("chunk"))
        .collect()
    )
    seen = set()
    for r in chunks:
        seen.update(r["chunk"])
    assert seen == {f"t{i}" for i in range(400)}
    ordered = sorted(chunks, key=lambda r: r["i"])
    for a, b in zip(ordered, ordered[1:]):
        overlap = set(a["chunk"]) & set(b["chunk"])
        if len(a["chunk"]) == 128:
            assert len(overlap) == 32  # width - stride


@pytest.mark.slow
def test_winnow_neardup_at_scale_smoke(spark, synth_docs):
    """Winnowing at 40x fixture scale: 20k generated docs through
    fingerprinting + the posting-list self-join; the planted near-dup
    pairs (id, id+1 with id % 10 == 9) must surface as candidates."""
    docs = synth_docs(20000, seed=23)
    fps = winnow_fingerprints(docs, k=4, w=5)
    a = fps.select(F.col("doc_id").alias("left_id"), "fp")
    b = fps.select(F.col("doc_id").alias("right_id"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    planted_hits = sum(1 for l, r in got if r - l == 1 and r % 10 == 9)
    assert planted_hits > 1200  # ~2000 planted; drop-out noise loses some


def test_connected_components_star_warns_on_iteration_cap(spark, spark_route):
    """The large-star/small-star loop's final hi->lo labeling is only
    valid at the star fixpoint — exiting via max_iter must warn
    instead of returning silently non-transitive labels."""
    import warnings

    spark_route()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["left_id", "right_id"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=1).collect()
    assert any("star fixpoint" in str(x.message) for x in w)

    # and with enough rounds the same graph converges warning-free
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        labels = connected_components(chain, max_iter=30).collect()
    assert not any("star fixpoint" in str(x.message) for x in w2)
    assert {r["cluster_rep"] for r in labels} == {0}


def test_pagerank_star_hub_and_isolated(spark):
    """On a star graph the hub outranks the leaves, leaves tie, and an
    isolated node settles at exactly (1-d)/N; two runs are
    bit-identical (fixed iterations + per-iteration rounding)."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.cluster import pagerank

    pairs = [(1, 2), (1, 3), (1, 4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pr = {r["doc_id"]: r["pr"] for r in pagerank(edges, nodes, n_iter=3).collect()}
    assert pr[1] > pr[2] == pr[3] == pr[4] > pr[5]
    assert pr[5] == round((1 - 0.85) / 5, 8)
    again = {
        r["doc_id"]: r["pr"] for r in pagerank(edges, nodes, n_iter=3).collect()
    }
    assert pr == again


class TestTriangleStats:
    def test_known_graph(self, spark):
        from resume_jd_matcher_spark.operators.cluster import triangle_stats

        # K3 (1,2,3) + pendant edge (3,4) + disjoint edge (5,6)
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6)],
            "left_id long, right_id long",
        )
        [r] = triangle_stats(pairs).collect()
        assert r["n_nodes"] == 6 and r["n_edges"] == 5
        # wedges: deg = {1:2, 2:2, 3:3, 4:1, 5:1, 6:1} -> 1+1+3 = 5
        assert r["n_wedges"] == 5
        assert r["n_triangles"] == 1
        assert r["clustering"] == pytest.approx(3.0 / 5.0, abs=1e-6)

    def test_triangle_free_graph(self, spark):
        from resume_jd_matcher_spark.operators.cluster import triangle_stats

        # star: no triangles, clustering 0
        pairs = spark.createDataFrame(
            [(1, i) for i in range(2, 7)], "left_id long, right_id long"
        )
        [r] = triangle_stats(pairs).collect()
        assert r["n_triangles"] == 0 and r["clustering"] == 0.0

    def test_complete_graph_clustering_one(self, spark):
        from itertools import combinations

        from resume_jd_matcher_spark.operators.cluster import triangle_stats

        pairs = spark.createDataFrame(
            list(combinations(range(5), 2)), "left_id long, right_id long"
        )
        [r] = triangle_stats(pairs).collect()
        assert r["n_triangles"] == 10  # C(5,3)
        assert r["clustering"] == pytest.approx(1.0, abs=1e-6)


class TestStarCC:
    def _labels(self, df):
        return {r["node"]: r["cluster_rep"] for r in df.collect()}

    def test_long_chain_converges_fast(self, spark, spark_route):
        """A 200-node path graph (diameter 199, which a per-round
        label-propagation loop needs 199 rounds for): large-star/
        small-star must resolve it to one component labeled by the
        minimum within its 30-round cap."""
        spark_route()
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "left_id long, right_id long"
        )
        got = self._labels(connected_components(edges))
        assert set(got.values()) == {0}
        assert len(got) == 201

    def test_matches_union_find_on_random_graph(self, spark, spark_route):
        """Star labels == driver union-find labels on a multi-component
        random graph (both use min-id representatives)."""
        import random

        rng = random.Random(13)
        edges = []
        for comp in range(5):
            nodes = list(range(comp * 100, comp * 100 + rng.randint(3, 40)))
            for _ in range(len(nodes) * 2):
                edges.append((rng.choice(nodes), rng.choice(nodes)))
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "left_id long, right_id long")
        uf = self._labels(connected_components(df))
        spark_route()
        star = self._labels(connected_components(df))
        assert star == uf
