"""Dedup operators on crafted duplicates/near-duplicates."""

from __future__ import annotations

import pytest

from resume_jd_matcher_spark.operators import dedup


_BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
_NEAR = _BASE.replace("today", "tomorrow")
_FAR = "completely different content about spark sql engines and parquet files"


@pytest.fixture(scope="module")
def crafted(spark):
    rows = [
        (1, _BASE),
        (2, _BASE),                     # exact dup of 1
        (3, "  THE  quick brown fox jumps over the lazy dog near the river bank today "),  # normalized dup
        (4, _NEAR),                     # near-dup of 1
        (5, _FAR),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(crafted):
    out = {r.rep_doc_id: r.n_dups for r in dedup.dedup_exact(crafted).collect()}
    assert out[1] == 3  # 1, 2, and whitespace/case-normalized 3
    assert out[4] == 1
    assert out[5] == 1


def test_minhash_estimates_near_dup_high(crafted):
    got = {
        (r.left_id, r.right_id): r.est_jaccard
        for r in dedup.minhash_lsh_candidates(crafted, n_hashes=16, rows_per_band=4).collect()
    }
    assert got[(1, 2)] == 1.0
    # near-dup pair should be surfaced as a candidate with high estimate
    assert (1, 4) in got and got[(1, 4)] >= 0.5
    assert (1, 5) not in got


# Crafted inputs for the two MinHash-LSH routes: (doc_id, text) rows.
ROUTE_CASES = {
    "null_text": [(1, _BASE), (2, None), (3, _BASE), (4, _NEAR)],
    "empty_and_whitespace": [(1, ""), (2, "   "), (3, "\t\n"), (4, _BASE), (5, _NEAR)],
    # the Spark route pools a repeated id's tokens in its groupBy
    "repeated_doc_id": [(1, _BASE), (1, _FAR), (2, _BASE), (3, _FAR), (4, _BASE + " " + _FAR)],
    "null_doc_id": [(None, _BASE), (1, _BASE), (2, _NEAR), (None, _FAR)],
    "one_document": [(1, _BASE)],
    "no_candidate_pairs": [(1, _BASE), (2, _FAR), (3, "entirely unrelated words live here")],
    "non_ascii": [
        (1, "Größe straße café naïve 日本語 テキスト ü ß"),
        (2, "GRÖSSE Straße CAFÉ naïve 日本語 テキスト ü ß"),
        (3, "Größe straße café naïve 日本語 テキスト"),
        (4, _BASE),
    ],
}


@pytest.mark.parametrize("case", sorted(ROUTE_CASES))
@pytest.mark.parametrize("n_hashes,rows_per_band", [(16, 4), (7, 3)])
def test_minhash_driver_route_equals_spark_route(spark, monkeypatch, case, n_hashes, rows_per_band):
    """Both routes give identical rows, est_jaccard included, and the
    same schema: below the size limit the driver route runs and answers
    with a local relation; a limit of 0 forces the Spark route."""
    df = spark.createDataFrame(ROUTE_CASES[case], "doc_id bigint, text string")
    kw = dict(n_hashes=n_hashes, rows_per_band=rows_per_band)
    local = dedup.minhash_lsh_candidates(df, **kw)
    assert local._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    monkeypatch.setattr(dedup, "LOCAL_MINHASH_DOCS", 0)
    distributed = dedup.minhash_lsh_candidates(df, **kw)
    try:
        driver = sorted(tuple(r) for r in local.collect())
        assert driver == sorted(tuple(r) for r in distributed.collect())
        assert local.schema == distributed.schema
    finally:
        dedup.release_persisted()
    if case in ("one_document", "no_candidate_pairs"):
        assert driver == []
    if case == "repeated_doc_id":
        assert (1, 4, 1.0) in driver  # id 1 pools both its texts: doc 4


def test_hash32_driver_twin_equals_spark(spark):
    """The driver's hash32 and seeded hash family equal Spark's on
    every distinct token of the route cases, non-ASCII ones included."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.functions.text import (
        hash32,
        hash32_values,
        seeded_hash32,
        seeded_hash32_values,
        tokens,
    )

    rows = [r for case in ROUTE_CASES.values() for r in case]
    toks = (
        spark.createDataFrame(rows, "doc_id bigint, text string")
        .select(F.explode(tokens("text")).alias("tok"))
        .distinct()
        .select(
            "tok",
            hash32(F.col("tok")).alias("h"),
            F.array(*[seeded_hash32(F.col("tok"), s) for s in range(16)]).alias("hs"),
        )
        .collect()
    )
    assert any(not r.tok.isascii() for r in toks) and any(r.tok == "" for r in toks)
    words = [r.tok for r in toks]
    assert hash32_values(words).tolist() == [r.h for r in toks]
    assert seeded_hash32_values(words, 16).tolist() == [list(r.hs) for r in toks]


def test_minhash_then_clusters_run_at_most_one_job(spark, count_jobs):
    """Over a persisted, materialized batch, MinHash-LSH candidates
    plus their clusters run at most one Spark job: the token fetch."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.cluster import dedup_clusters

    def text(i):  # documents share no word but "resume"
        return "resume " + " ".join(f"w{i * 31 + j}" for j in range(20))

    docs = [(i, text(i)) for i in range(300)]
    docs += [(1000 + i, text(i) + " edited") for i in range(0, 300, 10)]
    batch = spark.createDataFrame(docs, "doc_id bigint, text string").persist()
    batch.count()
    try:

        def resolve():
            kept = dedup.minhash_lsh_candidates(batch).filter(F.col("est_jaccard") >= 0.5)
            return dedup_clusters(kept).collect()

        resolve()  # warm
        rows, jobs = count_jobs(resolve)
        assert jobs <= 1
        assert sorted((r.doc_id, r.cluster_rep, r.cluster_size) for r in rows) == sorted(
            (d, i, 2) for i in range(0, 300, 10) for d in (i, 1000 + i)
        )
    finally:
        batch.unpersist()


def test_simhash_identical_docs_equal(crafted):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(crafted).collect()}
    assert sh[1] == sh[2]
    assert sh[1] != sh[5]


def test_simhash_neardup_pairs(crafted):
    pairs = {
        (r.left_id, r.right_id): r.hamming
        for r in dedup.simhash_neardup(crafted, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) in pairs  # near-dup within small hamming distance


def test_ngram_jaccard_ground_truth(crafted):
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in dedup.ngram_jaccard_join(crafted, n=3).collect()
    }
    assert got[(1, 2)] == 1.0
    assert 0.5 < got[(1, 4)] < 1.0
    assert (1, 5) not in got or got[(1, 5)] < 0.1


def test_simhash_neardup_banded_equals_allpairs(spark):
    """The banded equi-join must produce EXACTLY the all-pairs answer
    (pigeonhole: hamming <= r pairs match in >= 1 of r+1 bands) — and
    its physical plan must contain no cross join."""
    from pyspark.sql import functions as F

    from conftest import physical_plan
    from resume_jd_matcher_spark.sources.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    banded = dedup.simhash_neardup(d, max_hamming=3, n_bits=16)

    plan = physical_plan(banded)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # all-pairs spec, computed inline
    sh = dedup.simhash(d, n_bits=16)
    a = sh.select(F.col("doc_id").alias("left_id"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("right_id"), F.col("simhash").alias("sh_b"))
    spec = (
        a.crossJoin(b)
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("left_id", "right_id", "hamming")
    )
    got = {(r.left_id, r.right_id, r.hamming) for r in banded.collect()}
    want = {(r.left_id, r.right_id, r.hamming) for r in spec.collect()}
    assert got == want and len(want) > 0


def test_ngram_jaccard_pruned_no_crossjoin(spark):
    """Shared-shingle candidate pruning: no cross join in the plan."""
    from conftest import physical_plan
    from resume_jd_matcher_spark.sources.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = physical_plan(dedup.ngram_jaccard_join(d, n=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_df_cap_shrinks_candidates_keeps_recall(spark):
    """A df-capped shingle universe must kill the freq² candidate
    blow-up from boilerplate shingles without losing real near-dups.
    40 docs share one boilerplate sentence (df=40 shingles → 780
    all-pairs candidates); one genuine near-dup pair shares only rare
    shingles (df=2)."""
    boiler = "standard corporate disclaimer applies to every document in this corpus"
    rows = [
        (i, f"{boiler} unique{i} filler{i} content{i} words{i} tail{i}")
        for i in range(40)
    ]
    near = "wildly specific shared passage about spark shuffle partition tuning"
    rows += [(100, near + " alpha"), (101, near + " beta")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = dedup.ngram_jaccard_join(d, n=3).count()
    capped_rows = dedup.ngram_jaccard_join(d, n=3, max_df=10).collect()
    capped = {(r.left_id, r.right_id): r.jaccard for r in capped_rows}

    # boilerplate-only pairs are gone: candidate volume collapses
    assert uncapped >= 780  # every boilerplate pair shares >= 1 shingle
    assert len(capped) < uncapped / 10
    # ...but the genuine near-dup pair survives with its exact jaccard
    # (its shingles are all below the cap, so the value is unchanged)
    full = {
        (r.left_id, r.right_id): r.jaccard
        for r in dedup.ngram_jaccard_join(d, n=3).collect()
    }
    assert (100, 101) in capped
    assert capped[(100, 101)] == full[(100, 101)] >= 0.5


def test_ngram_jaccard_cap_inactive_equals_uncapped(crafted):
    """When no shingle exceeds the cap, capped == uncapped exactly
    (the registered query's regime at test scale factors)."""
    want = {
        (r.left_id, r.right_id): r.jaccard
        for r in dedup.ngram_jaccard_join(crafted, n=3).collect()
    }
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in dedup.ngram_jaccard_join(crafted, n=3, max_df=50).collect()
    }
    assert got == want and len(want) > 0


def test_line_dedup_keeps_first_occurrence(spark):
    """C4 semantics: a chunk repeated across docs survives only at its
    first (doc_id, pos); unique text is untouched; a doc that is all
    repeats comes back empty but present."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-tok chunk
    rows = [
        (1, shared + " unique one two three four five six"),
        (2, shared),                         # chunk already seen in doc 1
        (3, "totally different words here live in this doc"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.line_dedup(docs, chunk_tokens=8).collect()}
    assert len(out) == 3
    assert out[1].n_chunks == 2 and out[1].n_kept == 2
    assert out[1].clean_text == shared + " unique one two three four five six"
    assert out[2].n_chunks == 1 and out[2].n_kept == 0 and out[2].clean_text == ""
    assert out[3].n_kept == 1 and out[3].clean_text.startswith("totally")


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc pasted inside a much longer one: containment ~1.0
    (every shingle of the short doc is in the long one) while Jaccard
    stays small (union dominated by the long doc)."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, short), (2, filler + " " + short + " " + filler.upper())]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    cont = dedup.ngram_containment_join(df, n=3, min_containment=0.9).collect()
    assert len(cont) == 1
    assert cont[0]["containment"] == 1.0

    jac = dedup.ngram_jaccard_join(df, n=3, min_jaccard=0.0).collect()
    assert jac[0]["jaccard"] < 0.1  # symmetric measure misses it


def test_quality_aware_dedup_keeps_longest_member(spark, monkeypatch):
    """The keep flag lands on the longest cluster member, not the
    lowest id (the policy difference vs min-id reps)."""
    from resume_jd_matcher_spark.queries.text_q import q_quality_aware_dedup
    import resume_jd_matcher_spark.queries.text_q as tq

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),              # near-dup of 1 (same token set)
        (1, base + " " + base),  # same set, double length -> keeper
        (2, "unrelated text entirely about something else altogether"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    monkeypatch.setattr(tq, "load_table", lambda s, d, n: df)
    out = {r["doc_id"]: r for r in q_quality_aware_dedup(spark, "ignored").collect()}
    cluster = {d: r for d, r in out.items() if r["cluster_size"] > 1}
    assert set(cluster) == {0, 1}
    assert out[1]["keep"] == 1 and out[0]["keep"] == 0  # longest wins, not min id
