"""Mixture resampling, seeded shuffle, and length-bucket operators
(operators/sampling.py — training-data prep [EXT])."""

from __future__ import annotations

from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.sampling import (
    length_buckets,
    mixture_sample,
    seeded_shuffle,
)

SF = "/root/testdata/sf0.001"


def test_mixture_sample_hits_targets_and_is_stable(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
        "doc_id long, domain string",
    )
    got = mixture_sample(df, weights={"a": 0.6, "b": 0.2}, total=50)
    by_dom = {
        r["domain"]: r["n"]
        for r in got.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert by_dom == {"a": 30, "b": 10}  # floor(total * w) exactly
    # deterministic: same rows both runs
    again = mixture_sample(df, weights={"a": 0.6, "b": 0.2}, total=50)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_mixture_sample_underfull_group_contributes_everything(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 95 else "tiny") for i in range(100)],
        "doc_id long, domain string",
    )
    got = mixture_sample(df, weights={"big": 0.1, "tiny": 0.9}, total=100)
    by_dom = {
        r["domain"]: r["n"]
        for r in got.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert by_dom == {"big": 10, "tiny": 5}  # tiny has only 5 rows


def test_seeded_shuffle_positions_are_a_permutation(spark):
    from resume_jd_matcher_spark.sources.io import load_table

    d = load_table(spark, SF, "documents")
    n = d.count()
    got = seeded_shuffle(d, seed="s42")
    rows = got.collect()
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    # distributed bucket-offset rank == naive global sort order
    naive = [
        r["doc_id"]
        for r in got.sparkSession.createDataFrame(
            [(r["pos"], r["doc_id"]) for r in rows], "pos long, doc_id long"
        )
        .orderBy("pos")
        .collect()
    ]
    from resume_jd_matcher_spark.functions.text import hash32

    want = [
        r["doc_id"]
        for r in d.select(
            "doc_id",
            hash32(F.concat(F.lit("s42:"), F.col("doc_id").cast("string"))).alias(
                "_k"
            ),
        )
        .orderBy("_k", "doc_id")
        .collect()
    ]
    assert naive == want


def test_seeded_shuffle_seed_changes_order(spark):
    from resume_jd_matcher_spark.sources.io import load_table

    d = load_table(spark, SF, "documents")
    a = [r["doc_id"] for r in seeded_shuffle(d, "s1").orderBy("pos").collect()]
    b = [r["doc_id"] for r in seeded_shuffle(d, "s2").orderBy("pos").collect()]
    assert a != b
    assert sorted(a) == sorted(b)


def test_length_buckets_waste_accounting(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c"),                          # 3 tokens  -> pad 16
            (2, " ".join(["t"] * 16)),             # 16 tokens -> pad 16
            (3, " ".join(["t"] * 40)),             # 40 tokens -> pad 64
            (4, " ".join(["t"] * 5000)),           # overflow  -> -1
        ],
        "doc_id long, text string",
    )
    got = {r["pad_to"]: r for r in length_buckets(df).collect()}
    assert got[16]["n_docs"] == 2
    assert got[16]["padded_tokens"] == 32
    # 13/32 = 0.40625 -> 0.4063 (Spark rounds HALF_UP, unlike Python)
    assert got[16]["waste_frac"] == 0.4063
    assert got[64]["padded_tokens"] == 64
    assert got[-1]["padded_tokens"] == got[-1]["total_tokens"] == 5000
    assert got[-1]["waste_frac"] == 0.0


def test_cms_overestimates_never_under_and_merges(spark):
    """CMS guarantees est >= exact for every token; and the sketch of
    a union equals the cell-wise sum of the parts' sketches (the
    mergeability that makes it a distributed/streaming aggregate)."""
    from resume_jd_matcher_spark.operators.textstats import (
        cms_estimate,
        cms_sketch,
    )
    from resume_jd_matcher_spark.sources.io import load_table

    docs = load_table(spark, SF, "documents")
    sketch = cms_sketch(docs, d=4, w=64)
    exact = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    est = cms_estimate(sketch, exact.select("token"), d=4, w=64)
    joined = est.join(exact, "token")
    assert joined.filter(F.col("est_count") < F.col("cnt")).count() == 0

    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    merged = (
        cms_sketch(half1, d=4, w=64)
        .unionByName(cms_sketch(half2, d=4, w=64))
        .groupBy("seed", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_sketch(docs, d=4, w=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_bloom_no_false_negatives_and_bounded_fps(spark):
    """Every member passes the bloom (no false negatives — the
    guarantee); non-members pass only rarely (4096 bits / 3 hashes /
    200 members -> FP rate well under 5%); and the filter composes as
    a broadcast semi-join."""
    from resume_jd_matcher_spark.operators.textstats import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(200)], "v string"
    )
    others = spark.createDataFrame(
        [(f"x{i}",) for i in range(1000)], "v string"
    )
    bloom = bloom_build(members, "v", m_bits=4096, k_hashes=3)
    assert bloom_probe(members, "v", bloom).count() == 200  # all members
    fps = bloom_probe(others, "v", bloom).count()
    assert fps / 1000 < 0.05


def test_mixture_token_budget_respects_budgets(spark):
    """Each domain's admitted token total never exceeds
    floor(total*w), the crossing doc is excluded, and the admitted
    set is a prefix of the hash order (deterministic greedy)."""
    from resume_jd_matcher_spark.operators.sampling import (
        mixture_token_budget,
    )

    rows = [
        (i, "a" if i % 2 == 0 else "b", " ".join(["t"] * (10 + i % 7)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, text string")
    got = mixture_token_budget(
        df, weights={"a": 0.6, "b": 0.4}, total_tokens=500
    )
    by_dom = {
        r["domain"]: r["s"]
        for r in got.groupBy("domain").agg(F.sum("n_tokens").alias("s")).collect()
    }
    assert by_dom["a"] <= 300 and by_dom["b"] <= 200
    # budgets are actually approached (not trivially empty)
    assert by_dom["a"] > 300 - 17 and by_dom["b"] > 200 - 17
    again = mixture_token_budget(
        df, weights={"a": 0.6, "b": 0.4}, total_tokens=500
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_dsir_weights_prefer_target_like_text(spark):
    """DSIR: a doc phrased like the target domain outweighs an
    off-domain doc, even when the scored doc is NOT in the target set
    itself (the whole point of importance resampling)."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.sampling import dsir_weights

    target_phrase = "the quick brown fox jumps over the lazy dog"
    off_phrase = "der schnelle braune fuchs springt ueber den faulen hund"
    rows = (
        [(i, target_phrase, "en") for i in range(5)]
        + [(i + 10, off_phrase, "de") for i in range(5)]
        + [(100, target_phrase, "xx"), (101, off_phrase, "xx")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r.doc_id: r.dsir_logweight
        for r in dsir_weights(docs, F.col("lang") == "en").collect()
    }
    assert len(out) == 12
    # doc 100 mimics the target: weighted like the en docs, above 101
    assert out[100] == out[0] and out[101] == out[10]
    assert out[100] > out[101]
    assert out[0] > out[10]


def test_weighted_sample_pps_property(spark):
    """E-S sampling: (a) deterministic across runs; (b) inclusion
    frequency tracks weight — a doc with 50x the weight of its peers
    is essentially always selected into a half-size sample."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0 if i else 50.0) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "w"])
    got1 = weighted_sample(docs, F.col("w"), n=20).collect()
    got2 = weighted_sample(docs, F.col("w"), n=20).collect()
    assert [r.doc_id for r in got1] == [r.doc_id for r in got2]  # deterministic
    assert len(got1) == 20
    assert 0 in {r.doc_id for r in got1}  # the heavy doc is in
    assert [r.rank for r in got1] == list(range(1, 21))
    # zero/NULL weights excluded
    docs2 = spark.createDataFrame([(1, 0.0), (2, None), (3, 2.0)], ["doc_id", "w"])
    kept = weighted_sample(docs2, F.col("w"), n=5).collect()
    assert {r.doc_id for r in kept} == {3}


def test_temperature_mixture_flattens_toward_uniform(spark):
    """α=0.5 must up-sample the small domain relative to natural
    proportions: with 900 vs 100 rows, natural share is 10% but
    √-scaling gives 100·√100/(√900+√100) = 25% of the admitted set;
    α=1 reproduces natural proportions."""
    from resume_jd_matcher_spark.operators.sampling import temperature_mixture

    rows = [(i, "big") for i in range(900)] + [
        (900 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = temperature_mixture(df, alpha=0.5, total=200, group_col="source")
    by = {r["source"]: r["n"] for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert by["small"] == 50  # 200 · (10/40)
    assert by["big"] == 150

    nat = temperature_mixture(df, alpha=1.0, total=200, group_col="source")
    byn = {r["source"]: r["n"] for r in nat.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert byn["small"] == 20 and byn["big"] == 180


class TestSequencePacking:
    def test_hand_computed_packing(self, spark, monkeypatch):
        """Three docs of 300/300/200 tokens into L=512 bins:
        concatenated total 800 -> 2 bins; doc 2 (tokens 301-600)
        crosses the 512 boundary -> 1 crossing, 4 fragments; last bin
        pads 1024-800 = 224 tokens (pad_pct = 224/1024 = 21.875%)."""
        from resume_jd_matcher_spark.queries import sampling_q

        rows = [
            (1, " ".join(["w"] * 300), "en", "s", 300),
            (2, " ".join(["w"] * 300), "en", "s", 300),
            (3, " ".join(["w"] * 200), "en", "s", 200),
        ]
        d = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        monkeypatch.setattr(sampling_q, "load_table", lambda *a: d)
        [r] = sampling_q.q_sequence_packing(spark, SF).collect()
        assert r["n_docs"] == 3
        assert r["total_tokens"] == 800
        assert r["n_bins"] == 2
        assert r["n_crossing"] == 1
        assert r["n_fragments"] == 4
        assert r["frags_per_bin_e6"] == 2_000_000
        assert r["pad_tokens"] == 224
        assert r["pad_pct_e6"] == 218_750

    def test_exact_fit_no_padding(self, spark, monkeypatch):
        from resume_jd_matcher_spark.queries import sampling_q

        rows = [(i, " ".join(["w"] * 512), "en", "s", 512) for i in (1, 2)]
        d = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        monkeypatch.setattr(sampling_q, "load_table", lambda *a: d)
        [r] = sampling_q.q_sequence_packing(spark, SF).collect()
        assert r["n_bins"] == 2
        assert r["n_crossing"] == 0
        assert r["pad_tokens"] == 0
        assert r["pad_pct_e6"] == 0
