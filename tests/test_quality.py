"""Repetition-based quality filters (operators/quality.py)."""

from __future__ import annotations

from resume_jd_matcher_spark.operators.quality import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_planted_spam_dropped(spark):
    """A doc that is one bigram repeated must trip the top-bigram
    rule; a doc of all-distinct tokens must pass both rules."""
    d = _docs(
        spark,
        [
            (1, "buy now " * 20),            # top bigram covers ~all tokens
            (2, " ".join(f"w{i}" for i in range(40))),  # zero repetition
        ],
    )
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    assert got[1]["keep"] == 0
    assert got[1]["top_bigram_frac"] > 0.5
    assert got[2]["keep"] == 1
    assert got[2]["top_bigram_frac"] < 0.1
    assert got[2]["dup_trigram_frac"] == 0.0


def test_repetition_dup_trigram_rule(spark):
    """Duplicated-trigram coverage fires even when no single bigram
    dominates: two different trigrams, each repeated, in a long
    unique-token tail."""
    tail = " ".join(f"u{i}" for i in range(60))
    d = _docs(spark, [(1, "a b c " * 3 + "x y z " * 3 + tail)])
    row = repetition_stats(d).collect()[0]
    # 18 of 78 tokens sit in repeated bigrams -> under the 0.20 top-
    # bigram cap; but trigram duplicates cover well over 0.18.
    assert row["dup_trigram_frac"] > 0.18
    assert row["keep"] == 0


def test_repetition_empty_and_short_docs(spark):
    """Empty text -> NULL ratios (never a div-by-zero task kill);
    a one-token doc has no bigrams and keeps cleanly."""
    d = _docs(spark, [(1, ""), (2, "hello")])
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    # "" trims/splits to [''] in both engines -> 1 token, no bigrams.
    assert got[1]["top_bigram_cnt"] == 0
    assert got[1]["dup_trigram_frac"] == 0.0
    assert got[2]["keep"] == 1
    assert got[2]["top_bigram_frac"] == 0.0


def test_ngram_lm_score_rare_text_scores_lower(spark):
    """The corpus-trained bigram LM assigns higher mean log-prob (lower
    perplexity) to documents made of corpus-frequent bigrams than to a
    document of corpus-unique bigrams."""
    from resume_jd_matcher_spark.operators.textstats import ngram_lm_score

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(9)]
    rows.append((9, "zygote quasar bellows kumquat phantom"))
    rows.append((10, "single"))  # < 2 tokens: no bigrams, no output row
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ngram_lm_score(docs).collect()}
    assert 10 not in out and len(out) == 10
    assert out[0].n_bigrams == 5 and out[9].n_bigrams == 4
    # every common doc scores identically; the rare doc scores lower
    assert len({out[i].avg_logprob for i in range(9)}) == 1
    assert out[9].avg_logprob < out[0].avg_logprob
    assert out[9].ppl > out[0].ppl
    # perplexity is exp(-avg_logprob) of the rounded value
    import math

    assert out[0].ppl == round(math.exp(-out[0].avg_logprob), 2)


def test_token_entropy_flags_repetitive_text(spark):
    import math

    from resume_jd_matcher_spark.operators.textstats import token_entropy

    rows = [
        (1, "spam spam spam spam spam spam"),          # 1 distinct -> H=0
        (2, "one two three four five six"),            # uniform -> H=ln 6
        (3, "a a a a b"),                              # skewed
    ]
    out = {r.doc_id: r for r in token_entropy(spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].entropy == 0.0 and out[1].norm_entropy == 0.0
    assert out[2].entropy == round(math.log(6) + 1e-9, 4)
    assert out[2].norm_entropy == 1.0
    assert 0.0 < out[3].norm_entropy < 1.0
    assert out[3].n_tokens == 5 and out[3].n_distinct == 2
