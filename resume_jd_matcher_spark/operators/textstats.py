"""Text-analysis operators (SURVEY.md §2.H U5; north-star text
analysis): token counting, quality scoring, language-ID heuristic,
term frequency, document fingerprinting. All native expressions —
no Python in any of these plans.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.functions.text import tokens
from resume_jd_matcher_spark.sources.io import DRIVER_LIMITS, driver_fetch, driver_frame

# Tiny per-language stopword lists for the n-gram/keyword heuristic.
# Ordered dict — evaluation order is the deterministic tie-break.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "los", "que", "y"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS = ("a", "the", "and", "of", "to", "in", "is")

# BPE-ish pre-tokenizer: letter runs / digit runs / single non-space
# symbols — the shape GPT-style tokenizers use before merges.
BPE_PATTERN = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]"


def _count_in(tok_col, words: tuple[str, ...]):
    return F.size(F.filter(tok_col, lambda t: t.isin(*words)))


def text_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Quality-scoring features per document: token/char counts, mean
    token length, stopword ratio, punctuation & digit density, plus a
    blended 0-1 quality score (weights arbitrary but fixed)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    # nullif guards: empty/whitespace docs have zero chars — ANSI mode
    # makes x/0 a task-killing error, and a 100 TB corpus WILL contain
    # empty documents. Ratios degrade to NULL instead (oracle mirrors).
    n_chars = F.length(F.col(text_col))
    safe_chars = F.nullif(n_chars.cast("double"), F.lit(0.0))
    safe_tokens = F.nullif(n_tokens.cast("double"), F.lit(0.0))
    avg_tok = n_chars.cast("double") / safe_tokens
    stop_ratio = _count_in(toks, STOPWORDS).cast("double") / safe_tokens
    punct_ratio = (
        F.regexp_count(F.col(text_col), F.lit(r"[,.!?;:]")).cast("double")
        / safe_chars
    )
    digit_ratio = (
        F.regexp_count(F.col(text_col), F.lit(r"[0-9]")).cast("double")
        / safe_chars
    )
    quality = (
        F.lit(0.5) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(stop_ratio * 2.0, F.lit(1.0)))
        + F.lit(0.2) * (F.lit(1.0) - F.least(digit_ratio * 10.0, F.lit(1.0)))
    )
    # +1e-9 before rounding: the blended ratios can land EXACTLY on a
    # 4th-decimal .5 boundary (small-rational coincidences), where
    # Spark's BigDecimal rounding and DuckDB's scale-multiply rounding
    # disagree on which side the double sits. The nudge (mirrored in
    # the oracle SQL) moves the boundary to a value the formula can't
    # produce.
    eps = F.lit(1e-9)
    return df.select(
        F.col(id_col),
        n_tokens.cast("int").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars_actual"),
        F.round(avg_tok + eps, 4).alias("avg_token_len"),
        F.round(stop_ratio + eps, 4).alias("stopword_ratio"),
        F.round(punct_ratio + eps, 4).alias("punct_ratio"),
        F.round(digit_ratio + eps, 4).alias("digit_ratio"),
        F.round(quality + eps, 4).alias("quality"),
    )


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Keyword-marker language ID: count marker-word occurrences per
    language, predict the max (ties → first language in fixed de<en<
    es<fr<zh order). Output includes the labeled lang for accuracy
    inspection. (On the synthetic corpus the text carries no real
    language signal — the operator contract, not the accuracy, is
    what's verified.)"""
    toks = tokens(text_col)
    scores = {lang: _count_in(toks, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    predicted = F.lit(None).cast("string")
    # reversed so the first lang in order wins ties via last-applied when()
    for lang in reversed(LANG_MARKERS):
        predicted = F.when(scores[lang] == best, F.lit(lang)).otherwise(predicted)
    return df.select(
        F.col(id_col),
        predicted.alias("predicted_lang"),
        F.col(lang_col).alias("labeled_lang"),
        (predicted == F.col(lang_col)).cast("int").alias("is_match"),
    )


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("int").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("int").alias(
            "n_bpe_tokens"
        ),
        F.length(text_col).cast("bigint").alias("n_chars_actual"),
    )


def term_frequency(
    df: DataFrame, top_n: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide term frequency, top-N by (count desc, token asc).

    Deterministic cutoff via rank; the explode→groupBy is map-side
    combined, so the shuffle carries one row per distinct token per
    partition.

    Scale shape: the top-N cut is ``orderBy(...).limit(top_n)`` —
    physically TakeOrderedAndProject, a per-partition heap + driver
    merge of top_n rows — NEVER a window over the full distinct-token
    table (at 100 TB the corpus vocabulary is 1e8+ rows; a global
    unpartitioned Window would sort it all on one executor). The rank
    column is then assigned by a window over the already-bounded
    ``top_n`` rows only.
    """
    tf = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(top_n)
    )
    # Rank WITHOUT a window: fold the <= top_n survivors into one
    # sorted array and posexplode — rank = position + 1. Sort key
    # (-cnt, token) gives (cnt desc, token asc) under array_sort's
    # ascending struct order.
    ranked = (
        tf.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("cnt")).alias("_neg"), "token", "cnt"))
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
    )
    return ranked.select(
        F.col("s.token").alias("token"),
        F.col("s.cnt").alias("cnt"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


def ngram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """CCNet-style corpus-LM quality score (U5 [EXT]): train a bigram
    language model with absolute discounting (Ney/Kneser-style
    interpolation) on the corpus itself, then score every document by
    its mean token log-probability and perplexity:

        p(w2|w1) = (c(w1 w2) − d)/c(w1)
                 + (d · n1plus(w1)/c(w1)) · c(w2)/N

    where ``n1plus(w1)`` is the number of distinct continuations of
    w1. The discount is what makes this a FILTER and not a mirror:
    a plain MLE interpolation scores a once-seen bigram over a
    once-seen history at p = 1·lam — singleton gibberish looks
    perfect; discounting caps that case at (1−d) + backoff-mass,
    so corpus-unique word salad scores low (= high ppl) while
    genuinely frequent phrasing scores high. Low avg_logprob flags
    the boilerplate/gibberish char-ratio heuristics miss — the
    quality-filter stage CCNet/Gopher pipelines run before training.

    Scale shape: the LM "tables" are three map-side-combined hash aggs
    (distinct-unigram / distinct-bigram / per-history continuation
    counts — vocab-sized, NOT corpus-sized); scoring streams each
    document's bigrams through hash-partitioned equi-joins on those
    tables — nothing is ever corpus × corpus, and every bigram being
    scored occurs in the table it trained (count ≥ 1 > d), so the
    joins are inner and p > 0 always. At 100 TB the bigram table is
    prunable by a min-count filter without changing the plan shape.

    Output: (id_col, n_bigrams, avg_logprob, ppl) for every document
    with ≥ 2 tokens; ppl is computed from the ROUNDED avg_logprob so
    the oracle twin reproduces it exactly.
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("toks"))
    big = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.zip_with(
                    F.expr("slice(toks, 1, size(toks) - 1)"),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select(F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n"))
    bi = big.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c2"))
    # per-history discounted mass: n1plus(w1) = distinct continuations,
    # derived from the bigram table (no extra corpus scan).
    cont = bi.groupBy("w1").agg(F.count("*").cast("double").alias("n1p"))
    d = F.lit(discount)
    p = (F.col("c2") - d) / F.col("c_w1") + (
        d * F.col("n1p") / F.col("c_w1")
    ) * (F.col("c_w2") / F.col("n"))
    scored = (
        big.join(bi, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_w1")), "w1")
        .join(cont, "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_w2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), F.log(p).alias("lp"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg("lp") + F.lit(1e-9), 4).alias("avg_logprob"),
        )
        .withColumn("ppl", F.round(F.exp(-F.col("avg_logprob")), 2))
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every k-gram of word tokens with the
    portable hash32, slide a window of ``w`` consecutive gram hashes
    over the document, keep the minimum of each window, and emit the
    DISTINCT selected hashes as the document's fingerprint set.

    Guarantees: any shared token run of length ≥ k + w - 1 between two
    documents contributes at least one common fingerprint — the
    position-robust containment/overlap detector a flat md5
    fingerprint of the whole text cannot provide.

    Long-form dataflow, no nested-lambda array ops: posexplode the
    tokens once, build each k-gram from ``lead()`` over the per-doc
    position order, then a bounded ``min() OVER`` for the window
    minimum. Exactly TWO Window nodes sharing one (doc, position)
    sort — gram-completeness and window-completeness come from
    lead() null-ness instead of a third count() window. Parallelism
    is per-document; the only shuffle is the final distinct.

    Output: (id, fp BIGINT) distinct — long form, ready for a
    fingerprint-equality self-join (candidate generation) or a
    groupBy(fp) posting list.
    """
    from resume_jd_matcher_spark.functions.text import hash32 as _h32
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    # Per-gram md5 is the CPU hot loop; a small single-file scan
    # arrives as ONE split — fan out before computing gram hashes.
    df = ensure_parallelism(df)

    tok_pos = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("i", "tok")
    )
    by_pos = Window.partitionBy(id_col).orderBy("i")
    gram_parts = [F.col("tok")] + [F.lead("tok", j).over(by_pos) for j in range(1, k)]
    grams = tok_pos.select(
        id_col,
        "i",
        F.concat_ws(" ", *gram_parts).alias("gram"),
        # a position starts a full k-gram iff the (k-1)-th lead exists;
        # it starts a full winnow window iff the last gram of that
        # window (w-1 grams later, spanning k-1 more tokens) exists.
        # Both ride the SAME window spec as the leads above — no extra
        # Window node, no count() pass.
        F.lead("tok", k - 1).over(by_pos).isNotNull().alias("is_gram"),
        F.lead("tok", w + k - 2).over(by_pos).isNotNull().alias("full_win"),
    ).filter(F.col("is_gram")).withColumn("h", _h32(F.col("gram")))
    win = (
        Window.partitionBy(id_col)
        .orderBy("i")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        grams.withColumn("fp", F.min("h").over(win))
        .filter(F.col("full_win"))
        .select(id_col, "fp")
        .distinct()
    )


def cms_sketch(
    df: DataFrame, d: int = 4, w: int = 128, text_col: str = "text"
) -> DataFrame:
    """Count-min sketch over token occurrences (Cormode & Muthukrishnan
    2005), long form: (seed, col, cnt) with d hash rows of width w.
    Deterministic hash family (seeded md5-hash32) so the DuckDB oracle
    replays every cell.

    This IS the mergeable-sketch distributed shape: the groupBy is
    map-side combined, so each partition builds its local d×w sketch
    and the shuffle moves at most d×w rows per partition — corpus size
    never crosses the wire. Sketches from different corpora/days merge
    by summing cells (union + re-agg)."""
    from resume_jd_matcher_spark.functions.text import seeded_hash32

    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    seeds = F.sequence(F.lit(0), F.lit(d - 1))
    return (
        toks.select("tok", F.explode(seeds).alias("seed"))
        .select(
            "seed",
            (seeded_hash32(F.col("tok"), F.col("seed")) % w).alias("col"),
        )
        .groupBy("seed", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    d: int = 4,
    w: int = 128,
    tok_col: str = "token",
) -> DataFrame:
    """Point-query the sketch: est = min over the d rows of the cell
    each seed maps the token to (an over-estimate by construction,
    never under). The sketch is ≤ d×w rows — broadcast; probing any
    number of tokens is a broadcast equi-join + min agg, no shuffle of
    the probe side beyond the final combine."""
    from resume_jd_matcher_spark.functions.text import seeded_hash32

    seeds = F.sequence(F.lit(0), F.lit(d - 1))
    pcells = probes.select(tok_col, F.explode(seeds).alias("seed")).select(
        tok_col,
        "seed",
        (seeded_hash32(F.col(tok_col), F.col("seed")) % w).alias("col"),
    )
    return (
        pcells.join(F.broadcast(sketch), ["seed", "col"])
        .groupBy(tok_col)
        .agg(F.min("cnt").alias("est_count"))
    )


def bloom_build(
    df: DataFrame, value_col: str, m_bits: int = 4096, k_hashes: int = 3
) -> DataFrame:
    """Bloom filter as a long-form sketch: the DISTINCT set bit
    positions (seeded_hash32(value, seed) % m_bits for k seeds) — ≤
    m_bits rows regardless of input size, mergeable by union-distinct,
    broadcastable by construction. Deterministic hash family → the
    whole bitset replays in SQL (HLL/CMS/KMV's membership sibling)."""
    from resume_jd_matcher_spark.functions.text import seeded_hash32

    seeds = F.sequence(F.lit(0), F.lit(k_hashes - 1))
    return (
        df.select(
            F.col(value_col).cast("string").alias("_v"),
            F.explode(seeds).alias("seed"),
        )
        .select(
            (seeded_hash32(F.col("_v"), F.col("seed")) % m_bits).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    df: DataFrame,
    value_col: str,
    bloom: DataFrame,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Rows of ``df`` whose value has ALL k positions set in the bloom
    (definite-or-false-positive membership; definite non-members never
    survive). The bloom broadcasts into an equi-join on the bit
    position — the shape that makes bloom-semi-join pruning a
    broadcast, never a shuffle of the probe side."""
    from resume_jd_matcher_spark.functions.text import seeded_hash32

    seeds = F.sequence(F.lit(0), F.lit(k_hashes - 1))
    probes = df.select(
        "*", F.explode(seeds).alias("seed")
    ).withColumn(
        "pos",
        seeded_hash32(F.col(value_col).cast("string"), F.col("seed")) % m_bits,
    )
    hits = (
        probes.join(F.broadcast(bloom), "pos")
        .groupBy(*df.columns)
        .agg(F.count("*").alias("_k_hit"))
        .filter(F.col("_k_hit") == k_hashes)
        .drop("_k_hit")
    )
    return hits


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-distribution Shannon entropy (U5 [EXT]) —
    the standard low-entropy spam screen ("aaaa…", keyword stuffing,
    template loops score near 0; diverse prose scores near ln(n)):

        H = −Σ_w p(w) ln p(w),  p(w) = count_in_doc(w) / n_tokens
        norm_H = H / ln(n_distinct)   (0 when n_distinct = 1)

    Scale shape: explode → per-(doc, token) hash agg → per-doc hash
    agg, both map-side combined; nothing cross-document. Output:
    (id_col, n_tokens, n_distinct, entropy, norm_entropy).
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").cast("double").alias("c"))
    )
    n = Window.partitionBy(id_col)
    p = F.col("c") / F.sum("c").over(n)
    per_doc = tf.select(
        F.col(id_col),
        F.sum("c").over(n).alias("_n"),
        (-p * F.log(p)).alias("_h"),
    )
    return (
        per_doc.groupBy(id_col, "_n")
        .agg(
            F.count("*").cast("int").alias("n_distinct"),
            F.sum("_h").alias("_H"),
        )
        .select(
            F.col(id_col),
            F.col("_n").cast("int").alias("n_tokens"),
            "n_distinct",
            F.round(F.col("_H") + F.lit(1e-9), 4).alias("entropy"),
            F.round(
                F.when(F.col("n_distinct") > 1, F.col("_H") / F.log(F.col("n_distinct")))
                .otherwise(F.lit(0.0))
                + F.lit(1e-9),
                4,
            ).alias("norm_entropy"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 25,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level collocation mining: top-k adjacent-token bigrams by
    pointwise mutual information, PMI = ln( p(w1,w2) / (p(w1)·p(w2)) )
    with p() from corpus counts (Church & Hanks 1990 — public
    literature). ``min_count`` suppresses the low-count PMI explosion.

    Scale shape: bigram and unigram counts are map-side-combined hash
    aggs (shuffle = distinct grams per partition); the two totals ride
    ONE single-row broadcast; scoring joins the bigram table to the
    vocab-sized unigram table twice (hash equi-joins on w1 / w2 —
    vocabulary grows with language, not corpus); top-k lowers to
    TakeOrderedAndProject. The formula folds exactly as written —
    (c12/B) / ((c1/T) · (c2/T)) — mirrored by the oracle.

    Output: (w1, w2, c12, pmi) — pmi rounded in-query.
    """
    toks = tokens(text_col)
    # _t is a resolved alias for the token array (expr() can't see the
    # Python-side Column) — project it first.
    pairs = (
        df.select(toks.alias("_t"))
        .select(
            F.explode(
                F.when(
                    F.size("_t") >= 2,
                    F.expr(
                        "transform(sequence(1, size(_t) - 1), "
                        "i -> struct(element_at(_t, i) AS w1, element_at(_t, i + 1) AS w2))"
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = df.select(F.explode(tokens(text_col)).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    totals = big.agg(F.sum("c12").alias("b_total")).crossJoin(
        uni.agg(F.sum("c").alias("t_total"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    scored = (
        big.filter(F.col("c12") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
    )
    p12 = F.col("c12").cast("double") / F.col("b_total").cast("double")
    p1 = F.col("c1").cast("double") / F.col("t_total").cast("double")
    p2 = F.col("c2").cast("double") / F.col("t_total").cast("double")
    pmi = F.log(p12 / (p1 * p2))
    return (
        scored.select(
            "w1", "w2", "c12", pmi.alias("pmi_raw")
        )
        .orderBy(F.col("pmi_raw").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(F.col("pmi_raw") + F.lit(1e-9), 6).alias("pmi"),
        )
    )


def psi_drift(
    df: DataFrame,
    split_col: str,
    left_val: str,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Population stability index per token between two corpus slices
    (rows where ``split_col == left_val`` vs the rest) — the standard
    categorical-drift monitor for "did my new crawl / new day shift the
    token distribution?". psi_term = (pa − pb)·ln(pa/pb), summable by
    the caller; per-token terms are returned (not the scalar sum) so
    the heaviest movers are inspectable and no cross-row float fold is
    exposed.

    Vocabulary = the top_n tokens by corpus-wide count that occur in
    BOTH slices (absent-in-one tokens are excluded rather than
    smoothed — documented boundary); probabilities renormalize over
    that vocabulary. One explode + one map-side-combined agg; the
    vocabulary table is ≤ top_n rows and the totals a single broadcast
    row, so nothing scales with corpus size after the first agg."""
    both = df.select(
        (F.col(split_col) == left_val).alias("is_a"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    counts = both.groupBy("tok").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cb"),
    )
    vocab = (
        counts.orderBy((F.col("ca") + F.col("cb")).desc(), F.col("tok"))
        .limit(top_n)
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
    )
    tot = vocab.agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    pa = F.col("ca") / F.col("ta")
    pb = F.col("cb") / F.col("tb")
    return (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            F.col("tok").alias("token"),
            F.round(pa, 6).alias("p_left"),
            F.round(pb, 6).alias("p_right"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
    )


_MERGES_SCHEMA = T.StructType(
    [T.StructField("step", T.IntegerType())]
    + [T.StructField(c, T.StringType()) for c in ("left_sym", "right_sym", "merged")]
    + [T.StructField("pair_count", T.LongType())]
)


def _merges_frame(spark, merges: list[tuple]) -> DataFrame:
    """The learned merge rules as a local relation."""
    return driver_frame(spark, pd.DataFrame(merges, columns=_MERGES_SCHEMA.names), _MERGES_SCHEMA)


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """The (w, cnt) frequency table of ``df``'s ``[a-z0-9]+`` words."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _bpe_local_loop(vocab, n_merges: int):
    """Driver-side twin of the distributed BPE merge loop over a
    fetched Arrow (w, cnt) word-type vocabulary: identical delimiter
    encoding, leftmost-non-overlapping replace, exact integer pair
    counts, and (count desc, a, b) argmax tie-break. Returns (merges,
    final vocab as {word: sym})."""
    cnts = dict(zip(vocab.column("w").to_pylist(), vocab.column("cnt").to_pylist()))
    syms = {w: "·" + "··".join(w) + "·" for w in cnts}
    merges = []
    for step in range(1, n_merges + 1):
        pair_n: dict = {}
        for w, sym in syms.items():
            parts = sym.strip("·").split("··")
            if len(parts) < 2:
                continue
            c = cnts[w]
            for i in range(len(parts) - 1):
                key = (parts[i], parts[i + 1])
                pair_n[key] = pair_n.get(key, 0) + c
        if not pair_n:
            break
        (a, b), n = min(
            pair_n.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, a, b, a + b, n))
        old, new = f"·{a}··{b}·", f"·{a}{b}·"
        syms = {w: sym.replace(old, new) for w, sym in syms.items()}
    return merges, syms


def _bpe_merge_loop(vocab: DataFrame, n_merges: int):
    """The distributed merge loop over a (w, cnt) word-type vocabulary:
    returns (merges, the final (w, cnt, sym) vocabulary). The persists
    only speed up the loop's eager argmax collects and are all released
    on return; the final vocabulary's plan recomputes lazily."""
    vocab = vocab.withColumn(
        "sym", F.regexp_replace("w", "(.)", "·$1·")
    ).persist()
    prev = None
    merges = []
    try:
        for step in range(1, n_merges + 1):
            arr = F.split(F.expr("trim(BOTH '·' FROM sym)"), "··")
            # sequence(1, 0) counts DOWN in Spark — guard single-symbol
            # words (same gotcha as functions/text.shingles).
            pair_arr = F.when(
                F.size(arr) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - 1),
                    lambda i: F.struct(
                        F.element_at(arr, i).alias("a"),
                        F.element_at(arr, i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            pairs = vocab.select("cnt", F.explode(pair_arr).alias("p"))
            best = (
                pairs.groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
                .limit(1)
                .collect()
            )
            # The collect above materialized `vocab`'s cache; its
            # parent generation is now superseded — release it.
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best:
                break
            a, b, n = best[0]["a"], best[0]["b"], best[0]["n"]
            merges.append((step, a, b, a + b, n))
            nxt = vocab.withColumn(
                "sym",
                F.replace(
                    F.col("sym"), F.lit(f"·{a}··{b}·"), F.lit(f"·{a}{b}·")
                ),
            )
            if step % 8 == 0:
                # Truncate the replace-chain lineage periodically.
                nxt = nxt.localCheckpoint(eager=False)
            prev, vocab = vocab, nxt.persist()
    finally:
        vocab.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges, vocab


def bpe_learn_merges(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding vocabulary learning (Sennrich et al. 2016),
    the tokenizer-training step, as a distributed DataFrame program:
    learn the top ``n_merges`` merge rules over the corpus word-type
    frequency table.

    Scale shape — the insight that makes BPE distributable is that it
    operates on WORD TYPES, not the token stream: one corpus-scale agg
    builds the (word, count) vocabulary, and every merge iteration
    touches only that vocab-sized table (pair-count agg, map-side
    combined) plus a 1-row argmax collect. Symbol sequences are
    encoded as delimiter-wrapped strings (``·a··b··c·``) so applying a
    merge is ONE native replace() — leftmost non-overlapping, exactly
    BPE's left-to-right merge convention, byte-identical across
    engines (no per-row Python).

    Words are restricted to ``[a-z0-9]+`` so the delimiter can never
    collide with content (mirrored in the oracle). Output: one row per
    learned rule — (step, left_sym, right_sym, merged, pair_count) —
    ties broken by (count desc, left asc, right asc).

    Cache discipline: the argmax ``collect`` at step N materializes
    vocab generation N in cache, at which point generation N−1 is
    superseded and unpersisted INSIDE the loop — peak cached copies is
    2 regardless of ``n_merges`` (pinned by a getPersistentRDDs
    pytest). Every ~8 merges the vocab is ``localCheckpoint``-ed so
    lineage (one withColumn+replace per merge) stays bounded.

    Cost-based routing (r13 — the connected_components / k_core
    discipline): BPE's loop state is the WORD-TYPE vocabulary, which
    is sub-linear in corpus size; when it fits on the driver (one
    bounded fetch, within the small-row limit of
    ``sources.io.DRIVER_LIMITS``) the identical merge loop runs
    in one Python pass — same delimiter encoding, same
    leftmost-non-overlapping replace (str.replace), same exact
    integer pair counts and (count desc, a, b) argmax — instead of
    ``n_merges`` sequential argmax jobs. Above the limit the
    distributed loop runs unchanged; both routes produce identical
    merge rows (pinned by a pytest).
    """
    vocab = _word_types(df, text_col)
    small = driver_fetch(vocab, DRIVER_LIMITS["small_rows"])
    if small is not None:
        return _merges_frame(df.sparkSession, _bpe_local_loop(small, n_merges)[0])
    return _merges_frame(df.sparkSession, _bpe_merge_loop(vocab, n_merges)[0])


def _fertility(df: DataFrame, lookup: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document word and symbol counts of ``df``'s ``[a-z0-9]+``
    words, looked up in a (w, n_sym) word→symbol-count table."""
    words = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    ).filter(F.col("w").rlike("^[a-z0-9]+$"))
    return (
        words.join(F.broadcast(lookup), "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_symbols"),
        )
        .select(
            id_col,
            "n_words",
            F.col("n_symbols").cast("bigint").alias("n_symbols"),
            F.round(
                F.col("n_symbols") / F.col("n_words").cast("double"), 4
            ).alias("symbols_per_word"),
        )
    )


def bpe_encode_stats(
    df: DataFrame,
    n_merges: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges and measure tokenizer fertility per
    document — the encode half of the tokenizer loop, done the way
    real tokenizers do it: merges rewrite the WORD-TYPE vocabulary
    once, then encoding is a broadcast vocabulary lookup (word →
    symbol count), never a per-occurrence merge loop.

    Rebuilds the merge trajectory with the same deterministic
    iterations as ``bpe_learn_merges`` (vocab-sized work), keeps the
    final word→symbols mapping, and joins the corpus word stream
    against it. Output per document: (id, n_words, n_symbols,
    symbols_per_word) over the ``[a-z0-9]+`` word subset — the
    compression/fertility stat that decides whether a vocab is big
    enough.

    Same r13 cost routing as ``bpe_learn_merges``: when the word-type
    vocabulary fits the driver, the merge trajectory replays locally
    and only the word→symbol-count LOOKUP returns to the cluster (a
    broadcast-sized local relation) — the corpus word stream and the
    per-document aggregate stay distributed on both routes."""
    vocab0 = _word_types(df, text_col)
    small = driver_fetch(vocab0, DRIVER_LIMITS["small_rows"])
    if small is not None:
        _, syms = _bpe_local_loop(small, n_merges)
        lookup = driver_frame(
            df.sparkSession,
            pd.DataFrame(
                [(w, len(sym.strip("·").split("··"))) for w, sym in syms.items()],
                columns=["w", "n_sym"],
            ),
            T.StructType(
                [T.StructField("w", T.StringType()), T.StructField("n_sym", T.IntegerType())]
            ),
        )
        return _fertility(df, lookup, id_col, text_col)
    lookup = _bpe_merge_loop(vocab0, n_merges)[1].select(
        "w",
        F.size(F.split(F.expr("trim(BOTH '·' FROM sym)"), "··")).alias("n_sym"),
    )
    return _fertility(df, lookup, id_col, text_col)
