"""Training-data sampling / splitting / packing operators — the
data-prep surface a 100 TB LLM pipeline needs around the corpus
(north-star [EXT]; complements dedup + text analysis).

Everything is deterministic (hash- or order-based, never RNG) so runs
are reproducible and the DuckDB oracle can replay each step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.text import hash32, tokens


def train_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 8,
    val_pct: int = 1,
) -> DataFrame:
    """Deterministic hash split: bucket = hash32(id) % 10 →
    train/val/test at train_pct/val_pct/rest. Hash-based (not row
    order) so membership is stable under repartitioning and appends —
    the property that matters when the corpus grows between runs.
    """
    bucket = hash32(F.col(id_col).cast("string")) % 10
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """Data balancing: keep at most ``cap`` rows per group, chosen by a
    deterministic order (not sampling) — rank window per group, one
    shuffle on the group key."""
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def pack_token_budget(
    df: DataFrame,
    budget: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence-packing shape: running token count per group (ordered
    by id) assigns each document to a training bin of ~``budget``
    tokens. Cumsum window per group — the standard greedy packer's
    distributed approximation."""
    n_tok = F.size(tokens(text_col))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum(n_tok).over(w)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        n_tok.cast("int").alias("n_tokens"),
        ((running - 1) / budget).cast("long").alias("bin_id"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    group_col: str = "domain",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixture resampling (the pretraining "data mixture"
    knob): admit ⌊total × weight⌋ rows per group, chosen by hash order
    of the id — deterministic pseudo-random, stable under
    repartitioning and appends, reproducible in SQL (no RNG). The
    per-group targets ride a broadcast dim table; the only shuffle is
    the rank window on the group key. Groups with fewer rows than
    their target contribute everything they have."""
    spark = df.sparkSession
    targets = [(g, int(total * w)) for g, w in sorted(weights.items())]
    tdf = spark.createDataFrame(targets, f"{group_col} string, _target int")
    w_rank = Window.partitionBy(group_col).orderBy(
        hash32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w_rank))
        .join(F.broadcast(tdf), group_col)
        .filter(F.col("_rn") <= F.col("_target"))
        .drop("_rn", "_target")
    )


def mixture_token_budget(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    group_col: str = "domain",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-weighted domain mixture: admit hash-ordered documents per
    group while the group's running TOKEN count stays within
    ⌊total_tokens × weight⌋ — the unit real pretraining mixtures are
    specified in (a domain's share of the token stream, not its
    document count; ``mixture_sample`` is the per-document sibling).
    The document that would cross the budget is excluded (greedy
    prefix, deterministic). One rank-window shuffle on the group key;
    targets ride a broadcast dim. Output: (id, group, n_tokens)."""
    spark = df.sparkSession
    targets = [(g, int(total_tokens * w)) for g, w in sorted(weights.items())]
    tdf = spark.createDataFrame(targets, f"{group_col} string, _target long")
    w_run = (
        Window.partitionBy(group_col)
        .orderBy(hash32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n_tok = F.size(tokens(text_col))
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            n_tok.cast("int").alias("n_tokens"),
        )
        .withColumn("_running", F.sum("n_tokens").over(w_run))
        .join(F.broadcast(tdf), group_col)
        .filter(F.col("_running") <= F.col("_target"))
        .drop("_running", "_target")
    )


def seeded_shuffle(
    df: DataFrame,
    seed: str = "s42",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic seeded global shuffle with materialized positions
    — the corpus-order randomization every training run needs, minus
    the RNG. Each row's sort key is hash32(seed:id); the GLOBAL row
    number is computed distributed: rows land in ``n_buckets``
    key-range buckets (monotone in the key, so bucket order == global
    order), per-bucket counts cumsum into offsets (a tiny
    ≤n_buckets-row window, broadcast back), and the global position is
    bucket offset + rank within bucket. No single-partition window
    ever sees the full corpus — the classic distributed global-rank
    shape. Output: (pos, id)."""
    span = (1 << 32) // n_buckets  # hash32 range is [0, 2^32)
    key = hash32(
        F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    )
    keyed = df.select(F.col(id_col), key.alias("_k")).withColumn(
        "_b", F.expr(f"_k div {span}")
    )
    counts = keyed.groupBy("_b").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ≤ n_buckets rows: single-partition is fine HERE, never on data
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    )
    w_in = Window.partitionBy("_b").orderBy(
        F.col("_k").asc(), F.col(id_col).asc()
    )
    return (
        keyed.join(F.broadcast(offsets.select("_b", "_off")), "_b")
        .withColumn("pos", F.col("_off") + F.row_number().over(w_in))
        .select(F.col("pos").cast("long").alias("pos"), F.col(id_col))
    )


def length_buckets(
    df: DataFrame,
    boundaries: tuple[int, ...] = (16, 64, 256, 1024, 4096),
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batching stats: pad each document up to the
    smallest boundary ≥ its token count and report, per bucket, how
    many padding tokens that batch layout wastes — the knob for
    choosing sequence-length buckets before packing. Documents past
    the largest boundary report as pad_to = -1 (they get split, not
    padded; zero waste). One codegen'd CASE + one hash agg."""
    n_tok = F.size(tokens(text_col))
    bucket = F.when(n_tok <= boundaries[0], F.lit(boundaries[0]))
    for b in boundaries[1:]:
        bucket = bucket.when(n_tok <= b, F.lit(b))
    bucket = bucket.otherwise(F.lit(-1))
    agg = (
        df.select(bucket.alias("pad_to"), n_tok.alias("_n"))
        .groupBy("pad_to")
        .agg(F.count("*").alias("n_docs"), F.sum("_n").alias("total_tokens"))
    )
    padded = F.when(
        F.col("pad_to") > 0, F.col("n_docs") * F.col("pad_to")
    ).otherwise(F.col("total_tokens"))
    return agg.select(
        F.col("pad_to").cast("int").alias("pad_to"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        padded.cast("long").alias("padded_tokens"),
        F.round(
            (padded - F.col("total_tokens")) / padded.cast("double"), 4
        ).alias("waste_frac"),
    )


def curriculum_order(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.8, 0.6, 0.4),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curriculum ordering: band documents by FIXED quality-score
    thresholds (band 0 = highest quality first), then hash-shuffle
    within each band — the "clean data first, then the long tail"
    schedule curriculum-trained runs use. Fixed thresholds instead of
    ntile so banding needs no global sort (a global ntile would funnel
    the corpus through one partition); the within-band position is a
    per-band rank window. Output: (id, band, band_pos, quality)."""
    from resume_jd_matcher_spark.operators.textstats import text_quality

    q = text_quality(df, id_col=id_col, text_col=text_col).select(
        F.col(id_col), F.col("quality")
    )
    band = F.when(F.col("quality") >= thresholds[0], 0)
    for i, t in enumerate(thresholds[1:], start=1):
        band = band.when(F.col("quality") >= t, i)
    band = band.otherwise(len(thresholds))
    w = Window.partitionBy("band").orderBy(
        hash32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        q.withColumn("band", band.cast("int"))
        .withColumn("band_pos", F.row_number().over(w).cast("long"))
        .select(id_col, "band", "band_pos", "quality")
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII hygiene: count and redact emails/URLs (the two reliably
    regex-able classes) with typed placeholder tokens. At scale this
    runs in the same scan as quality filtering — pure codegen'd
    regexps, no Python."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(c, F.lit(URL_RE)).cast("int").alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ).alias("redacted"),
    )


def dsir_weights(
    df: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (data selection via importance
    resampling, Xie et al. 2023, arXiv:2302.03169 [EXT]): score every
    document by how target-domain-like it is, as the length-normalized
    log-ratio of two hashed-bigram LMs —

        w(doc) = mean over bigram positions of
                 ln p_target(bucket) − ln p_corpus(bucket)

    with ``bucket = hash32(w1 ' ' w2) % n_buckets`` (DSIR's hashed
    n-gram features) and additive 0.5 smoothing over the bucket
    universe, so buckets unseen in the target still get finite mass.
    ``target_filter`` is a boolean Column selecting the target-domain
    rows (e.g. ``F.col('lang') == 'en'``). High weight → resample the
    document INTO the training mixture.

    Scale shape: both LM "tables" are ≤ n_buckets-row hash aggs — the
    joined log-ratio table is broadcast (a few thousand rows no matter
    the corpus size); scoring streams each document's bigrams through
    that broadcast join and one map-side-combined per-doc mean.
    Nothing is ever corpus × corpus, and the only driver-side values
    are the two scalar totals, carried via single-row broadcasts.

    Output: (id_col, n_bigrams, dsir_logweight) for every document
    with ≥ 2 tokens.
    """
    toks = df.select(
        F.col(id_col), target_filter.alias("_is_target"), tokens(text_col).alias("_toks")
    )
    big = (
        toks.filter(F.size("_toks") >= 2)
        .select(
            F.col(id_col),
            "_is_target",
            F.explode(
                F.zip_with(
                    F.expr("slice(_toks, 1, size(_toks) - 1)"),
                    F.expr("slice(_toks, 2, size(_toks) - 1)"),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("_bg"),
        )
        .select(
            F.col(id_col),
            "_is_target",
            (hash32(F.col("_bg")) % F.lit(n_buckets)).alias("bucket"),
        )
    )
    cc = big.groupBy("bucket").agg(
        F.count("*").cast("double").alias("c_corpus"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0))
        .cast("double")
        .alias("c_target"),
    )
    totals = cc.agg(
        F.sum("c_corpus").alias("n_corpus"), F.sum("c_target").alias("n_target")
    )
    denom = F.lit(0.5) * F.lit(float(n_buckets))
    lr = F.log(
        (F.col("c_target") + F.lit(0.5)) / (F.col("n_target") + denom)
    ) - F.log((F.col("c_corpus") + F.lit(0.5)) / (F.col("n_corpus") + denom))
    ratio = (
        cc.crossJoin(F.broadcast(totals))
        .select("bucket", lr.alias("_lr"))
    )
    return (
        big.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg("_lr") + F.lit(1e-9), 4).alias("dsir_logweight"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic PPS sampling without replacement
    (Efraimidis–Spirakis A-ES, 2006 [EXT]): draw ``n`` rows with
    inclusion probability proportional to ``weight_col`` by ranking on

        key = ln(u) / w,   u = (hash32(id) + 0.5) / 2^32

    (the log form of the paper's ``u^(1/w)`` — identical ordering,
    one transcendental). The uniform comes from the portable hash32,
    not an RNG, so the sample is bit-reproducible across engines and
    runs — the seeded twin of ``df.sample()`` weights can't express.

    Scale shape: the key is a per-row projection (no shuffle); the
    top-n is orderBy().limit(n) = TakeOrderedAndProject — partial
    top-n per partition, n rows to a single reducer — never a global
    sort of the corpus. The rank window runs on the already-selected
    ≤ n rows only. Weights must be > 0; NULL/zero-weight rows are
    excluded.

    Output: (id_col, weight, es_key, rank) for the n selected rows.
    """
    keyed = df.select(
        F.col(id_col),
        F.round(weight_col.cast("double"), 4).alias("weight"),
    ).filter(F.col("weight") > 0)
    u = (hash32(F.col(id_col).cast("string")) + F.lit(0.5)) / F.lit(
        float(2**32)
    )
    keyed = keyed.select(
        id_col,
        "weight",
        F.round(F.log(u) / F.col("weight") + F.lit(1e-9), 6).alias("es_key"),
    )
    top = keyed.orderBy(F.col("es_key").desc(), F.col(id_col).asc()).limit(n)
    w = Window.orderBy(F.col("es_key").desc(), F.col(id_col).asc())
    return top.select(
        id_col,
        "weight",
        "es_key",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def temperature_mixture(
    df: DataFrame,
    alpha: float,
    total: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled domain mixture (the mT5/UniMax α-sampling
    rule): admission shares derive from the DATA — w_g ∝ n_g^α — so
    α=1 reproduces natural proportions, α→0 flattens toward uniform,
    and 0<α<1 up-samples small domains without a hand-written weight
    table (``mixture_sample``'s data-driven sibling).

    Group sizes are one map-side-combined count agg collected to the
    driver (bounded by the number of domains); shares fold
    left-to-right over groups sorted by name (the oracle replays the
    identical fold), α=0.5 routes through sqrt (correctly-rounded on
    both engines, unlike generic pow). Admission reuses the
    deterministic hash-rank window: one shuffle on the group key,
    targets ride a broadcast dim. Output: admitted (id, group) rows.
    """
    import math

    spark = df.sparkSession
    sizes = sorted(
        (r[group_col], r["n"])
        for r in df.groupBy(group_col).agg(F.count("*").alias("n")).collect()
    )
    powf = math.sqrt if alpha == 0.5 else (lambda n: math.pow(n, alpha))
    ps = [(g, powf(n)) for g, n in sizes]
    tot = 0.0
    for _, p in ps:  # explicit left-to-right fold, mirrored in SQL
        tot += p
    targets = [(g, int((total * p) / tot)) for g, p in ps]
    tdf = spark.createDataFrame(targets, f"{group_col} string, _target int")
    w_rank = Window.partitionBy(group_col).orderBy(
        hash32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), F.col(group_col))
        .withColumn("_rn", F.row_number().over(w_rank))
        .join(F.broadcast(tdf), group_col)
        .filter(F.col("_rn") <= F.col("_target"))
        .drop("_rn", "_target")
    )


def negative_sampling(
    df: DataFrame,
    k: int = 4,
    vocab_size: int = 200,
    n_bins: int = 64,
    weight_scale: int = 1000,
    seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic unigram^0.75 negative sampling (Mikolov et al.
    2013, word2vec's noise distribution): draw ``k`` negative tokens
    per document from P(w) ∝ count(w)^0.75 over the top
    ``vocab_size`` corpus tokens — the contrastive-pair generator for
    embedding training, with hash draws instead of RNG so every run
    (and the DuckDB oracle) reproduces the same samples.

    All sampling arithmetic is INTEGER: weights are
    round(cnt^0.75 · weight_scale) BIGINT, the CDF is an integer
    cumulative sum over the bounded vocabulary (order-exact on both
    engines — float cumsums are not, DuckDB windows sum via segment
    trees), and the draw is r = hash32(id:j#seed) mod Σw. Inversion
    is the binned-range-join pattern: each vocab interval [lo, hi) expands to the
    integer bins it covers, draws join on bin = r·B div Σw — an
    equi-join with ≤ (Σw span)/B interval checks per draw, never a
    draws × vocab nested loop.

    Scale shape: the vocab fit is one token hash agg cut to
    vocab_size by TakeOrderedAndProject; CDF + bins live on the
    ≤1000-row bounded vocab (asserted) and broadcast; draws are
    docs × k rows joined to the broadcast bin table. Σw must stay
    below 2³¹ (hash32's range) for the modulo to cover the CDF —
    asserted at fit time; raise weight granularity, not corpus size,
    if it trips.

    Output: (id, j, neg_token) — k rows per document.
    """
    assert vocab_size <= 1000, "sampling vocabulary is a bounded broadcast dim"
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select(
            "tok",
            "cnt",
            F.round(F.pow(F.col("cnt").cast("double"), 0.75) * weight_scale)
            .cast("bigint")
            .alias("wt"),
        )
    )
    w_cdf = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf = vocab.select(
        "tok",
        "cnt",
        "wt",
        F.sum("wt").over(w_cdf).alias("hi"),
    ).select("tok", "cnt", "wt", (F.col("hi") - F.col("wt")).alias("lo"), "hi")
    total_row = cdf.agg(F.max("hi").alias("w_total")).collect()[0]
    w_total = int(total_row["w_total"])
    assert 0 < w_total < 2**31, "integer CDF must fit hash32's range"

    bins = cdf.select(
        "tok",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.expr(f"lo * {n_bins} DIV {w_total}"),
                F.expr(f"(hi - 1) * {n_bins} DIV {w_total}"),
            )
        ).alias("bin"),
    )
    draws = df.select(F.col(id_col)).select(
        id_col, F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j")
    )
    r = (
        hash32(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
                F.lit(f"#{seed}"),
            )
        )
        % w_total
    )
    drawn = draws.select(id_col, "j", r.alias("r")).withColumn(
        "bin", F.expr(f"r * {n_bins} DIV {w_total}")
    )
    return (
        drawn.join(F.broadcast(bins), "bin")
        .filter((F.col("r") >= F.col("lo")) & (F.col("r") < F.col("hi")))
        .select(id_col, F.col("j").cast("int").alias("j"), F.col("tok").alias("neg_token"))
    )
