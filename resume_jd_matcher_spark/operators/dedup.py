"""Deduplication operators (SURVEY.md §2.C V8; north-star dedup suite):
exact, MinHash+LSH, SimHash, n-gram Jaccard. Embedding-distance
near-dup lives in operators/similarity*.py (it shares the vector path).

All hashing uses the portable md5-derived ``hash32`` so every stage is
reproducible in the DuckDB oracle — no RNG, no JVM-specific hashes.

Scale notes:
- exact dedup: one hash-aggregate on the fingerprint — the cheapest
  possible shuffle key (32 hex chars), map-side combined.
- MinHash/LSH: an input within the document limit of
  ``sources.io.DRIVER_LIMITS`` (an upload batch) resolves on the driver
  after one bounded fetch of its Spark-tokenized distinct tokens: the
  same hash family, bands and estimate in NumPy, returned as a local
  relation, like ``cluster.dedup_clusters``. Above the limit, signatures
  are a groupBy over (doc, seed) partials; candidate generation is an
  equi-join on (band_id, band_sig) — Catalyst hash-partitions it, so
  candidate volume (not corpus²) drives cost. This is the textbook
  replacement for the O(N²) Jaccard join. Both routes give identical
  rows.
- SimHash: one groupBy per (doc, bit) then a bit-packed aggregate;
  near-dup = self-join with popcount(xor) ≤ r, bounded via banding
  on the high bits if needed.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.functions.text import (
    fingerprint_md5,
    seeded_hash32,
    seeded_hash32_values,
    tokens,
)
from resume_jd_matcher_spark.functions.vector import round_values
from resume_jd_matcher_spark.plans.optimize import ensure_parallelism
from resume_jd_matcher_spark.sources.io import DRIVER_LIMITS, driver_fetch, driver_frame

# DataFrames persisted by operators in this module (MinHash signatures
# feed three consumers, so they cache). Long-lived sessions — bench
# loops, services — call release_persisted() after materializing a
# result so storage memory doesn't accumulate across queries.
_PERSISTED: list[DataFrame] = []


def release_persisted() -> None:
    """Unpersist every DataFrame this module cached. Safe to call at
    any time; lazily-recomputed plans stay correct (just slower)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """V8 exact: group by normalized-text fingerprint; keep the lowest
    id as representative (deterministic), count members.

    Output: (fingerprint, rep_doc_id, n_dups).
    """
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(f"rep_{id_col}"),
            F.count("*").alias("n_dups"),
        )
    )


def minhash_signatures_from_tokens(
    toks: DataFrame, n_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signatures over a pre-tokenized DISTINCT (id, tok) long
    form — the shared core that lets ensemble_neardup feed MinHash and
    SimHash from ONE exploded token stream instead of tokenizing the
    corpus once per signal."""
    seeds = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    return (
        toks.select(id_col, "tok", F.explode(seeds).alias("seed"))
        .select(
            id_col,
            "seed",
            seeded_hash32(F.col("tok"), F.col("seed")).alias("hv"),
        )
        .groupBy(id_col, "seed")
        .agg(F.min("hv").alias("mh"))
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Long-form MinHash signatures over distinct word tokens:
    (id, seed, mh) with mh = min over tokens of hash32(token '#' seed).

    Long form keeps the whole computation as two narrow shuffles
    (explode → groupBy) instead of a per-row Python loop.
    """
    df = ensure_parallelism(df)  # small single-file scans = 1 split
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    return minhash_signatures_from_tokens(toks, n_hashes, id_col)


def lsh_bands(
    sigs: DataFrame, rows_per_band: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Fold signature rows into per-band keys: band_sig = '-'-joined
    minhashes of the band's seeds (ordered by seed)."""
    return (
        sigs.withColumn("band_id", F.expr(f"seed div {rows_per_band}"))
        .groupBy(id_col, "band_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                    lambda s: s["mh"].cast("string"),
                ),
            ).alias("band_sig")
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup candidates with estimated Jaccard:
    same-band pairs (id1 < id2), est_jaccard = fraction of equal
    signature components. Output: (left_id, right_id, est_jaccard).

    Cost-routed like ``cluster.dedup_clusters``: one bounded fetch of
    each document's distinct tokens (Spark tokenizes, so both routes
    hash the same tokens) doubles as the size probe. Within the
    document limit, counting documents with an id and a text, the
    signatures, bands and estimates are computed on the driver with the
    same hash family and returned as a local relation, whose consumers
    run no Spark job. Above it, the Spark route runs. Rows with a null
    id or text never pair on either route, and a repeated id pools its
    rows' tokens on both.

    persist=False skips the Spark route's signature cache entirely: the
    explode→groupBy subplan is recomputed per consumer (3×), which is
    the right trade for callers on a bounded slice (e.g. a doc_id cap)
    — nothing enters the CacheManager, so there is nothing to leak or
    to release after the query's action. The driver route caches
    nothing either way.
    """
    # a non-null text splits into at least one token (maybe "")
    fetched = driver_fetch(
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull()).select(
            F.col(id_col), F.array_distinct(tokens(text_col)).alias("toks")
        ),
        DRIVER_LIMITS["docs"],
    )
    if fetched is not None:
        return _minhash_lsh_local(
            df.sparkSession, fetched, df.schema[id_col].dataType, n_hashes, rows_per_band
        )
    # Signatures feed three consumers (banding + both sides of the
    # estimate join); persist so the explode→groupBy runs once, not 3×.
    # Tracked in _PERSISTED for explicit release by long-lived callers.
    sigs = minhash_signatures(df, n_hashes, id_col, text_col)
    if persist:
        sigs = sigs.persist()
        _PERSISTED.append(sigs)
    return _minhash_lsh_from_sigs(sigs, rows_per_band, id_col)


def _minhash_lsh_local(
    spark, fetched: pa.Table, id_type: T.DataType, n_hashes: int, rows_per_band: int
) -> DataFrame:
    """The Spark route on the driver over fetched (id, distinct tokens)
    rows: each distinct batch token is hashed once per seed, a
    signature is the min over its document's token rows, band keys are
    a dict over each band's values, and est_jaccard rounds equal/n
    HALF_UP to 4 places as Spark's ``round`` does."""
    ids, doc_of_row = np.unique(
        fetched.column(0).to_numpy(zero_copy_only=False), return_inverse=True
    )
    toks = fetched.column(1).combine_chunks()
    enc = pc.dictionary_encode(toks.flatten())
    hv = seeded_hash32_values(enc.dictionary.to_pylist(), n_hashes)
    lens = pc.list_value_length(toks).to_numpy()
    row_sig = np.minimum.reduceat(
        hv[enc.indices.to_numpy()], np.cumsum(lens) - lens, axis=0
    )
    # a repeated id pools its rows' tokens, as the Spark route's groupBy
    sig = np.full((len(ids), n_hashes), np.iinfo(np.int64).max)
    np.minimum.at(sig, doc_of_row.reshape(-1), row_sig)

    # ids are sorted, so index order is id order: i < j ⇔ id_i < id_j
    pairs: set = set()
    for lo in range(0, n_hashes, rows_per_band):
        buckets: dict = {}
        for i, key in enumerate(map(tuple, sig[:, lo : lo + rows_per_band].tolist())):
            buckets.setdefault(key, []).append(i)
        for members in buckets.values():
            pairs.update(itertools.combinations(members, 2))
    p = np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)
    n_equal = (sig[p[:, 0]] == sig[p[:, 1]]).sum(axis=1)
    est_of = round_values(np.arange(n_hashes + 1) / n_hashes, 4)
    pdf = pd.DataFrame(
        {"left_id": ids[p[:, 0]], "right_id": ids[p[:, 1]], "est_jaccard": est_of[n_equal]}
    )
    schema = T.StructType(
        [
            T.StructField("left_id", id_type),
            T.StructField("right_id", id_type),
            T.StructField("est_jaccard", T.DoubleType()),
        ]
    )
    return driver_frame(spark, pdf, schema)


def minhash_lsh_candidates_from_tokens(
    toks: DataFrame,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """minhash_lsh_candidates over a pre-tokenized DISTINCT (id, tok)
    long form (see minhash_signatures_from_tokens)."""
    sigs = minhash_signatures_from_tokens(toks, n_hashes, id_col).persist()
    _PERSISTED.append(sigs)
    return _minhash_lsh_from_sigs(sigs, rows_per_band, id_col)


def _minhash_lsh_from_sigs(
    sigs: DataFrame, rows_per_band: int, id_col: str
) -> DataFrame:
    bands = lsh_bands(sigs, rows_per_band, id_col)

    a = bands.select(
        F.col(id_col).alias("left_id"), "band_id", "band_sig"
    )
    b = bands.select(
        F.col(id_col).alias("right_id"), "band_id", "band_sig"
    )
    cand = (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )

    sa = sigs.select(
        F.col(id_col).alias("left_id"), F.col("seed"), F.col("mh").alias("mh_a")
    )
    sb = sigs.select(
        F.col(id_col).alias("right_id"), F.col("seed"), F.col("mh").alias("mh_b")
    )
    return (
        cand.join(sa, "left_id")
        .join(sb, ["right_id", "seed"])
        .groupBy("left_id", "right_id")
        .agg(
            F.round(
                F.avg(F.when(F.col("mh_a") == F.col("mh_b"), 1.0).otherwise(0.0)), 4
            ).alias("est_jaccard")
        )
    )


def simhash(
    df: DataFrame,
    n_bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash fingerprint: per token occurrence, hash32 → each of
    n_bits contributes +1/-1; fingerprint bit = sign of the sum.
    Output: (id, simhash BIGINT).
    """
    # The per-token md5 below is the CPU hot loop — a small single-file
    # scan arrives as ONE split, so fan out before the explode.
    df = ensure_parallelism(df)
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    return simhash_from_tokens(toks, n_bits, id_col)


def simhash_from_tokens(
    toks: DataFrame, n_bits: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash aggregation over a pre-tokenized (id, tok) long form —
    the shared core of text SimHash and the byte-gram media variant
    (operators/multimodal.media_simhash_neardup).
    """
    # Hash each DISTINCT (doc, token) once and weight by its occurrence
    # count: sum over occurrences of ±1 == sum over distinct tokens of
    # ±count, so the result is bit-identical to the per-occurrence spec
    # (and the all-occurrence oracle) while the md5 hot loop runs on
    # ~3-5× fewer rows for natural-language token distributions. The
    # count agg is map-side combined, so the shuffle shrinks too.
    counted = toks.groupBy(id_col, "tok").agg(F.count("*").alias("cnt"))
    return simhash_from_counted(counted, n_bits, id_col)


def simhash_from_counted(
    counted: DataFrame, n_bits: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over the (id, tok, cnt) occurrence-count grain — the
    entry point that shares ensemble_neardup's one exploded+counted
    token stream with MinHash instead of re-tokenizing."""
    hv = counted.select(
        id_col,
        "cnt",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("hv"),
    )
    # All n_bits bitsums in ONE hash aggregate (map-side combined):
    # no per-bit row explosion, one shuffle keyed on the doc id instead
    # of (doc, bit) — 16× less shuffled data for the default width.
    bitsums = [
        F.sum(
            F.when(F.expr(f"(hv >> {b}) & 1") == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"_b{b}")
        for b in range(n_bits)
    ]
    per_doc = hv.groupBy(id_col).agg(*bitsums)
    fingerprint = None
    for b in range(n_bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select(
        id_col, fingerprint.cast("long").alias("simhash")
    )


def simhash_bands(
    sh: DataFrame, max_hamming: int, n_bits: int, id_col: str = "doc_id"
) -> DataFrame:
    """Explode each fingerprint into (r+1) bit-bands. Pigeonhole: two
    fingerprints within hamming distance r differ in ≤ r bits, so at
    least one of the r+1 disjoint bands is bit-identical — banded
    candidates are a SUPERSET of the true near-dup pairs.
    Output: (id, simhash, band_id, band_val)."""
    n_bands = max_hamming + 1
    base, rem = divmod(n_bits, n_bands)
    specs, start = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        specs.append((i, start, width))
        start += width
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.expr(f"(simhash >> {s}) & {(1 << w) - 1}").alias("band_val"),
            )
            for i, s, w in specs
        ]
    )
    return sh.select(
        id_col, "simhash", F.explode(bands).alias("b")
    ).select(id_col, "simhash", F.col("b.band_id"), F.col("b.band_val"))


def simhash_neardup(
    df: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: popcount(xor) ≤ max_hamming, id1 < id2.
    Output: (left_id, right_id, hamming INT).

    Scale shape: candidates come from an equi-join on (band_id,
    band_val) over (max_hamming+1) disjoint bit-bands — Catalyst
    hash-partitions it, no crossJoin anywhere. The popcount verify
    inside each bucket makes the result EXACTLY equal to the all-pairs
    spec (pigeonhole guarantees no true pair is missed)."""
    # The fingerprint pipeline (tokenize → md5 → two aggs) feeds BOTH
    # self-join sides; persist so it runs once, not twice. Tracked in
    # _PERSISTED for explicit release by long-lived callers.
    sh = simhash(df, n_bits, id_col, text_col).persist()
    _PERSISTED.append(sh)
    return simhash_pairs(sh, max_hamming, n_bits, id_col)


def simhash_pairs(
    sh: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded candidate join + popcount verify over a fingerprint
    table (id, simhash) — exactly equal to the all-pairs hamming spec
    by the pigeonhole argument (see simhash_bands)."""
    n_bands = max_hamming + 1
    base, rem = divmod(n_bits, n_bands)
    specs, start = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        specs.append((i, start, width))
        start += width
    bands = simhash_bands(sh, max_hamming, n_bits, id_col)
    a = bands.select(
        F.col(id_col).alias("left_id"),
        F.col("simhash").alias("sh_a"),
        "band_id",
        "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("right_id"),
        F.col("simhash").alias("sh_b"),
        "band_id",
        "band_val",
    )
    pairs = a.join(b, ["band_id", "band_val"]).filter(
        F.col("left_id") < F.col("right_id")
    )
    # A close pair can match in several bands. Instead of a distinct()
    # (a full shuffle of the pair set), keep a pair only in its FIRST
    # matching band — decidable row-locally since both fingerprints are
    # in the row: require every earlier band to mismatch.
    def band_eq(s: int, w: int):
        m = (1 << w) - 1
        return F.expr(f"((sh_a >> {s}) & {m}) = ((sh_b >> {s}) & {m})")

    first_match = F.lit(False)  # any earlier band matched?
    cond = F.lit(True)
    for i, s, w in specs:
        cond = F.when(F.col("band_id") == i, ~first_match).otherwise(cond)
        first_match = first_match | band_eq(s, w)
    return (
        pairs.filter(cond)
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


def ngram_jaccard_join(
    df: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard (id1 < id2) — the ground-truth
    near-dup measure MinHash approximates. Output: (left_id, right_id,
    jaccard), pairs with jaccard > min_jaccard (min_jaccard ≥ 0).

    Scale shape: any pair with jaccard > 0 shares ≥ 1 shingle, so
    candidates come from an equi-join on the exploded shingle — never
    an all-pairs crossJoin. Candidate volume is Σ_s freq(s)², driven by
    shingle frequency, not corpus². One ultra-common shingle still
    contributes freq² pairs, and AQE skew-splitting only spreads that
    cost — ``max_df`` shrinks it: shingles appearing in more than
    ``max_df`` documents (boilerplate; no near-dup signal, the IDF
    argument) are dropped from the shingle space on BOTH the posting
    list and the set sizes, so the result is still the exact Jaccard —
    over the df-capped shingle universe. ``max_df=None`` keeps the raw
    all-pairs semantics (EXACTLY the all-pairs answer, because
    zero-overlap pairs can't clear the jaccard > 0 filter anyway);
    with a cap, worst-case candidate volume is bounded by
    |shingles|·max_df², and the capped route generates those pairs
    expression-side from per-shingle doc baskets (one groupBy, no
    posting self-join shuffle — r12)."""
    from resume_jd_matcher_spark.functions.text import shingles

    # Materialize the token array in its own projection BEFORE the
    # shingle transform: element_at() inside the lambda would otherwise
    # inline (and re-evaluate) the full split() per gram element —
    # O(tokens²) splitting per document.
    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), shingles(F.col("_toks"), n).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    # One row per (doc, distinct shingle). Pairs sharing any shingle
    # meet in the equi-join, and because shingle sets are distinct,
    # count(*) per pair IS |A ∩ B| — no array_intersect, no join back
    # to the shingle arrays, just set sizes.
    ex = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    if max_df is not None:
        # Basket route (r12): ONE groupBy(shingle) collects each
        # shingle's doc list — the df cap is then just the basket size (no
        # separate df census, no broadcast anti-join), and candidate
        # pairs are generated EXPRESSION-side from each sorted
        # <=max_df-sized basket (C(max_df, 2) per shingle, never a
        # posting self-join shuffle). Set sizes re-explode the SAME
        # capped baskets, so the Jaccard denominator lives in the
        # identical capped universe.
        baskets = (
            ex.groupBy("shingle")
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ds"))
            .filter(F.size("ds") <= max_df)
            # AQE would coalesce the basket frame to a few partitions
            # and pin the pair explosion; REPARTITION_BY_NUM is
            # exempt and the frame is bounded
            .repartition(df.sparkSession.sparkContext.defaultParallelism)
            .persist()  # two consumers: sizes + pairs
        )
        _PERSISTED.append(baskets)
        sizes = (
            baskets.select(F.explode("ds").alias(id_col))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_sh"))
        )
        inter = (
            baskets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ds, (a, i) -> "
                        "transform(slice(ds, i + 2, size(ds)), "
                        "b -> struct(a AS left_id, b AS right_id))))"
                    )
                ).alias("p")
            )
            .select("p.left_id", "p.right_id")
            .groupBy("left_id", "right_id")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        sizes = sh.select(F.col(id_col), F.size("sh").alias("n_sh"))
        inter = (
            ex.select(F.col(id_col).alias("left_id"), "shingle")
            .join(
                ex.select(F.col(id_col).alias("right_id"), "shingle"),
                "shingle",
            )
            .filter(F.col("left_id") < F.col("right_id"))
            .groupBy("left_id", "right_id")
            .agg(F.count("*").alias("n_inter"))
        )
    pairs = (
        inter.join(sizes.select(F.col(id_col).alias("left_id"),
                                F.col("n_sh").alias("n_a")), "left_id")
        .join(sizes.select(F.col(id_col).alias("right_id"),
                           F.col("n_sh").alias("n_b")), "right_id")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        pairs.select(
            "left_id",
            "right_id",
            F.round(
                F.col("n_inter").cast("double") / union.cast("double"), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > min_jaccard)
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """C4-style line-level dedup (V8 [EXT]; Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring more
    than once"): the fixture text has no sentence boundaries, so the
    "line" unit is a non-overlapping ``chunk_tokens``-token window.
    Every chunk occurrence after the FIRST (ordered by (doc_id, pos))
    is removed corpus-wide, and each document is reassembled from its
    surviving chunks in order — the cross-document boilerplate strip
    exact-dedup can't do (it only drops whole-document copies).

    Scale shape: chunking is per-document narrow work; the keep-first
    decision is one window over the corpus hash-partitioned by chunk
    text (partition size = chunk frequency, bounded by the dup count,
    not the corpus); reassembly is a map-side-combined per-document
    collect over ≤ n_chunks rows. Nothing is ever corpus × corpus.

    Output: (id_col, n_chunks, n_kept, clean_text) for EVERY input
    document — a doc whose every chunk was seen earlier comes back
    with n_kept = 0 and clean_text = '' (the filter's drop signal).
    """
    t = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    ch = t.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(_toks) / {chunk_tokens}.0) as int) - 1), "
                f"i -> array_join(slice(_toks, i * {chunk_tokens} + 1, {chunk_tokens}), ' '))"
            )
        ).alias("pos", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy(id_col, "pos")
    kept = ch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    reasm = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = ch.groupBy(id_col).agg(F.count("*").cast("int").alias("n_chunks"))
    return base.join(reasm, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans (the ExactSubstr dedup of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — public arXiv:2107.06499), re-expressed as a positional
    k-gram posting list instead of a suffix array:

    1. every position i of every document emits its k-token gram hash
       (one posexplode + lead() window, same shape as winnowing);
    2. a gram is *duplicated* iff it occurs in ≥ 2 distinct documents
       (one map-side-combined count-distinct on the gram hash);
    3. each document's duplicated positions merge into maximal
       contiguous spans via the islands trick (pos − row_number).

    Any cross-document repeated token run of length ≥ k is covered by
    ≥ 1 duplicated gram, and a run of length L ≥ k yields one island
    of L − k + 1 consecutive positions — so span_tokens recovers L
    exactly (suffix-array parity for runs ≥ k, without the
    non-distributable global sort a suffix array needs).

    Scale: the posting list is linear in corpus tokens; the dup-gram
    reduction shuffles ONE pre-combined partial per (gram, partition);
    the posting⋈dup-grams equi-join emits at most one row per posting
    (each posting row matches exactly one gram key — no pairwise
    blow-up, unlike Jaccard candidate joins, so no df-cap is needed);
    the islands window sorts per-document slices only.

    Output: (id, span_start, span_end, span_tokens, n_grams) with
    1-based inclusive token positions.
    """
    posting = _gram_posting(df, k, id_col, text_col)
    dup_grams = (
        posting.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    dup_pos = posting.join(dup_grams, "h").select(id_col, "i")
    by_i = Window.partitionBy(id_col).orderBy("i")
    spans = (
        dup_pos.withColumn("grp", F.col("i") - F.row_number().over(by_i))
        .groupBy(id_col, "grp")
        .agg(
            F.min("i").cast("int").alias("span_start"),
            (F.max("i") + F.lit(k - 1)).cast("int").alias("span_end"),
            F.count("*").cast("int").alias("n_grams"),
        )
    )
    return spans.select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).cast("int").alias("span_tokens"),
        "n_grams",
    )


def _tok_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Persisted (id, i, tok) token stream, 1-based positions — the
    shared base of the posting list and the removal join-back (one
    tokenization pass, not one per consumer)."""
    tok_pos = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.posexplode(tokens(text_col)).alias("i0", "tok"))
        .select(id_col, (F.col("i0") + 1).alias("i"), "tok")
    )
    tok_pos.persist()
    _PERSISTED.append(tok_pos)
    return tok_pos


def _gram_posting(
    df: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    tok_pos: DataFrame | None = None,
) -> DataFrame:
    """Positional k-gram posting list (id, i, h): 1-based position i,
    portable hash32 of the space-joined k-token gram at i. One
    posexplode + one per-doc lead() window; persisted (two consumers:
    the dup-gram reduction and the position join-back)."""
    from resume_jd_matcher_spark.functions.text import hash32 as _h32

    if tok_pos is None:
        tok_pos = _tok_positions(df, id_col, text_col)
    by_pos = Window.partitionBy(id_col).orderBy("i")
    gram_parts = [F.col("tok")] + [
        F.lead("tok", j).over(by_pos) for j in range(1, k)
    ]
    posting = (
        tok_pos.select(
            F.col(id_col),
            F.col("i"),
            F.concat_ws(" ", *gram_parts).alias("gram"),
            F.lead("tok", k - 1).over(by_pos).isNotNull().alias("is_gram"),
        )
        .filter(F.col("is_gram"))
        .select(id_col, "i", _h32(F.col("gram")).alias("h"))
    )
    posting.persist()
    _PERSISTED.append(posting)
    return posting


def remove_duplicated_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The removal half of ExactSubstr dedup (Lee et al. 2021): for
    every k-gram occurring in ≥ 2 distinct documents, ONE canonical
    copy survives (the lowest doc id holding the gram) and every other
    document drops the tokens that gram covers — "remove all but one
    occurrence", keyed per gram so overlapping spans compose.

    Dataflow: the shared positional posting list → per-gram
    (owner = min(id), ndocs) hash agg → non-owner gram positions fan
    out to their k covered token offsets (bounded by dup positions ×
    k, never corpus²) → anti-join drops those offsets from the token
    stream → per-doc ordered reassembly (same collect/sort shape as
    C4 line_dedup). Documents with nothing duplicated pass through
    unchanged; a fully-duplicated non-owner document degrades to an
    empty string.

    Output: (id, n_tokens_before, n_tokens_after, clean_text).
    """
    tok_pos = _tok_positions(df, id_col, text_col)
    posting = _gram_posting(df, k, id_col, text_col, tok_pos=tok_pos)
    owners = (
        posting.groupBy("h")
        .agg(
            F.min(id_col).alias("owner"),
            F.count_distinct(F.col(id_col)).alias("ndocs"),
        )
        .filter(F.col("ndocs") >= 2)
        .select("h", "owner")
    )
    drop_pos = (
        posting.join(owners, "h")
        .filter(F.col(id_col) != F.col("owner"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    kept = tok_pos.select(
        id_col, F.col("i").alias("pos"), "tok"
    ).join(drop_pos, [id_col, "pos"], "left_anti")
    reasm = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_tokens_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = tok_pos.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_tokens_before")
    )
    return base.join(reasm, id_col, "left").select(
        id_col,
        "n_tokens_before",
        F.coalesce(F.col("n_tokens_after"), F.lit(0)).cast("int").alias(
            "n_tokens_after"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def ngram_containment_join(
    df: DataFrame,
    n: int = 3,
    min_containment: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs: n_inter /
    min(|A|, |B|) over distinct n-gram shingles, id1 < id2. The
    asymmetric companion of ``ngram_jaccard_join``: a short document
    pasted inside a much longer one scores containment ≈ 1 while its
    Jaccard stays tiny (the union is dominated by the longer doc), so
    this is the screen that catches subset duplication — quote farms,
    boilerplate-wrapped reposts, chunk-of-a-book documents.

    Same scale shape as the Jaccard join: candidates come from an
    equi-join on the exploded distinct shingle (shared-shingle pairs
    only, never corpus²), intersection sizes are a count per pair, set
    sizes join back by id. The posting list feeds both self-join
    sides, so it persists once."""
    from resume_jd_matcher_spark.functions.text import shingles

    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), shingles(F.col("_toks"), n).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    ex = sh.select(F.col(id_col), F.explode("sh").alias("shingle")).persist()
    _PERSISTED.append(ex)
    # Set sizes derived from the PERSISTED exploded posting list (the
    # shingles are distinct per doc, so count == |set|) — deriving
    # from `sh` would re-run tokenize+shingle a third time.
    sizes = ex.groupBy(id_col).agg(F.count("*").cast("int").alias("n_sh"))
    inter = (
        ex.select(F.col(id_col).alias("left_id"), "shingle")
        .join(ex.select(F.col(id_col).alias("right_id"), "shingle"), "shingle")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_inter"))
    )
    pairs = (
        inter.join(
            sizes.select(F.col(id_col).alias("left_id"), F.col("n_sh").alias("n_a")),
            "left_id",
        )
        .join(
            sizes.select(F.col(id_col).alias("right_id"), F.col("n_sh").alias("n_b")),
            "right_id",
        )
    )
    return (
        pairs.select(
            "left_id",
            "right_id",
            F.round(
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                4,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )
