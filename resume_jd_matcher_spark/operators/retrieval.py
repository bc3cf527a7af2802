"""Lexical / hybrid retrieval operators (SURVEY.md §2.H U5; north-star
retrieval for training-data pipelines): Okapi BM25 scoring and
reciprocal-rank-fusion hybrid search (BM25 ∪ dense cosine).

The reference retrieves with dense FAISS only (vectorDB.py:12,38);
a production corpus pipeline pairs that with a lexical ranker and
fuses the two — BM25 is the standard lexical side (Robertson &
Sparck Jones / Okapi, public literature), RRF the standard fusion
(Cormack et al., SIGIR'09: score = Σ 1/(k0 + rank)).

Scale notes
-----------
``bm25_scores`` never shuffles the corpus: the query-term list is a
small fixed set, so per-document term frequencies come from native
array ops inside one projection (no explode), the corpus statistics
(N, avgdl, per-term df) reduce to ONE broadcast scalar row, and the
final score is a codegen'd expression over (tf_i, dl). Two scans of
the documents table total — the same shape at 100 TB, with the top-k
going through TakeOrderedAndProject (per-partition heaps, no global
sort).

``rrf_fuse`` bounds each ranker to its top-``pool`` candidates with
TakeOrderedAndProject before any global row_number, so the
single-partition window only ever sees ≤ 2·pool rows regardless of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resume_jd_matcher_spark.functions.text import tokens
from resume_jd_matcher_spark.functions.vector import cosine

# Okapi defaults (public BM25 literature).
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K0 = 60  # Cormack et al. SIGIR'09 default


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every document against a fixed term set.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  (the +1 variant, so
    idf ≥ 0 even for terms in more than half the corpus);
    score(d)  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).

    Determinism contract with the DuckDB oracle: avgdl is computed as
    exact-integer sum(dl)/N (both engines sum BIGINTs exactly), and the
    per-term contributions fold left-to-right in the fixed order of
    ``query_terms`` on both sides.

    Output: (id, dl, tf_<term>..., bm25 DOUBLE) — unrounded; callers
    round where exposed.
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("dl"),
        *[
            _tf(toks, t).cast("bigint").alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / (tf + F.lit(k1) * norm)
    return scored.select(
        F.col(id_col),
        F.col("dl"),
        *[F.col(f"tf_{i}") for i in range(len(query_terms))],
        score.alias("bm25"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25, deterministic (score desc, id asc) —
    orderBy+limit lowers to TakeOrderedAndProject, never a global sort."""
    scored = bm25_scores(df, query_terms, id_col=id_col, text_col=text_col)
    return (
        scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col),
            F.col("dl"),
            F.round(F.col("bm25") + F.lit(1e-9), 6).alias("bm25"),
        )
    )


def rrf_fuse(
    lexical: DataFrame,
    dense: DataFrame,
    id_col: str = "doc_id",
    lex_score: str = "bm25",
    dense_score: str = "cos_sim",
    pool: int = 100,
    k: int = 20,
    k0: int = RRF_K0,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers over the same id space.

    Each input is cut to its top-``pool`` rows by (score desc, id asc)
    — TakeOrderedAndProject, scale-safe — then ranked with a global
    row_number over that bounded set. A document missing from one
    pool contributes 0 from that ranker (standard RRF on truncated
    runs). Output: (id, lex_rank, dense_rank, rrf) top-k by
    (rrf desc, id asc); ranks are NULL when outside that ranker's pool.
    """

    def _ranked(side: DataFrame, score_col: str, rank_name: str) -> DataFrame:
        top = side.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(pool)
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        return top.select(
            F.col(id_col), F.row_number().over(w).alias(rank_name)
        )

    lex = _ranked(lexical, lex_score, "lex_rank")
    den = _ranked(dense, dense_score, "dense_rank")
    fused = lex.join(den, id_col, "full_outer")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(k0)) + F.col(r).cast("double")), F.lit(0.0)
    )
    rrf = contrib("lex_rank") + contrib("dense_rank")
    return (
        fused.select(
            F.col(id_col),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("dense_rank").cast("int").alias("dense_rank"),
            rrf.alias("rrf_raw"),
        )
        .orderBy(F.col("rrf_raw").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            "lex_rank",
            "dense_rank",
            F.round(F.col("rrf_raw") + F.lit(1e-12), 8).alias("rrf"),
        )
    )


def dense_cosine_scores(
    corpus: DataFrame,
    query_vec: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Cosine of every corpus vector against ONE broadcast query vector
    (the dense half of hybrid search). Output: (id, cos_sim DOUBLE)."""
    paired = corpus.crossJoin(F.broadcast(query_vec))
    return paired.select(
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_label_col: str = "query_label",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    nearest corpus vector with a DIFFERENT label (the closest
    non-positive — the pair a contrastive trainer wants).

    Same hash-aggregate argmin shape as ``argmin_per_group``
    (min(struct(dist, id, label)) with map-side partial combine): the
    label inequality is a pre-aggregation filter, so the shuffle
    carries one pre-combined partial per (query, partition).
    """
    from resume_jd_matcher_spark.functions.vector import faiss_score, squared_l2
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    paired = ensure_parallelism(corpus).crossJoin(F.broadcast(queries))
    d = squared_l2(F.col(vec_col), F.col(query_vec_col))
    best = (
        paired.filter(F.col(label_col) != F.col(query_label_col))
        .select(
            F.col(query_id_col),
            F.col(query_label_col),
            F.struct(
                d.alias("dist"),
                F.col(id_col).alias("id"),
                F.col(label_col).alias("neg_label"),
            ).alias("cand"),
        )
        .groupBy(query_id_col, query_label_col)
        .agg(F.min("cand").alias("best"))
    )
    return best.select(
        query_id_col,
        query_label_col,
        F.col("best.id").alias("neg_id"),
        F.col("best.neg_label").alias("neg_label"),
        F.round("best.dist", 4).alias("dist"),
        faiss_score(F.col("best.dist")).alias("score"),
    )


def mmr_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): greedily pick the candidate maximizing
    ``lam·sim(q,d) − mu·max(sim(d,s) for s already selected)`` — the
    standard diversity re-rank dense top-k lacks (near-duplicate hits
    crowd out coverage). ``mu`` is passed explicitly rather than
    computed as 1−lam so both engines compare the same double literal.

    Scale shape: the DISTRIBUTED part scores the full corpus against
    the broadcast query and lowers the candidate cut to
    TakeOrderedAndProject (per-partition heaps) — corpus size never
    concentrates anywhere. The greedy tail is inherently sequential
    (each pick depends on all previous picks), so it runs over the
    BOUNDED pool (≤ pool candidates, ≤ pool² pairwise sims, both
    Spark-computed so the doubles are fold-identical to the oracle's)
    as an explicitly bounded driver step. Output: (rank, id,
    relevance, mmr_score), rank 1..k; rank 1 is the pure-relevance
    argmax and keeps mmr_score = relevance.
    """
    assert pool <= 1000, "MMR pool is a bounded driver-side set"
    scored = (
        corpus.crossJoin(F.broadcast(query_vec))
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            cosine(F.col(vec_col), F.col(query_vec_col)).alias("qsim"),
        )
        # zero-norm vectors cosine to NULL — they can never be picked
        # and a NULL qsim would poison the greedy arithmetic below.
        .filter(F.col("qsim").isNotNull())
        .orderBy(F.col("qsim").desc(), F.col("id"))
        .limit(pool)
        .persist()  # feeds the qsim collect + both pair-join sides
    )
    pool_rows = scored.select("id", "qsim").collect()  # bounded: ≤ pool rows
    ids = [r["id"] for r in pool_rows]
    qsim = {r["id"]: r["qsim"] for r in pool_rows}

    # Pairwise sims WITHIN the pool, computed by the same codegen'd
    # cosine so every double matches the oracle bit-for-bit. Bounded
    # crossJoin (≤ pool² rows) — BNLJ by design, see tests/test_plans.
    a = scored.select(F.col("id").alias("ida"), F.col("vec").alias("va"))
    b = scored.select(F.col("id").alias("idb"), F.col("vec").alias("vb"))
    pair_rows = (
        a.crossJoin(b)
        .filter(F.col("ida") != F.col("idb"))
        .select("ida", "idb", cosine("va", "vb").alias("sim"))
        .collect()
    )
    scored.unpersist()
    sim: dict[tuple[int, int], float] = {
        (r["ida"], r["idb"]): r["sim"] for r in pair_rows
    }

    selected: list[tuple[int, int, float, float]] = []  # rank, id, rel, mmr
    chosen: list[int] = []
    for rank in range(1, min(k, len(ids)) + 1):
        best_id, best_score = None, None
        for cid in ids:
            if cid in chosen:
                continue
            if not chosen:
                score = qsim[cid]
            else:
                pen = max(sim[(cid, s)] for s in chosen)
                score = lam * qsim[cid] - mu * pen
            # argmax, ties → smallest id (ids iterate ascending-id
            # within equal qsim already; enforce explicitly anyway)
            if best_score is None or score > best_score or (
                score == best_score and cid < best_id
            ):
                best_id, best_score = cid, score
        chosen.append(best_id)
        selected.append((rank, best_id, qsim[best_id], best_score))

    spark = corpus.sparkSession
    # Output id column named and typed after the caller's id_col —
    # string/int ids work the same as the default bigint vec_id.
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType()),
            T.StructField(id_col, id_type),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    out = spark.createDataFrame(selected, out_schema)
    return out.select(
        "rank",
        id_col,
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    min_cosine: float = 0.5,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (id1 < id2): documents as
    inverted-index-weighted sparse vectors, pairwise cosine via a
    posting-list self-join — the LEXICAL document-similarity join
    (dense cosine's bag-of-words sibling; catches paraphrase-free
    near-dups and topical pairs that shingle dedup misses).

    Scale shape: w = tf·ln((N+1)/(df+1)) per (doc, token); pairs meet
    in an equi-join on the token, so candidate volume is Σ_t df(t)² —
    driven by token document frequency, never corpus². ``max_df``
    prunes tokens in more than that many documents from BOTH the
    posting list and the norms (the near-zero-IDF stopwords that
    dominate freq² cost while contributing least weight), keeping the
    result exact over the capped vocabulary. The weight table persists
    across its three consumers (norms + both join sides).

    Output: (left_id, right_id, cos_sim) with cos_sim ≥ min_cosine
    after rounding.
    """
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    tok = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.count()  # bounded scalar (one job), folded as a literal
    w = (
        tf.join(dfreq.filter(F.col("df") <= max_df), "token")
        .select(
            id_col,
            "token",
            (
                F.col("tf").cast("double")
                * F.log((n_docs + 1.0) / (F.col("df") + 1.0))
            ).alias("w"),
        )
        .persist()
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(F.col(id_col).alias("left_id"), "token", F.col("w").alias("wa"))
    b = w.select(F.col(id_col).alias("right_id"), "token", F.col("w").alias("wb"))
    dots = (
        a.join(b, "token")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    out = (
        dots.join(
            norms.select(F.col(id_col).alias("left_id"), F.col("nrm").alias("na")),
            "left_id",
        )
        .join(
            norms.select(F.col(id_col).alias("right_id"), F.col("nrm").alias("nb")),
            "right_id",
        )
        .select(
            "left_id",
            "right_id",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")) + 1e-9, 4).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= min_cosine)
    )
    # Tracked in the dedup module's release registry (the one
    # bench/tests release after materializing) — unpersisting here
    # would evict the cache BEFORE the three consumers ever run.
    from resume_jd_matcher_spark.operators import dedup as _dedup

    _dedup._PERSISTED.append(w)
    return out


def mine_triplets(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_label_col: str = "query_label",
    query_vec_col: str = "query_embedding",
) -> DataFrame:
    """Full triplet mining for contrastive embedding training: per
    anchor, the nearest SAME-label vector (excluding the anchor
    itself) as the positive and the nearest OTHER-label vector as the
    hard negative, with the triplet margin (neg_dist − pos_dist) that
    a margin-loss trainer filters on (margin < α = the informative
    triplets).

    Both argmins are the same map-side-combined ``min(struct)`` hash
    aggregate as ``hard_negatives`` — one broadcast of the anchor set,
    one corpus stream, two partial-combined aggs, one tiny anchor-keyed
    join. Output: (query_id, query_label, pos_id, pos_dist, neg_id,
    neg_label, neg_dist, margin); anchors whose label has no other
    member drop out (no positive exists).
    """
    from resume_jd_matcher_spark.functions.vector import squared_l2
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    paired = ensure_parallelism(corpus).crossJoin(F.broadcast(queries))
    d = squared_l2(F.col(vec_col), F.col(query_vec_col))

    pos = (
        paired.filter(
            (F.col(label_col) == F.col(query_label_col))
            & (F.col(id_col) != F.col(query_id_col))
        )
        .select(
            F.col(query_id_col),
            F.col(query_label_col),
            F.struct(d.alias("dist"), F.col(id_col).alias("id")).alias("cand"),
        )
        .groupBy(query_id_col, query_label_col)
        .agg(F.min("cand").alias("p"))
    )
    neg = (
        paired.filter(F.col(label_col) != F.col(query_label_col))
        .select(
            F.col(query_id_col),
            F.struct(
                d.alias("dist"),
                F.col(id_col).alias("id"),
                F.col(label_col).alias("neg_label"),
            ).alias("cand"),
        )
        .groupBy(query_id_col)
        .agg(F.min("cand").alias("n"))
    )
    return pos.join(neg, query_id_col).select(
        query_id_col,
        query_label_col,
        F.col("p.id").alias("pos_id"),
        F.round("p.dist", 4).alias("pos_dist"),
        F.col("n.id").alias("neg_id"),
        F.col("n.neg_label").alias("neg_label"),
        F.round("n.dist", 4).alias("neg_dist"),
        F.round(F.col("n.dist") - F.col("p.dist"), 4).alias("margin"),
    )


def margin_bitext_mine(
    emb: DataFrame,
    src_label: int = 0,
    tgt_label: int = 1,
    nbr_k: int = 4,
    min_margin: float = 1.0,
    max_src_id: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings"): for each source-group vector, find the target-group
    vector maximizing the RATIO margin

        margin(x, y) = cos(x, y) / ((nbr(x) + nbr(y)) / 2)

    where nbr(v) is the mean cosine of v's top-``nbr_k`` neighbors in
    the opposite group — raw cosine over-selects "hub" sentences that
    are close to everything; dividing by the neighborhood mean cancels
    the hubness (the trick that makes mined bitext usable as training
    pairs). Forward mining: the best target per source, kept when
    margin > ``min_margin``.

    Scale shape: the source side is bounded (``max_src_id``,
    broadcast) so scoring is a broadcast join streamed over the target
    group; both neighborhood means are rank-window + hash-agg keyed on
    their own id (partitioned windows, never global).

    Output: (src_id, tgt_id, cos, margin), one row per mined source.
    """
    from resume_jd_matcher_spark.functions.vector import cosine

    src = emb.filter(
        (F.col(label_col) == src_label) & (F.col(id_col) < max_src_id)
    ).select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("_se"))
    tgt = emb.filter(F.col(label_col) == tgt_label).select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_te")
    )
    sims = (
        tgt.crossJoin(F.broadcast(src))
        .select("src_id", "tgt_id", cosine("_se", "_te").alias("cos"))
        .filter(F.col("cos").isNotNull())
    )
    wx = Window.partitionBy("src_id").orderBy(F.col("cos").desc(), F.col("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.col("cos").desc(), F.col("src_id"))
    ranked = sims.withColumn("rx", F.row_number().over(wx)).withColumn(
        "ry", F.row_number().over(wy)
    )
    xn = (
        ranked.filter(F.col("rx") <= nbr_k)
        .groupBy("src_id")
        .agg(F.avg("cos").alias("xn"))
    )
    yn = (
        ranked.filter(F.col("ry") <= nbr_k)
        .groupBy("tgt_id")
        .agg(F.avg("cos").alias("yn"))
    )
    margined = (
        sims.join(F.broadcast(xn), "src_id")
        .join(yn, "tgt_id")
        .withColumn(
            "margin", F.col("cos") / ((F.col("xn") + F.col("yn")) / 2)
        )
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id")
    )
    return (
        margined.withColumn("rb", F.row_number().over(wbest))
        .filter((F.col("rb") == 1) & (F.col("margin") > min_margin))
        .select(
            "src_id",
            "tgt_id",
            F.round(F.col("cos") + F.lit(1e-9), 6).alias("cos"),
            F.round(F.col("margin") + F.lit(1e-9), 6).alias("margin"),
        )
    )
