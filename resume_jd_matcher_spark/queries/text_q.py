"""Text-analysis + dedup queries over `documents` (SURVEY.md §2.H U5,
§2.C V8; north-star text-analysis/dedup suites).

Tokenization contract shared with the oracle: lowercase, trim, split
on /\\s+/. Hashing contract: ``hash32`` = first 8 hex chars of md5 as
BIGINT (DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators import cluster as clusterop
from resume_jd_matcher_spark.functions.text import tokens
from resume_jd_matcher_spark.operators import dedup, textstats
from resume_jd_matcher_spark.queries import register
from resume_jd_matcher_spark.sources.io import load_table

SQL_TOKS = "string_split_regex(trim(lower({c})), '\\s+')"
SQL_HASH32 = "('0x' || substr(md5({c}), 1, 8))::BIGINT"

_STOP_SQL = "('a','the','and','of','to','in','is')"


@register(
    "text_quality",
    f"""
WITH t AS (
  SELECT doc_id,
         text,
         {SQL_TOKS.format(c='text')} AS toks,
         length(text) AS nc
  FROM documents
), r AS (
  SELECT doc_id,
         len(toks) AS ntok,
         nc,
         nc::DOUBLE / nullif(len(toks), 0) AS avg_tok,
         len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE / nullif(len(toks), 0) AS stop_r,
         len(regexp_extract_all(text, '[,.!?;:]'))::DOUBLE / nullif(nc, 0) AS punct_r,
         len(regexp_extract_all(text, '[0-9]'))::DOUBLE / nullif(nc, 0) AS digit_r
  FROM t
)
SELECT doc_id,
       ntok::INT AS n_tokens,
       nc::BIGINT AS n_chars_actual,
       round(avg_tok + 1e-9, 4) AS avg_token_len,
       round(stop_r + 1e-9, 4) AS stopword_ratio,
       round(punct_r + 1e-9, 4) AS punct_ratio,
       round(digit_r + 1e-9, 4) AS digit_ratio,
       round(0.5 * least(ntok::DOUBLE / 100.0, 1.0)
           + 0.3 * (1.0 - least(stop_r * 2.0, 1.0))
           + 0.2 * (1.0 - least(digit_r * 10.0, 1.0)) + 1e-9, 4) AS quality
FROM r
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: per-document quality features + blended quality score."""
    return textstats.text_quality(load_table(spark, sf_dir, "documents"))


_LANG_CASE = " ".join(
    f"WHEN len(list_filter(toks, x -> x IN {tuple(words)!r})) = best THEN '{lang}'"
    for lang, words in textstats.LANG_MARKERS.items()
).replace('"', "'")


@register(
    "language_id",
    f"""
WITH t AS (
  SELECT doc_id, lang, {SQL_TOKS.format(c='text')} AS toks FROM documents
), s AS (
  SELECT doc_id, lang, toks,
         greatest(
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['de'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['en'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['es'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['fr'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['zh'])!r}))
         ) AS best
  FROM t
)
SELECT doc_id,
       CASE {_LANG_CASE} END AS predicted_lang,
       lang AS labeled_lang,
       (CASE {_LANG_CASE} END = lang)::INT AS is_match
FROM s
""",
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: keyword-marker language ID (deterministic heuristic)."""
    return textstats.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "token_counts",
    f"""
SELECT doc_id,
       len({SQL_TOKS.format(c='text')})::INT AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]'))::INT
         AS n_bpe_tokens,
       length(text)::BIGINT AS n_chars_actual
FROM documents
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: whitespace + BPE-ish-regex token counting."""
    return textstats.token_counts(load_table(spark, sf_dir, "documents"))


@register(
    "term_frequency",
    f"""
WITH tf AS (
  SELECT unnest({SQL_TOKS.format(c='text')}) AS token FROM documents
), c AS (
  SELECT token, count(*)::BIGINT AS cnt FROM tf GROUP BY token
), r AS (
  SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c
)
SELECT token, cnt, rank::INT AS rank FROM r WHERE rank <= 20
""",
)
def q_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: corpus-wide top-20 term frequency."""
    return textstats.term_frequency(load_table(spark, sf_dir, "documents"), top_n=20)


@register(
    "lang_distribution",
    """
SELECT lang,
       count(*)::BIGINT AS n_docs,
       round(avg(n_chars), 2) AS avg_chars,
       sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY lang
""",
)
def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: corpus language distribution."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "dedup_exact",
    """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS rep_doc_id,
       count(*)::BIGINT AS n_dups
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 exact dedup: hash-groupBy on the normalized-text fingerprint."""
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard",
    f"""
WITH w AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS w
  FROM documents WHERE doc_id < 400
), t AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w)-2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [] END AS sh
  FROM w
), e AS (
  SELECT doc_id, unnest(sh) AS shingle FROM t
), e2 AS (
  SELECT doc_id, shingle FROM e
  WHERE shingle NOT IN (
    SELECT shingle FROM e GROUP BY shingle HAVING count(*) > 50)
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM e2 GROUP BY doc_id
), i AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS i
  FROM e2 a JOIN e2 b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT left_id, right_id, i, sa.n_sh + sb.n_sh - i AS u
  FROM i
  JOIN sz sa ON sa.doc_id = left_id
  JOIN sz sb ON sb.doc_id = right_id
)
SELECT left_id, right_id, round(i::DOUBLE / u, 4) AS jaccard
FROM p WHERE round(i::DOUBLE / u, 4) > 0.0
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8: exact 3-gram-shingle Jaccard — the ground truth MinHash
    approximates. Engine path prunes candidates via a shared-shingle
    equi-join (no crossJoin) with a df-cap (max_df=50) dropping
    boilerplate shingles whose freq² candidate blow-up carries no
    near-dup signal; the oracle applies the identical cap, so the
    match is exact over the capped shingle universe. (At sf<=0.1 the
    corpus max shingle-df is ~6, so capped == uncapped here — the cap
    is load-bearing only at scale.)"""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return dedup.ngram_jaccard_join(d, n=3, min_jaccard=0.0, max_df=50)


@register(
    "minhash_lsh",
    f"""
WITH docs AS (
  SELECT doc_id, list_distinct({SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({SQL_HASH32.format(c="w || '#' || seed")}) AS mh
  FROM tok, (SELECT unnest(generate_series(0, 15)) AS seed) seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         string_agg(mh::VARCHAR, '-' ORDER BY seed) AS band_sig
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
)
SELECT c.left_id, c.right_id,
       round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
FROM cand c
JOIN h ha ON ha.doc_id = c.left_id
JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
GROUP BY c.left_id, c.right_id
""",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 scale path: MinHash signatures → banded LSH candidate pairs →
    estimated Jaccard. Candidate generation is an equi-join on
    (band_id, band_sig) — no O(N²) pair scan."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.minhash_lsh_candidates(d, n_hashes=16, rows_per_band=4)


_LSH_PLAN_HASHES = 16
_LSH_PLAN_TARGET = 0.7


@register(
    "lsh_param_planner",
    f"""
WITH cfg AS (
  SELECT b, {_LSH_PLAN_HASHES} // b AS r
  FROM (SELECT unnest([1, 2, 4, 8, 16]) AS b)
), curve AS (
  SELECT b, r,
         round(pow(1.0 / b, 1.0 / r) + 1e-9, 4) AS threshold,
         round(1 - pow(1 - pow(0.5, r), b) + 1e-9, 4) AS p_at_50,
         round(1 - pow(1 - pow(0.7, r), b) + 1e-9, 4) AS p_at_70,
         round(1 - pow(1 - pow(0.9, r), b) + 1e-9, 4) AS p_at_90
  FROM cfg
), ranked AS (
  SELECT *, row_number() OVER (
           ORDER BY abs(threshold - {_LSH_PLAN_TARGET}), b) AS pick
  FROM curve
)
SELECT b::INT AS b, r::INT AS r, threshold, p_at_50, p_at_70, p_at_90,
       pick = 1 AS recommended
FROM ranked
""",
)
def q_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 [EXT]: LSH band-configuration planner — for every (bands b,
    rows r) split of {_LSH_PLAN_HASHES} MinHash functions, the
    S-curve threshold (1/b)^(1/r) and catch probabilities
    1−(1−j^r)^b at Jaccard 0.5/0.7/0.9 (Leskovec-Rajaraman-Ullman,
    MMDS ch. 3), recommending the config whose threshold lands
    closest to the {_LSH_PLAN_TARGET} target — the design calculator
    that justifies minhash_lsh's default split of its 16 hashes into
    b=4 bands of r=4 rows (threshold (1/4)^(1/4) ≈ 0.707).
    Deterministic tie-break on b.

    Scale shape: a 5-row literal frame and pure projection — the
    planner runs before any data is touched; nothing scales with
    input at all (sf_dir is unused, accepted for the uniform query
    signature)."""
    from pyspark.sql import Window

    cfgs = [(b, _LSH_PLAN_HASHES // b) for b in (1, 2, 4, 8, 16)]
    cfg = spark.createDataFrame(cfgs, "b int, r int")

    def catch(j: float):
        return F.round(
            1
            - F.pow(
                1 - F.pow(F.lit(j), F.col("r").cast("double")),
                F.col("b").cast("double"),
            )
            + F.lit(1e-9),
            4,
        )

    curve = cfg.select(
        "b",
        "r",
        F.round(
            F.pow(1.0 / F.col("b"), 1.0 / F.col("r")) + F.lit(1e-9), 4
        ).alias("threshold"),
        catch(0.5).alias("p_at_50"),
        catch(0.7).alias("p_at_70"),
        catch(0.9).alias("p_at_90"),
    )
    w = Window.orderBy(
        F.abs(F.col("threshold") - _LSH_PLAN_TARGET), F.col("b")
    )
    return curve.withColumn("pick", F.row_number().over(w)).select(
        F.col("b").cast("int").alias("b"),
        F.col("r").cast("int").alias("r"),
        "threshold",
        "p_at_50",
        "p_at_70",
        "p_at_90",
        (F.col("pick") == 1).alias("recommended"),
    )


@register(
    "simhash_fingerprint",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS tok FROM documents
), h AS (
  SELECT doc_id, {SQL_HASH32.format(c='tok')} AS hv FROM tok
), b AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
  FROM h, (SELECT unnest(generate_series(0, 15)) AS bit) bits
  GROUP BY doc_id, bit
)
SELECT doc_id,
       sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM b GROUP BY doc_id
""",
)
def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8: 16-bit SimHash fingerprint per document."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"), n_bits=16)


@register(
    "simhash_neardup",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS tok
  FROM documents
), h AS (
  SELECT doc_id, {SQL_HASH32.format(c='tok')} AS hv FROM tok
), b AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
  FROM h, (SELECT unnest(generate_series(0, 15)) AS bit) bits
  GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
  FROM b GROUP BY doc_id
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8: SimHash near-dup pairs (hamming ≤ 3) over the FULL corpus.
    The engine path is the banded equi-join (no crossJoin — see
    operators/dedup.simhash_neardup); the oracle stays the all-pairs
    spec, which the banded plan must equal exactly."""
    return dedup.simhash_neardup(
        load_table(spark, sf_dir, "documents"), max_hamming=3, n_bits=16
    )


_MINHASH_EST_CTE = f"""
docs AS (
  SELECT doc_id, list_distinct({SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({SQL_HASH32.format(c="w || '#' || seed")}) AS mh
  FROM tok, (SELECT unnest(generate_series(0, 15)) AS seed) seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         string_agg(mh::VARCHAR, '-' ORDER BY seed) AS band_sig
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
), est AS (
  SELECT c.left_id, c.right_id,
         round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
  FROM cand c
  JOIN h ha ON ha.doc_id = c.left_id
  JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
  GROUP BY c.left_id, c.right_id
)"""


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_MINHASH_EST_CTE},
edges AS (
  SELECT left_id AS a, right_id AS b FROM est WHERE est_jaccard >= 0.95
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM est WHERE est_jaccard >= 0.95
), reach AS (
  SELECT DISTINCT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
), labels AS (
  SELECT node, min(r) AS cluster_rep FROM reach GROUP BY node
)
SELECT l.node AS doc_id, l.cluster_rep, c.cluster_size
FROM labels l
JOIN (SELECT cluster_rep, count(*) AS cluster_size
      FROM labels GROUP BY cluster_rep) c USING (cluster_rep)
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 completion: MinHash-LSH candidate pairs → transitive
    near-dup CLUSTERS via cost-routed connected components
    (operators/cluster.py). The oracle is a DuckDB recursive CTE
    computing min-reachable-id per node — the same labels both routes
    produce. Keep/drop policy downstream is
    ``doc_id = cluster_rep``."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    edges = dedup.minhash_lsh_candidates(d, n_hashes=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.95
    )
    return clusterop.dedup_clusters(edges)


@register(
    "winnow_fingerprint",
    f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), pos AS (
  SELECT doc_id,
         len(toks) - 3 AS n_grams,
         i,
         {SQL_HASH32.format(c="array_to_string(toks[i:i+3], ' ')")} AS h
  FROM t, unnest(generate_series(1, len(toks) - 3)) AS s(i)
  WHERE len(toks) >= 4
), wmin AS (
  SELECT doc_id, i, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
  FROM pos
)
SELECT DISTINCT doc_id, fp
FROM wmin
WHERE i <= n_grams - 4
""",
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/V8: winnowing (MOSS) fingerprint sets — rolling k-gram
    hashes, per-window minima, distinct. k=4 tokens, window w=5.
    Position-robust overlap detection the flat md5 fingerprint
    can't do. Oracle mirrors the exact window-min semantics."""
    return textstats.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=4, w=5
    )


@register(
    "heavy_hitters",
    f"""
WITH tok AS (
  SELECT unnest({SQL_TOKS.format(c='text')}) AS token FROM documents
), tf AS (
  SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token
), tot AS (
  SELECT sum(cnt)::BIGINT AS total FROM tf
)
SELECT token, cnt,
       round(cnt::DOUBLE / total + 1e-12, 8) AS share
FROM tf, tot
WHERE cnt >= 50
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 scale op: corpus-wide heavy hitters (tokens with support
    >= 50) and their corpus share. explode -> hash agg is map-side
    combined (shuffle carries one row per distinct token per
    partition); the grand total rides a broadcast scalar, not a
    single-partition window."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    tot = tf.agg(F.sum("cnt").alias("total"))
    return (
        tf.filter(F.col("cnt") >= 50)
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") / F.col("total") + F.lit(1e-12), 8).alias("share"),
        )
    )


@register(
    "tfidf_topterms",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token
), n AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
  FROM tf JOIN df USING (token), n
), ranked AS (
  SELECT doc_id, token, tf,
         round(tfidf + 1e-9, 6) AS tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token ASC) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, tfidf, rnk::INT AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: per-document top-3 terms by smoothed TF-IDF
    (tf · ln((N+1)/(df+1))). Three map-side-combined hash aggs (tf,
    df, N), one broadcast of the token→df dimension... actually df is
    corpus-sized: the tf⋈df join hash-partitions on token, then one
    per-doc window ranks. Deterministic tie-break (tfidf desc, token
    asc)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("tfidf_raw"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_raw").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(F.col("tfidf_raw") + F.lit(1e-9), 6).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@register(
    "line_dedup",
    f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), ch AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i * 8) + 1:(i * 8) + 8], ' ') AS chunk
  FROM t, unnest(generate_series(0,
         CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS s(i)
), k AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM ch
), re AS (
  SELECT doc_id, count(*)::INT AS n_kept,
         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
  FROM k WHERE rn = 1 GROUP BY doc_id
), base AS (
  SELECT doc_id, count(*)::INT AS n_chunks FROM ch GROUP BY doc_id
)
SELECT b.doc_id, b.n_chunks,
       coalesce(r.n_kept, 0)::INT AS n_kept,
       coalesce(r.clean_text, '') AS clean_text
FROM base b LEFT JOIN re r ON b.doc_id = r.doc_id
""",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 [EXT]: C4-style line-level dedup (Raffel et al. 2020) — every
    8-token chunk occurrence after the corpus-wide first (by (doc_id,
    pos)) is removed and documents are reassembled from surviving
    chunks in order. One window hash-partitioned by chunk text + one
    per-doc collect; never corpus×corpus. The cross-document
    boilerplate strip whole-document exact dedup can't express."""
    return dedup.line_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_lm_score",
    f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), pos AS (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)
  WHERE len(toks) >= 2
), uni AS (
  SELECT w, count(*)::DOUBLE AS c
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
), tot AS (
  SELECT sum(c) AS n FROM uni
), bi AS (
  SELECT w1, w2, count(*)::DOUBLE AS c2 FROM pos GROUP BY w1, w2
), cont AS (
  SELECT w1, count(*)::DOUBLE AS n1p FROM bi GROUP BY w1
), sc AS (
  SELECT p.doc_id,
         ln((b.c2 - 0.75) / u1.c
            + (0.75 * ct.n1p / u1.c) * (u2.c / tot.n)) AS lp
  FROM pos p
  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
  JOIN uni u1 ON u1.w = p.w1
  JOIN cont ct ON ct.w1 = p.w1
  JOIN uni u2 ON u2.w = p.w2, tot
), agg AS (
  SELECT doc_id, count(*)::INT AS n_bigrams,
         round(avg(lp) + 1e-9, 4) AS avg_logprob
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_logprob, round(exp(-avg_logprob), 2) AS ppl
FROM agg
""",
)
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: CCNet-style corpus-LM quality score — bigram LM with
    absolute discounting (discounted bigram MLE interpolated with the
    unigram backoff, weighted by the history's distinct-continuation
    count) trained on the corpus itself; every document scored by mean
    token log-probability + perplexity, so singleton word salad scores
    low while frequent phrasing scores high. The LM tables are three
    map-side-combined hash aggs (vocab-sized, not corpus-sized);
    scoring is hash-partitioned equi-joins on (w1,w2)/w1/w2 — never
    corpus×corpus. ppl derives from the ROUNDED avg_logprob so both
    engines agree exactly."""
    return textstats.ngram_lm_score(load_table(spark, sf_dir, "documents"))


@register(
    "winnow_neardup",
    f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), pos AS (
  SELECT doc_id, len(toks) - 3 AS n_grams, i,
         {SQL_HASH32.format(c="array_to_string(toks[i:i+3], ' ')")} AS h
  FROM t, unnest(generate_series(1, len(toks) - 3)) AS s(i)
  WHERE len(toks) >= 4
), wmin AS (
  SELECT doc_id, i, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
  FROM pos
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= n_grams - 4
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*)::BIGINT AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 5
""",
)
def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 via winnowing: near-dup candidates = pairs sharing >= 5
    winnowing fingerprints. The fingerprint-equality self-join is a
    posting-list join (hash-partitioned on fp) — candidate volume is
    sum of freq(fp)^2 over fingerprints, never corpus^2; winnowing
    keeps ~1/w of gram positions so the posting lists stay sparse."""
    # Persist: both self-join sides consume the fingerprint pipeline
    # (two Window passes + per-gram hash — the dominant cost); without
    # the cache it runs twice. Tracked in dedup._PERSISTED so bench /
    # long-lived sessions release it after materializing.
    fps = textstats.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=4, w=5
    ).persist()
    dedup._PERSISTED.append(fps)
    a = fps.select(F.col("doc_id").alias("left_id"), "fp")
    b = fps.select(F.col("doc_id").alias("right_id"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


@register(
    "decontaminate",
    f"""
WITH span AS (
  SELECT (4 * (max(doc_id) + 1)) // 5 AS cutoff FROM documents
), t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), grams AS (
  SELECT doc_id,
         {SQL_HASH32.format(c="array_to_string(toks[i:i+7], ' ')")} AS g
  FROM t, unnest(generate_series(1, len(toks) - 7)) AS s(i)
  WHERE len(toks) >= 8
), bench AS (
  SELECT DISTINCT g FROM grams, span WHERE doc_id >= cutoff
), train AS (
  SELECT doc_id, g FROM grams, span WHERE doc_id < cutoff
)
SELECT tr.doc_id, count(DISTINCT tr.g)::BIGINT AS n_hits
FROM train tr JOIN bench b ON tr.g = b.g
GROUP BY tr.doc_id
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] benchmark decontamination (the GPT-3/C4 n-gram collision
    method): flag training documents sharing any 8-token gram with
    the held-out benchmark set. The train/bench split is derived
    from the corpus SPAN — the last 20% of doc ids stand in for the
    benchmark — rather than a fixed id window: the r9 selfcheck
    showed a fixed 400-480 window goes vacuous at sf0.1 (the 5,000-
    doc corpus's first 480 docs share no 8-gram, so the operator was
    exercised by zero rows at that scale); the proportional split
    keeps real collisions at every sf (measured: 9 / 8 / 82 flagged
    docs at sf0.001/0.01/0.1).
    Gram hashes meet in an equi-join against the DISTINCT benchmark
    gram set — at scale the benchmark side is small and broadcasts;
    candidate volume is posting-list bound, never corpus x benchmark
    text. The cutoff is a 1-row broadcast (no collect). Output:
    flagged doc_id + distinct colliding gram count."""
    d = load_table(spark, sf_dir, "documents")
    span = d.agg(
        ((F.max("doc_id") + F.lit(1)) * F.lit(4))
        .cast("bigint")
        .alias("_c4")
    ).select(F.expr("_c4 div 5").alias("cutoff"))
    tok_pos = d.select(
        "doc_id", F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("i", "tok")
    )
    from pyspark.sql import Window

    from resume_jd_matcher_spark.functions.text import hash32

    by_pos = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("tok")] + [F.lead("tok", j).over(by_pos) for j in range(1, 8)]
    grams = (
        tok_pos.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", 7).over(by_pos).isNotNull().alias("full"),
        )
        .filter(F.col("full"))
        .select("doc_id", hash32(F.col("gram")).alias("g"))
        .crossJoin(F.broadcast(span))  # 1-row cutoff scalar
    )
    bench = (
        grams.filter(F.col("doc_id") >= F.col("cutoff"))
        .select("g")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") < F.col("cutoff")).select("doc_id", "g")
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )


@register(
    "ensemble_neardup",
    f"""
WITH {_MINHASH_EST_CTE},
mh_pairs AS (
  SELECT left_id, right_id FROM est WHERE est_jaccard >= 0.7
), stok AS (
  SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS tok
  FROM documents WHERE doc_id < 200
), sh_h AS (
  SELECT doc_id, {SQL_HASH32.format(c='tok')} AS hv FROM stok
), sh_b AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
  FROM sh_h, (SELECT unnest(generate_series(0, 15)) AS bit) bits
  GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
  FROM sh_b GROUP BY doc_id
), sh_pairs AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
), fp AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS f
  FROM documents WHERE doc_id < 200
), fp_pairs AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
), votes AS (
  SELECT left_id, right_id, 'minhash' AS sig FROM mh_pairs
  UNION ALL SELECT left_id, right_id, 'simhash' FROM sh_pairs
  UNION ALL SELECT left_id, right_id, 'exact' FROM fp_pairs
)
SELECT left_id, right_id, count(*)::BIGINT AS n_votes
FROM votes GROUP BY left_id, right_id
HAVING count(*) >= 2
""",
)
def q_ensemble_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 ensemble: near-dup pairs confirmed by >= 2 independent
    signals — MinHash-LSH (token-set Jaccard), SimHash (frequency-
    weighted bit fingerprint), exact normalized-md5. Each signal is
    its own scale-safe candidate path (banded equi-joins); the vote is
    one union + hash agg. Ensembling kills each method's
    false-positive mode (LSH band collisions, SimHash short-doc
    noise) without an O(N²) verify pass.

    The filtered document scan feeds all THREE signal paths, so it is
    persisted once (tracked in dedup._PERSISTED for release by bench /
    long-lived sessions). MinHash and SimHash additionally share ONE
    exploded + occurrence-counted token grain (r7: previously each
    signal re-tokenized the persisted docs independently — the r6
    bench adjudication's one remaining saving): the grain's distinct
    (doc, tok) keys are exactly MinHash's distinct-token universe, and
    its counts are exactly SimHash's occurrence weights, so both
    signals are bit-identical to their standalone forms."""
    from resume_jd_matcher_spark.functions.text import tokens as _tokens
    from resume_jd_matcher_spark.plans.optimize import ensure_parallelism

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
        .persist()
    )
    dedup._PERSISTED.append(d)
    grain = (
        ensure_parallelism(d)
        .select("doc_id", F.explode(_tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    dedup._PERSISTED.append(grain)
    mh = (
        dedup.minhash_lsh_candidates_from_tokens(
            grain.select("doc_id", "tok"), n_hashes=16, rows_per_band=4
        )
        .filter(F.col("est_jaccard") >= 0.7)
        .select("left_id", "right_id")
    )
    sh_fp = dedup.simhash_from_counted(grain, n_bits=16).persist()
    dedup._PERSISTED.append(sh_fp)
    sh = dedup.simhash_pairs(sh_fp, max_hamming=3, n_bits=16).select(
        "left_id", "right_id"
    )
    fp_pairs = (
        d.select("doc_id", dedup.fingerprint_md5("text").alias("f"))
        .alias("a")
        .join(
            d.select(F.col("doc_id").alias("rid"), dedup.fingerprint_md5("text").alias("f")).alias("b"),
            "f",
        )
        .filter(F.col("doc_id") < F.col("rid"))
        .select(F.col("doc_id").alias("left_id"), F.col("rid").alias("right_id"))
    )
    votes = (
        mh.withColumn("sig", F.lit("minhash"))
        .unionByName(sh.withColumn("sig", F.lit("simhash")))
        .unionByName(fp_pairs.withColumn("sig", F.lit("exact")))
    )
    return (
        votes.groupBy("left_id", "right_id")
        .agg(F.count("*").alias("n_votes"))
        .filter(F.col("n_votes") >= 2)
    )


@register(
    "rolling_fingerprint",
    f"""
WITH t AS (
  SELECT doc_id,
         {SQL_TOKS.format(c='text')} AS toks,
         {SQL_TOKS.format(c='text')} AS toks2
  FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(toks, tok -> {SQL_HASH32.format(c='tok')})),
         (acc, h) -> (acc * 1000003 + h) % 2147483647
       ) AS rh,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(list_sort(toks2), tok -> {SQL_HASH32.format(c='tok')})),
         (acc, h) -> (acc * 1000003 + h) % 2147483647
       ) AS rh_sorted
FROM t
""",
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: ORDER-SENSITIVE document fingerprint — polynomial rolling
    hash folded over the token stream (functions/text.rolling_hash).
    The companion column hashes the SORTED token stream: rh equal but
    rh_sorted equal too means same bag of words; rh different with
    rh_sorted equal isolates pure reorderings — the signal the md5
    normalization fingerprint can't see. Pure fold, zero shuffle."""
    from resume_jd_matcher_spark.functions.text import hash32, rolling_hash, tokens as tokfn

    d = load_table(spark, sf_dir, "documents")
    sorted_fold = F.aggregate(
        F.array_sort(tokfn("text")),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 1000003 + hash32(t)) % (2**31 - 1),
    )
    return d.select(
        "doc_id",
        rolling_hash("text").alias("rh"),
        sorted_fold.alias("rh_sorted"),
    )


@register(
    "lang_confusion",
    f"""
WITH t AS (
  SELECT doc_id, lang, {SQL_TOKS.format(c='text')} AS toks FROM documents
), s AS (
  SELECT doc_id, lang, toks,
         greatest(
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['de'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['en'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['es'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['fr'])!r})),
           len(list_filter(toks, x -> x IN {tuple(textstats.LANG_MARKERS['zh'])!r}))
         ) AS best
  FROM t
), p AS (
  SELECT lang AS labeled_lang, CASE {_LANG_CASE} END AS predicted_lang FROM s
)
SELECT labeled_lang, predicted_lang, count(*)::BIGINT AS n
FROM p GROUP BY labeled_lang, predicted_lang
""",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: language-ID confusion matrix (labeled × predicted counts) —
    the classifier-evaluation view of the marker heuristic; one hash
    agg over the per-doc predictions."""
    pred = textstats.language_id(load_table(spark, sf_dir, "documents"))
    return pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n")
    )


@register(
    "cms_heavy_hitters",
    f"""
WITH tok AS (
  SELECT unnest({SQL_TOKS.format(c='text')}) AS token FROM documents
), seeds AS (
  SELECT unnest(range(0, 4)) AS seed
), cells AS (
  SELECT seed,
         {SQL_HASH32.format(c="token || '#' || seed")} % 128 AS col,
         count(*)::BIGINT AS cnt
  FROM tok, seeds GROUP BY 1, 2
), probes AS (
  SELECT DISTINCT token FROM tok
), pcell AS (
  SELECT p.token, s.seed,
         {SQL_HASH32.format(c="p.token || '#' || s.seed")} % 128 AS col
  FROM probes p, seeds s
), est AS (
  SELECT p.token, min(c.cnt)::BIGINT AS est_count
  FROM pcell p JOIN cells c USING (seed, col)
  GROUP BY p.token
)
SELECT token, est_count FROM est
ORDER BY est_count DESC, token LIMIT 20
""",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sketch-based heavy hitters: a d=4 × w=128 count-min
    sketch built in one map-side-combined pass, then every distinct
    token point-queried against the broadcast sketch; top-20 by
    estimated count (ties broken by token). The exact counterpart is
    the registered ``heavy_hitters`` query — the sketch trades a
    bounded over-estimate for O(d×w) shuffle instead of
    O(distinct tokens)."""
    from resume_jd_matcher_spark.operators.textstats import (
        cms_estimate,
        cms_sketch,
    )

    d = load_table(spark, sf_dir, "documents")
    sketch = cms_sketch(d, d=4, w=128)
    probes = d.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    ).distinct()
    est = cms_estimate(sketch, probes, d=4, w=128)
    return est.orderBy(F.col("est_count").desc(), "token").limit(20)


def _pagerank_sql(n_iter: int = 3, thresh: float = 0.5, dp: int = 8) -> str:
    """MinHash-LSH edge CTEs (same chain as the minhash_lsh oracle)
    + an unrolled deterministic PageRank: per-iteration rounding to
    ``dp``, no dangling redistribution — mirrors
    operators/cluster.pagerank exactly."""
    head = f"""WITH docs AS (
  SELECT doc_id, list_distinct({SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({SQL_HASH32.format(c="w || '#' || seed")}) AS mh
  FROM tok, (SELECT unnest(generate_series(0, 15)) AS seed) seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         string_agg(mh::VARCHAR, '-' ORDER BY seed) AS band_sig
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
), est AS (
  SELECT c.left_id, c.right_id,
         round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4) AS ej
  FROM cand c
  JOIN h ha ON ha.doc_id = c.left_id
  JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
  GROUP BY c.left_id, c.right_id
), edges AS (
  SELECT left_id AS src, right_id AS dst FROM est WHERE ej >= {thresh}
  UNION ALL
  SELECT right_id AS src, left_id AS dst FROM est WHERE ej >= {thresh}
), nn AS (
  SELECT count(*)::DOUBLE AS n FROM docs
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT d.doc_id AS node, round(1.0 / nn.n, {dp}) AS pr
  FROM docs d CROSS JOIN nn
)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(
            f""", r{i} AS (
  SELECT d.doc_id AS node,
         round((1 - 0.85::DOUBLE) / nn.n
               + 0.85::DOUBLE * coalesce(s.c, 0), {dp}) AS pr
  FROM docs d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, sum(r.pr / deg.deg) AS c
    FROM edges e
    JOIN r{i - 1} r ON r.node = e.src
    JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = d.doc_id
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT node AS doc_id, round(pr + 1e-9, 6) AS pr FROM r{n_iter}
"""
    )


@register("pagerank_neardup", _pagerank_sql())
def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] template-hub centrality: deterministic fixed-iteration
    PageRank over the symmetrized MinHash near-dup graph. Cluster
    resolution answers "which group is this doc in"; centrality
    answers "which document IS the template" — the boilerplate a
    curation pass should inspect first. Same oracle discipline as the
    Lloyd twin: 3 iterations, per-iteration rounding, trajectory
    replayed as unrolled CTEs (operators/cluster.py:pagerank)."""
    from resume_jd_matcher_spark.operators import cluster as clusterop
    from resume_jd_matcher_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(d, n_hashes=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    # symmetrize in ONE pass over the candidate pipeline (a union of
    # two selects would run the whole MinHash DAG twice)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("left_id").alias("src"),
                    F.col("right_id").alias("dst"),
                ),
                F.struct(
                    F.col("right_id").alias("src"),
                    F.col("left_id").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    pr = clusterop.pagerank(edges, d.select("doc_id"), n_iter=3)
    return pr.select(
        "doc_id", F.round(F.col("pr") + F.lit(1e-9), 6).alias("pr")
    )


@register(
    "bloom_contamination",
    f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), grams AS (
  SELECT doc_id,
         {SQL_HASH32.format(c="array_to_string(toks[i:i+7], ' ')")} AS g
  FROM t, unnest(generate_series(1, len(toks) - 7)) AS s(i)
  WHERE len(toks) >= 8
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id >= 400 AND doc_id < 480
), bloom AS (
  SELECT DISTINCT
         {SQL_HASH32.format(c="g::VARCHAR || '#' || seed")} % 4096 AS pos
  FROM bench
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS seed) s
), train AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE doc_id < 400
), probe AS (
  SELECT tr.doc_id, tr.g, count(*) AS k_hit
  FROM train tr
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS seed) s
  JOIN bloom b
    ON {SQL_HASH32.format(c="tr.g::VARCHAR || '#' || s.seed")} % 4096 = b.pos
  GROUP BY tr.doc_id, tr.g
)
SELECT doc_id, count(*)::BIGINT AS n_bloom_hits
FROM probe WHERE k_hit = 3
GROUP BY doc_id
""",
)
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] bloom-filter contamination screen: the benchmark set's
    8-gram hashes build a 4096-bit/3-hash bloom (<= m_bits rows,
    broadcast); training docs keep grams whose every position is set.
    The sketch sibling of the exact `decontaminate` equi-join — same
    flags plus a bounded false-positive tail, at a broadcast cost
    independent of benchmark size. Deterministic hash family -> the
    whole bitset and every probe replay in the oracle
    (operators/textstats.py:bloom_build/bloom_probe)."""
    from pyspark.sql import Window

    from resume_jd_matcher_spark.functions.text import hash32
    from resume_jd_matcher_spark.operators.textstats import (
        bloom_build,
        bloom_probe,
    )

    d = load_table(spark, sf_dir, "documents")
    tok_pos = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("i", "tok"),
    )
    by_pos = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("tok")] + [F.lead("tok", j).over(by_pos) for j in range(1, 8)]
    grams = (
        tok_pos.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", 7).over(by_pos).isNotNull().alias("full"),
        )
        .filter(F.col("full"))
        .select("doc_id", hash32(F.col("gram")).alias("g"))
    )
    bench = (
        grams.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 480))
        .select("g")
        .distinct()
    )
    bloom = bloom_build(bench, "g", m_bits=4096, k_hashes=3)
    train = grams.filter(F.col("doc_id") < 400).distinct()
    flagged = bloom_probe(train, "g", bloom, m_bits=4096, k_hashes=3)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_bloom_hits")
    )


@register(
    "token_entropy",
    f"""
WITH tf AS (
  SELECT doc_id, w, count(*)::DOUBLE AS c
  FROM (SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS w FROM documents)
  GROUP BY doc_id, w
), n AS (
  SELECT doc_id, sum(c) AS n_tok, count(*)::INT AS n_distinct
  FROM tf GROUP BY doc_id
), h AS (
  SELECT tf.doc_id,
         sum(-(tf.c / n.n_tok) * ln(tf.c / n.n_tok)) AS ent
  FROM tf JOIN n USING (doc_id) GROUP BY tf.doc_id
)
SELECT n.doc_id, n.n_tok::INT AS n_tokens, n.n_distinct,
       round(h.ent + 1e-9, 4) AS entropy,
       round(CASE WHEN n.n_distinct > 1 THEN h.ent / ln(n.n_distinct)
                  ELSE 0.0 END + 1e-9, 4) AS norm_entropy
FROM n JOIN h ON n.doc_id = h.doc_id
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: per-document token-distribution Shannon entropy +
    ln(n_distinct)-normalized form — the standard low-entropy spam
    screen (repeated-token filler scores ~0, diverse prose ~1).
    explode → two map-side-combined hash aggs, nothing
    cross-document."""
    return textstats.token_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "pmi_collocations",
    f"""
WITH t AS (
  SELECT {SQL_TOKS.format(c='text')} AS toks FROM documents
), pairs AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)
  WHERE len(toks) >= 2
), big AS (
  SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY w1, w2
), uc AS (
  SELECT tok, count(*)::BIGINT AS c
  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
), tot AS (
  SELECT (SELECT sum(c12)::BIGINT FROM big) AS b_total,
         (SELECT sum(c)::BIGINT FROM uc) AS t_total
), scored AS (
  SELECT w1, w2, c12,
         ln((c12::DOUBLE / b_total::DOUBLE)
            / ((u1.c::DOUBLE / t_total::DOUBLE)
               * (u2.c::DOUBLE / t_total::DOUBLE))) AS pmi_raw
  FROM big
  JOIN uc u1 ON big.w1 = u1.tok
  JOIN uc u2 ON big.w2 = u2.tok, tot
  WHERE c12 >= 25
)
SELECT w1, w2, c12, round(pmi_raw + 1e-9, 6) AS pmi
FROM scored ORDER BY pmi_raw DESC, w1, w2 LIMIT 20
""",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 text analytics: top-20 adjacent-bigram collocations by PMI
    (Church & Hanks 1990), min-count 25. Hash-agg counts, vocab-sized
    unigram joins, one single-row broadcast for the two totals,
    TakeOrderedAndProject top-k."""
    return textstats.pmi_collocations(
        load_table(spark, sf_dir, "documents"), min_count=25, k=20
    )


@register(
    "quality_classifier",
    f"""
WITH w AS (
  SELECT i::INT AS bucket,
         ((('0x' || substr(md5('qw#' || i), 1, 8))::BIGINT % 2001) - 1000)::DOUBLE
           / 1000.0 AS weight
  FROM unnest(generate_series(0, 255)) AS s(i)
), tok AS (
  SELECT doc_id,
         (('0x' || substr(md5(t), 1, 8))::BIGINT % 256)::INT AS bucket
  FROM (SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS t FROM documents)
), sc AS (
  SELECT doc_id, count(*)::INT AS n_tokens,
         sum(weight) / count(*) + -0.05 AS logit_raw
  FROM tok JOIN w USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(logit_raw + 1e-9, 6) AS logit,
       round(1.0 / (1.0 + exp(-logit_raw)) + 1e-9, 6) AS prob,
       (1.0 / (1.0 + exp(-logit_raw)) > 0.5)::INT AS keep
FROM sc
""",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 training-data op: fastText-style hashed bag-of-words linear
    quality classifier (the GPT-3/LLaMA model-based quality filter
    shape) — deterministic weight table broadcast into a bucket
    equi-join, one map-side-combined per-doc mean, sigmoid in-query.
    The dataflow is the contract; a trained model swaps in by
    replacing the 256-row weight table."""
    from resume_jd_matcher_spark.operators.quality import (
        classifier_weights,
        quality_classifier,
    )

    return quality_classifier(
        load_table(spark, sf_dir, "documents"),
        classifier_weights(spark, 256),
        n_buckets=256,
    )


def _triangles_sql(thresh: float = 0.5) -> str:
    """MinHash-LSH edge CTEs (same chain as the minhash_lsh /
    pagerank oracles) + compact-forward triangle census."""
    return f"""WITH docs AS (
  SELECT doc_id, list_distinct({SQL_TOKS.format(c='text')}) AS words
  FROM documents WHERE doc_id < 200
), tok AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), h AS (
  SELECT doc_id, seed,
         min({SQL_HASH32.format(c="w || '#' || seed")}) AS mh
  FROM tok, (SELECT unnest(generate_series(0, 15)) AS seed) seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band_id,
         string_agg(mh::VARCHAR, '-' ORDER BY seed) AS band_sig
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
), est AS (
  SELECT c.left_id, c.right_id,
         round(avg(CASE WHEN ha.mh = hb.mh THEN 1.0 ELSE 0.0 END), 4) AS ej
  FROM cand c
  JOIN h ha ON ha.doc_id = c.left_id
  JOIN h hb ON hb.doc_id = c.right_id AND hb.seed = ha.seed
  GROUP BY c.left_id, c.right_id
), e AS (
  SELECT left_id AS a, right_id AS b FROM est WHERE ej >= {thresh}
), deg AS (
  SELECT v, count(*) AS deg
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v
), base AS (
  SELECT count(*)::BIGINT AS n_nodes,
         (sum(deg) / 2)::BIGINT AS n_edges,
         (sum(deg * (deg - 1)) / 2)::BIGINT AS n_wedges
  FROM deg
), tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles / nullif(n_wedges::DOUBLE, 0.0) + 1e-9, 6)
         AS clustering
FROM base, tri
"""


@register("graph_triangles", _triangles_sql())
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] triangle census + global clustering coefficient of the
    MinHash near-dup graph (compact-forward, two hash equi-joins —
    never a neighborhood crossJoin). Distinguishes dense template
    blobs (clustering→1) from LSH-transitivity chains (clustering→0)
    — the graph-shape diagnostic run before trusting cluster-level
    dedup decisions. Completes the graph family (connected
    components, PageRank, triangles)."""
    from resume_jd_matcher_spark.operators import cluster as clusterop
    from resume_jd_matcher_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.minhash_lsh_candidates(d, n_hashes=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    return clusterop.triangle_stats(pairs)


@register(
    "psi_drift",
    f"""
WITH tk AS (
  SELECT (lang = 'en') AS is_a, unnest({SQL_TOKS.format(c='text')}) AS tok
  FROM documents
), counts AS (
  SELECT tok, sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cb
  FROM tk GROUP BY tok
), ranked AS (
  SELECT tok, ca, cb,
         row_number() OVER (ORDER BY ca + cb DESC, tok) AS rn
  FROM counts
), vocab AS (
  SELECT tok, ca, cb FROM ranked WHERE rn <= 100 AND ca > 0 AND cb > 0
), tot AS (
  SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb FROM vocab
)
SELECT tok AS token,
       round(ca::DOUBLE / ta, 6) AS p_left,
       round(cb::DOUBLE / tb, 6) AS p_right,
       round((ca::DOUBLE / ta - cb::DOUBLE / tb)
             * ln((ca::DOUBLE / ta) / (cb::DOUBLE / tb)), 6) AS psi_term
FROM vocab, tot
""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: population-stability-index drift monitor — per-token
    PSI terms between the English slice and the rest of the corpus
    over the top-100 shared tokens. The categorical-drift check a
    pipeline runs when a new crawl/day lands, next to embedding_drift's
    vector-space version; per-term output keeps the heaviest movers
    inspectable and avoids exposing a cross-row float sum
    (operators/textstats.py:psi_drift)."""
    from resume_jd_matcher_spark.operators.textstats import psi_drift

    return psi_drift(
        load_table(spark, sf_dir, "documents"), "lang", "en", top_n=100
    )


@register(
    "containment_neardup",
    f"""
WITH w AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS w
  FROM documents WHERE doc_id < 400
), t AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(w)-2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [] END AS sh
  FROM w
), e AS (
  SELECT doc_id, unnest(sh) AS shingle FROM t WHERE len(sh) > 0
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id
), i AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS i
  FROM e a JOIN e b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT left_id, right_id,
       round(i::DOUBLE / least(sa.n_sh, sb.n_sh), 4) AS containment
FROM i
JOIN sz sa ON sa.doc_id = left_id
JOIN sz sb ON sb.doc_id = right_id
WHERE round(i::DOUBLE / least(sa.n_sh, sb.n_sh), 4) >= 0.2
""",
)
def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 [EXT]: overlap-coefficient (containment) near-dup pairs —
    n_inter / min(|A|,|B|) over distinct 3-gram shingles. The
    asymmetric companion of ngram_jaccard: a short document pasted
    inside a long one scores ~1 here while its Jaccard stays tiny, so
    this catches subset duplication (quote farms, chunk-of-a-book
    docs). Same shared-shingle equi-join shape — candidates never
    corpus² (operators/dedup.py:ngram_containment_join)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return dedup.ngram_containment_join(d, n=3, min_containment=0.2)


@register(
    "minhash_pr_eval",
    f"""
WITH {_MINHASH_EST_CTE},
pred AS (
  SELECT left_id, right_id FROM est WHERE est_jaccard >= 0.5
), sz AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM tok GROUP BY doc_id
), it AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*)::BIGINT AS i
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT left_id, right_id
  FROM it
  JOIN sz sa ON sa.doc_id = left_id
  JOIN sz sb ON sb.doc_id = right_id
  WHERE round(i::DOUBLE / (sa.n + sb.n - i), 4) >= 0.5
), u AS (
  SELECT coalesce(t.left_id, p.left_id) AS l,
         coalesce(t.right_id, p.right_id) AS r,
         (t.left_id IS NOT NULL)::INT AS is_true,
         (p.left_id IS NOT NULL)::INT AS is_pred
  FROM truth t
  FULL OUTER JOIN pred p
    ON t.left_id = p.left_id AND t.right_id = p.right_id
)
SELECT sum(is_true)::BIGINT AS n_true,
       sum(is_pred)::BIGINT AS n_pred,
       sum(is_true * is_pred)::BIGINT AS n_hit,
       round(sum(is_true * is_pred)::DOUBLE / nullif(sum(is_pred), 0), 4)
         AS precision,
       round(sum(is_true * is_pred)::DOUBLE / nullif(sum(is_true), 0), 4)
         AS recall
FROM u
""",
)
def q_minhash_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 eval [EXT]: precision/recall of the MinHash-LSH near-dup
    screen (est_jaccard ≥ 0.5) against the EXACT token-set Jaccard
    ground truth at the same threshold — the promotion gate a pipeline
    runs before trusting the sketch path. Both rankings build in one plan; the comparison is a
    full-outer pair join + one agg — no collect."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pred = dedup.minhash_lsh_candidates(d, n_hashes=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    ).select("left_id", "right_id", F.lit(1).alias("is_pred"))
    truth = dedup.ngram_jaccard_join(d, n=1, min_jaccard=0.0).filter(
        F.col("jaccard") >= 0.5
    ).select("left_id", "right_id", F.lit(1).alias("is_true"))
    u = truth.join(pred, ["left_id", "right_id"], "full_outer").select(
        F.coalesce("is_true", F.lit(0)).alias("is_true"),
        F.coalesce("is_pred", F.lit(0)).alias("is_pred"),
    )
    hit = F.sum(F.col("is_true") * F.col("is_pred"))
    return u.agg(
        F.sum("is_true").cast("bigint").alias("n_true"),
        F.sum("is_pred").cast("bigint").alias("n_pred"),
        hit.cast("bigint").alias("n_hit"),
        F.round(
            hit.cast("double") / F.nullif(F.sum("is_pred"), F.lit(0)), 4
        ).alias("precision"),
        F.round(
            hit.cast("double") / F.nullif(F.sum("is_true"), F.lit(0)), 4
        ).alias("recall"),
    )


def _bpe_oracle(n_merges: int = 6) -> str:
    """Unrolled BPE oracle: each step counts adjacent symbol pairs over
    the current vocab, picks the (count desc, a, b) argmax, and applies
    it with the same delimiter-bounded replace() the engine uses."""
    toks = SQL_TOKS.format(c="text")
    parts = [
        f"""WITH v0 AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS cnt,
         regexp_replace(w, '(.)', '·\\1·', 'g') AS sym
  FROM (SELECT unnest({toks}) AS w FROM documents) t
  WHERE regexp_matches(w, '^[a-z0-9]+$')
  GROUP BY w
)"""
    ]
    for s in range(1, n_merges + 1):
        parts.append(
            f""", p{s} AS MATERIALIZED (
  SELECT arr[i] AS a, arr[i + 1] AS b, sum(cnt)::BIGINT AS n
  FROM (SELECT cnt, string_split(trim(sym, '·'), '··') AS arr FROM v{s - 1}) s,
       unnest(generate_series(1, len(arr) - 1)) AS t(i)
  GROUP BY 1, 2
), b{s} AS MATERIALIZED (
  SELECT {s} AS step, a, b, a || b AS merged, n
  FROM p{s} ORDER BY n DESC, a, b LIMIT 1
), v{s} AS MATERIALIZED (
  SELECT w, cnt,
         replace(sym,
                 '·' || (SELECT a FROM b{s}) || '··' || (SELECT b FROM b{s}) || '·',
                 '·' || (SELECT merged FROM b{s}) || '·') AS sym
  FROM v{s - 1}
)"""
        )
    sel = " UNION ALL ".join(
        f"SELECT step, a AS left_sym, b AS right_sym, merged, n AS pair_count FROM b{s}"
        for s in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n" + sel


def _bpe_encode_oracle(n_merges: int = 6) -> str:
    """Encode oracle: re-learn the merge trajectory (same CTE chain as
    _bpe_oracle), then encode by word-type lookup against the final
    vocabulary — symbol counts summed per document."""
    learn = _bpe_oracle(n_merges)
    # strip the final merges SELECT; keep the WITH chain through v{n}
    chain = learn[: learn.rindex("\nSELECT")]
    toks = SQL_TOKS.format(c="text")
    return f"""{chain}
, lkp AS MATERIALIZED (
  SELECT w, len(string_split(trim(sym, '·'), '··'))::BIGINT AS n_sym
  FROM v{n_merges}
), words AS (
  SELECT doc_id, unnest({toks}) AS w FROM documents
)
SELECT wd.doc_id, count(*)::BIGINT AS n_words,
       sum(l.n_sym)::BIGINT AS n_symbols,
       round(sum(l.n_sym)::DOUBLE / count(*), 4) AS symbols_per_word
FROM words wd JOIN lkp l ON wd.w = l.w
GROUP BY wd.doc_id"""


@register("bpe_merges", _bpe_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: BPE tokenizer-vocabulary learning (Sennrich et al.
    2016) — the top-6 merge rules over the corpus word-type frequency
    table. One corpus-scale agg builds the vocab; every iteration then
    touches only the vocab-sized table (map-side-combined pair counts
    + a 1-row argmax), with merges applied via delimiter-bounded
    native replace() — BPE's exact left-to-right convention, no
    per-row Python (operators/textstats.py:bpe_learn_merges)."""
    from resume_jd_matcher_spark.operators.textstats import bpe_learn_merges

    return bpe_learn_merges(load_table(spark, sf_dir, "documents"), n_merges=6)


@register("bpe_encode_stats", _bpe_encode_oracle())
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: the encode half of the BPE loop — apply the learned
    merges and measure tokenizer fertility (symbols per word) per
    document. Encoding is a broadcast word-type lookup (word → symbol
    count), exactly how production tokenizers amortize merges: the
    corpus is never re-merged per occurrence
    (operators/textstats.py:bpe_encode_stats)."""
    from resume_jd_matcher_spark.operators.textstats import bpe_encode_stats

    return bpe_encode_stats(load_table(spark, sf_dir, "documents"), n_merges=6)


@register(
    "tfidf_cosine_pairs",
    f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
), tok AS (
  SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS token FROM d
), tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token
), nn AS (
  SELECT count(*)::BIGINT AS n FROM d
), w AS (
  SELECT tf.doc_id, tf.token,
         tf.tf::DOUBLE * ln((nn.n + 1.0) / (dfreq.df + 1.0)) AS w
  FROM tf JOIN dfreq USING (token), nn
  WHERE dfreq.df <= 100
), norms AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT left_id, right_id,
       round(dot / (na.nrm * nb.nrm) + 1e-9, 4) AS cos_sim
FROM dots
JOIN norms na ON na.doc_id = left_id
JOIN norms nb ON nb.doc_id = right_id
WHERE round(dot / (na.nrm * nb.nrm) + 1e-9, 4) >= 0.5
""",
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: sparse TF-IDF cosine similarity join — documents as
    inverted-index-weighted bag-of-words vectors, pairwise cosine via
    a df-capped posting-list self-join (candidates driven by token
    document frequency, never corpus²). The lexical document-
    similarity join: catches topical/paraphrase pairs that exact
    shingle dedup misses and dense embeddings need a model for
    (operators/retrieval.py:tfidf_cosine_pairs)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    from resume_jd_matcher_spark.operators.retrieval import tfidf_cosine_pairs

    return tfidf_cosine_pairs(d, min_cosine=0.5, max_df=100)


@register(
    "quality_aware_dedup",
    f"""
WITH RECURSIVE {_MINHASH_EST_CTE},
edges AS (
  SELECT left_id AS a, right_id AS b FROM est WHERE est_jaccard >= 0.95
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM est WHERE est_jaccard >= 0.95
), reach AS (
  SELECT DISTINCT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN edges e ON e.a = reach.node
), labels AS (
  SELECT node, min(r) AS cluster_rep FROM reach GROUP BY node
), q AS (
  SELECT l.node AS doc_id, l.cluster_rep,
         (length(d.text) - length(replace(d.text, ' ', '')) + 1)::BIGINT
           AS n_tokens
  FROM labels l JOIN documents d ON d.doc_id = l.node
), ranked AS (
  SELECT doc_id, cluster_rep, n_tokens,
         row_number() OVER (PARTITION BY cluster_rep
                            ORDER BY n_tokens DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
  FROM q
)
SELECT doc_id, cluster_rep, n_tokens,
       cluster_size::BIGINT AS cluster_size,
       (rn = 1)::INT AS keep
FROM ranked
""",
)
def q_quality_aware_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 policy [EXT]: quality-aware near-dup winner selection — keep
    the LONGEST member of each near-dup cluster (richest copy) instead
    of the arbitrary lowest id. The keep/drop policy real curation
    pipelines want: min-id keeps whichever crawl arrived first; this
    ranks cluster members by a quality signal (token count here; any
    scorer plugs into the same window) with a deterministic id
    tie-break. One extra per-cluster rank window over the
    connected-components labels — cluster-sized partitions, never
    corpus-wide."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    edges = dedup.minhash_lsh_candidates(d, n_hashes=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.95
    )
    labels = clusterop.connected_components(edges).select(
        F.col("node").alias("doc_id"), "cluster_rep"
    )
    # token count via the whitespace-gap identity (length - spaces + 1)
    # so the oracle reproduces it with pure string functions
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + 1
        ).cast("bigint").alias("n_tokens"),
    )
    q = labels.join(toks, "doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    ws = Window.partitionBy("cluster_rep")
    return q.select(
        "doc_id",
        "cluster_rep",
        "n_tokens",
        F.count("*").over(ws).cast("bigint").alias("cluster_size"),
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )


@register(
    "corpus_health_scorecard",
    f"""
WITH t AS (
  SELECT doc_id, source, text,
         {SQL_TOKS.format(c='text')} AS toks,
         length(text) AS nc,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), q AS (
  SELECT doc_id, source, fp,
         len(toks) AS ntok,
         len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE
           / nullif(len(toks), 0) AS stop_r,
         len(regexp_extract_all(text, '[0-9]'))::DOUBLE
           / nullif(nc, 0) AS digit_r
  FROM t
), scored AS (
  SELECT doc_id, source, fp, ntok,
         round(0.5 * least(ntok::DOUBLE / 100.0, 1.0)
             + 0.3 * (1.0 - least(stop_r * 2.0, 1.0))
             + 0.2 * (1.0 - least(digit_r * 10.0, 1.0)) + 1e-9, 4) AS quality
  FROM q
), fpc AS (
  SELECT fp, count(*)::BIGINT AS n FROM scored GROUP BY fp
)
SELECT s.source,
       count(*)::BIGINT AS n_docs,
       round(avg(s.quality) + 1e-9, 4) AS mean_quality,
       round(avg(s.ntok) + 1e-9, 2) AS mean_tokens,
       sum((f.n > 1)::BIGINT)::BIGINT AS dup_docs,
       round(sum((f.n > 1)::BIGINT)::DOUBLE / count(*) + 1e-9, 4) AS dup_share
FROM scored s JOIN fpc f ON s.fp = f.fp
GROUP BY s.source
""",
)
def q_corpus_health_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] per-source corpus health rollup — the monitoring view a
    curation pipeline publishes per ingest batch: document counts,
    mean blended quality (text_quality's formula, rounded per doc
    before averaging), mean length, and exact-duplicate share via the
    corpus-wide fingerprint counts. Three map-side-combined aggs + one
    fingerprint equi-join; every input signal is an individually
    oracle-verified operator, composed here into one scan-and-roll
    plan."""
    from resume_jd_matcher_spark.functions.text import fingerprint_md5
    from resume_jd_matcher_spark.operators.textstats import text_quality

    d = load_table(spark, sf_dir, "documents")
    q = text_quality(d).select("doc_id", "n_tokens", "quality")
    base = d.select("doc_id", "source", fingerprint_md5("text").alias("fp"))
    fpc = base.groupBy("fp").agg(F.count("*").alias("n"))
    joined = base.join(q, "doc_id").join(fpc, "fp")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality") + F.lit(1e-9), 4).alias("mean_quality"),
        F.round(F.avg("n_tokens") + F.lit(1e-9), 2).alias("mean_tokens"),
        F.sum((F.col("n") > 1).cast("bigint")).alias("dup_docs"),
        F.round(
            F.sum((F.col("n") > 1).cast("bigint"))
            / F.count("*").cast("double")
            + F.lit(1e-9),
            4,
        ).alias("dup_share"),
    )


_TAG_DICT = [
    "filter",
    "hash join",
    "merge join",
    "sort",
    "spark",
    "stream",
    "vector scan",
    "window agg",
]
_TAG_DICT_SQL = "', '".join(_TAG_DICT)

_TAG_CANDS_CTE = f"""
t AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
), uni AS (
  SELECT doc_id, unnest(list_distinct(toks)) AS cand FROM t
), bi AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i + 1]))) AS cand
  FROM t WHERE len(toks) >= 2
), cands AS (
  SELECT * FROM uni UNION ALL SELECT * FROM bi
)"""


@register(
    "keyword_tag",
    f"""
WITH dic AS (
  SELECT unnest(['{_TAG_DICT_SQL}']) AS cand
), {_TAG_CANDS_CTE.lstrip()},
hits AS (
  SELECT doc_id, count(*)::INT AS n_matched,
         array_to_string(list_sort(list(cand)), ',') AS matched_keywords
  FROM cands JOIN dic USING (cand) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_matched, 0)::INT AS n_matched,
       coalesce(h.matched_keywords, '') AS matched_keywords
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
)
def q_keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: FlashText-style dictionary keyword tagging
    (operators/tagging.py) — the dictionary is a broadcast dim joined
    against the corpus's distinct token + bigram-shingle stream, so
    cost is O(corpus tokens) regardless of dictionary size (never a
    per-row N-alternation regex). Multi-word keywords ("hash join")
    match as units via same-arity shingles."""
    from resume_jd_matcher_spark.operators.tagging import keyword_tag

    d = load_table(spark, sf_dir, "documents")
    return keyword_tag(d, _TAG_DICT)


@register(
    "keyword_tag_broadcast",
    f"""
WITH dic AS (
  SELECT unnest(['{_TAG_DICT_SQL}']) AS cand
  UNION ALL
  SELECT unnest(list_transform(generate_series(0, 299), i -> 'zz' || i))
), {_TAG_CANDS_CTE.lstrip()},
hits AS (
  SELECT doc_id, count(*)::INT AS n_matched,
         array_to_string(list_sort(list(cand)), ',') AS matched_keywords
  FROM cands JOIN dic USING (cand) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_matched, 0)::INT AS n_matched,
       coalesce(h.matched_keywords, '') AS matched_keywords
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
)
def q_keyword_tag_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: keyword_tag through the LARGE-dictionary route —
    the driver's keyword_tag uses the ≤256-term literal-array
    expression path; padding the dictionary past LITERAL_DICT_MAX
    with 300 deterministic non-matching terms ('zz0'..'zz299',
    replayed verbatim in the oracle) forces the explode → broadcast
    dictionary join (operators/tagging.py large route), so BOTH
    routes carry hard driver signal. Matched sets must equal plain
    keyword_tag's exactly — filler terms never match."""
    from resume_jd_matcher_spark.operators.tagging import keyword_tag

    d = load_table(spark, sf_dir, "documents")
    return keyword_tag(d, _TAG_DICT + [f"zz{i}" for i in range(300)])


@register(
    "skill_coverage",
    f"""
WITH dic AS (
  SELECT unnest(['{_TAG_DICT_SQL}', 'verilog']) AS cand
), {_TAG_CANDS_CTE.lstrip()},
n AS (SELECT count(*) AS n_docs FROM documents),
matches AS (
  SELECT doc_id, cand FROM cands JOIN dic USING (cand)
), idf AS (
  SELECT dic.cand,
         coalesce(ln((n.n_docs + 1) / (df.df + 1)), ln(n.n_docs + 1)) AS idf
  FROM dic
  CROSS JOIN n
  LEFT JOIN (SELECT cand, count(*)::DOUBLE AS df FROM matches GROUP BY cand) df
    USING (cand)
), tot AS (SELECT sum(idf) AS idf_total FROM idf),
per_doc AS (
  SELECT m.doc_id, count(*)::INT AS n_matched, sum(i.idf) AS idf_sum
  FROM matches m JOIN idf i USING (cand) GROUP BY m.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_matched, 0)::INT AS n_matched,
       round(coalesce(p.n_matched, 0) / 9.0, 4) AS coverage,
       round(coalesce(p.idf_sum, 0.0) / t.idf_total + 1e-9, 4) AS idf_coverage,
       CASE WHEN round(coalesce(p.n_matched, 0) / 9.0, 4) >= 0.8 THEN 'high'
            WHEN round(coalesce(p.n_matched, 0) / 9.0, 4) >= 0.5 THEN 'medium'
            ELSE 'low' END AS band
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
CROSS JOIN tot t
""",
)
def q_skill_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5/A1 [EXT]: JD-keyword coverage scoring per document
    (operators/tagging.py) — plain coverage |doc∩jd|/|jd| plus
    idf-weighted coverage (rare skills count more; 'verilog' is in
    the JD but absent corpus-wide, exercising the unseen-term idf
    path), banded with the reference's high/medium/low thresholds
    (templates/bulk_result.html:34-40)."""
    from resume_jd_matcher_spark.operators.tagging import skill_coverage

    d = load_table(spark, sf_dir, "documents")
    return skill_coverage(d, _TAG_DICT + ["verilog"])


# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies smoothing (round 10)
# ---------------------------------------------------------------------------

_GT_MAX_R = 10


@register(
    "good_turing",
    f"""
WITH w AS (
  SELECT {SQL_TOKS.format(c='text')} AS w FROM documents
), tok AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS t
  FROM w WHERE len(w) >= 3
), cnt AS (
  SELECT t, count(*)::BIGINT AS r FROM tok GROUP BY t
), ff AS (
  SELECT r, count(*)::BIGINT AS n_r FROM cnt GROUP BY r
), tot AS (
  SELECT sum(r * n_r)::BIGINT AS n_tok,
         sum(CASE WHEN r = 1 THEN n_r ELSE 0 END)::BIGINT AS n1
  FROM ff
)
SELECT f.r::INT AS r, f.n_r,
       coalesce(f2.n_r, 0)::BIGINT AS n_r_next,
       round((f.r + 1) * coalesce(f2.n_r, 0)::DOUBLE / f.n_r + 1e-9, 6)
         AS r_star,
       round(tot.n1::DOUBLE / tot.n_tok + 1e-9, 9) AS p_unseen
FROM ff f LEFT JOIN ff f2 ON f2.r = f.r + 1, tot
WHERE f.r <= {_GT_MAX_R}
""",
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: Good-Turing frequency-of-frequencies smoothing over
    the corpus 3-gram shingle counts — the adjusted count r* =
    (r+1)·N(r+1)/N_r for r ≤ {_GT_MAX_R} and the unseen-mass
    estimate p₀ = N₁/N (Good 1953). The smoothing step between raw
    counts and a usable LM: unigram_logprob_quality scores documents
    with raw MLE counts; r* is what replaces them when the model
    must generalize. The 3-gram grain (ngram_jaccard's shingle
    vocabulary) is where the rare-event tail actually lives — this
    corpus' unigram vocabulary is saturated (min count ≫ 10, so a
    unigram N_r table is empty below r=26), the classic reason GT is
    run on higher-order grams (Gale & Sampson 1995).

    Scale shape: shingles built JVM-side per document (one transform
    over the token array), per-shingle count map-side combined →
    frequency-of-frequencies agg — the N_r grain is at most the max
    shingle count, so the r+1 self-join and 1-row totals broadcast
    are dimension-sized. Integers end-to-end until the final two
    exposed ratios."""
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.select(tokens("text").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 2),"
                    " (x, i) -> concat(x, ' ', w[i + 1], ' ', w[i + 2]))"
                )
            ).alias("t")
        )
    )
    cnt = sh.groupBy("t").agg(F.count("*").cast("bigint").alias("r"))
    ff = cnt.groupBy("r").agg(F.count("*").cast("bigint").alias("n_r"))
    tot = ff.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tok"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    nxt = ff.select(
        (F.col("r") - F.lit(1)).alias("r"), F.col("n_r").alias("n_r_next")
    )
    out = (
        ff.filter(F.col("r") <= _GT_MAX_R)
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        F.col("r").cast("int").alias("r"),
        "n_r",
        F.coalesce(F.col("n_r_next"), F.lit(0)).cast("bigint").alias(
            "n_r_next"
        ),
        F.round(
            (F.col("r") + F.lit(1))
            * F.coalesce(F.col("n_r_next"), F.lit(0)).cast("double")
            / F.col("n_r")
            + F.lit(1e-9),
            6,
        ).alias("r_star"),
        F.round(
            F.col("n1").cast("double") / F.col("n_tok") + F.lit(1e-9), 9
        ).alias("p_unseen"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon + Hellinger token-distribution drift (round 10)
# ---------------------------------------------------------------------------

@register(
    "jsd_drift",
    f"""
WITH tk AS (
  SELECT (lang = 'en') AS is_a, unnest({SQL_TOKS.format(c='text')}) AS t
  FROM documents
), c AS (
  SELECT t, sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cb
  FROM tk GROUP BY t
), tot AS (
  SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb,
         count(*)::BIGINT AS v
  FROM c
), pq AS (
  SELECT (ca + 0.5) / (ta + 0.5 * v) AS p,
         (cb + 0.5) / (tb + 0.5 * v) AS q
  FROM c, tot
)
SELECT (SELECT v FROM tot) AS n_vocab,
       round((0.5 * sum(p * ln(2.0 * p / (p + q)))
              + 0.5 * sum(q * ln(2.0 * q / (p + q)))) / ln(2.0)
             + 1e-9, 6) AS jsd_bits,
       round(sqrt(greatest(1.0 - sum(sqrt(p * q)), 0.0)) + 1e-9, 6)
         AS hellinger
FROM pq
""",
)
def q_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: Jensen-Shannon divergence (bits) and Hellinger
    distance between the English slice's unigram distribution and
    the rest of the corpus, Laplace-0.5 smoothed over the shared
    vocabulary (Lin 1991). The BOUNDED drift metrics beside
    psi_drift's per-token terms: JSD ∈ [0,1] bits and Hellinger ∈
    [0,1] stay finite when a token is absent on one side (where PSI
    and KL blow up), so they are the safe thresholding pair for
    automated drift gates.

    Scale shape: one token explode → (token, side) conditional hash
    agg (map-side combined) → 1-row totals broadcast → ONE
    vocab-grain reduction. Smoothed masses each sum to exactly 1 by
    construction, so the two engines integrate the same
    distribution; the only cross-row float sums are the three
    exposed aggregates, rounded in-query."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(
            (F.col("lang") == "en").alias("is_a"),
            F.explode(tokens("text")).alias("t"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("is_a"), 0).otherwise(1))
            .cast("bigint")
            .alias("cb"),
        )
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("ta"),
        F.sum("cb").cast("bigint").alias("tb"),
        F.count("*").cast("bigint").alias("v"),
    )
    pq = c.crossJoin(F.broadcast(tot)).select(
        "v",
        ((F.col("ca") + F.lit(0.5)) / (F.col("ta") + F.lit(0.5) * F.col("v"))).alias(
            "p"
        ),
        ((F.col("cb") + F.lit(0.5)) / (F.col("tb") + F.lit(0.5) * F.col("v"))).alias(
            "q"
        ),
    )
    return pq.groupBy("v").agg(
        F.round(
            (
                F.lit(0.5)
                * F.sum(
                    F.col("p")
                    * F.log(F.lit(2.0) * F.col("p") / (F.col("p") + F.col("q")))
                )
                + F.lit(0.5)
                * F.sum(
                    F.col("q")
                    * F.log(F.lit(2.0) * F.col("q") / (F.col("p") + F.col("q")))
                )
            )
            / F.log(F.lit(2.0))
            + F.lit(1e-9),
            6,
        ).alias("jsd_bits"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(1.0) - F.sum(F.sqrt(F.col("p") * F.col("q"))),
                    F.lit(0.0),
                )
            )
            + F.lit(1e-9),
            6,
        ).alias("hellinger"),
    ).select(F.col("v").alias("n_vocab"), "jsd_bits", "hellinger")


# ---------------------------------------------------------------------------
# TextRank keyword extraction (round 10)
# ---------------------------------------------------------------------------

_TR_MIN_COUNT = 5
_TR_TOP_K = 30


def _textrank_sql(n_iter: int = 3, dp: int = 8) -> str:
    """Token co-occurrence edge CTEs + the same unrolled
    deterministic PageRank as _pagerank_sql (per-iteration rounding,
    no dangling redistribution) — mirrors operators/cluster.pagerank
    over the word graph exactly."""
    head = f"""WITH w AS (
  SELECT doc_id, {SQL_TOKS.format(c='text')} AS w FROM documents
), bg AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> {{'a': w[i], 'b': w[i + 1]}})) AS s
  FROM w WHERE len(w) >= 2
), pair AS (
  SELECT least(s.a, s.b) AS a, greatest(s.a, s.b) AS b
  FROM bg WHERE s.a <> s.b
), e0 AS (
  SELECT a, b FROM pair GROUP BY a, b HAVING count(*) >= {_TR_MIN_COUNT}
), edges AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL
  SELECT b AS src, a AS dst FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT count(*)::DOUBLE AS n FROM nodes
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT node, round(1.0 / nn.n, {dp}) AS pr FROM nodes CROSS JOIN nn
)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(
            f""", r{i} AS (
  SELECT nd.node,
         round((1 - 0.85::DOUBLE) / nn.n
               + 0.85::DOUBLE * coalesce(s.c, 0), {dp}) AS pr
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, sum(r.pr / deg.deg) AS c
    FROM edges e
    JOIN r{i - 1} r ON r.node = e.src
    JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = nd.node
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT node AS token, round(pr + 1e-9, 6) AS pr
FROM r{n_iter} ORDER BY pr DESC, token LIMIT {_TR_TOP_K}
"""
    )


@register("textrank_keywords", _textrank_sql())
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 [EXT]: TextRank keyword extraction — deterministic
    fixed-iteration PageRank over the token CO-OCCURRENCE graph
    (adjacent-token pairs with corpus count ≥ {_TR_MIN_COUNT},
    symmetrized), top-{_TR_TOP_K} tokens by centrality (Mihalcea &
    Tarau 2004). The unsupervised keyword lens beside tfidf_topterms
    (frequency-contrast) and pmi_collocations (pair association):
    TextRank rewards tokens that bridge many distinct contexts.

    Scale shape: bigrams are built JVM-side per document (one
    transform over the token array — no positional self-join), then
    ONE map-side-combined pair count with the min-count filter
    bounding the graph to the frequent-pair vocabulary; the
    3-iteration PageRank reuses operators/cluster.pagerank (O(edges)
    equi-join + hash agg per round, per-iteration rounding so the
    unrolled-CTE oracle replays the trajectory bit-for-bit); top-k
    is orderBy+limit = TakeOrderedAndProject."""
    from resume_jd_matcher_spark.operators import cluster as clusterop

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("w")).filter(F.size("w") >= 2)
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w) - 1),"
                " (x, i) -> struct(x as a, w[i + 1] as b))"
            )
        ).alias("s")
    ).filter(F.col("s.a") != F.col("s.b"))
    e0 = (
        bg.select(
            F.least("s.a", "s.b").alias("a"),
            F.greatest("s.a", "s.b").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _TR_MIN_COUNT)
    )
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    nodes = edges.select(F.col("src").alias("token")).distinct()
    pr = clusterop.pagerank(edges, nodes, n_iter=3, id_col="token")
    return pr.select(
        "token", F.round(F.col("pr") + F.lit(1e-9), 6).alias("pr")
    ).orderBy(F.col("pr").desc(), F.col("token")).limit(_TR_TOP_K)
