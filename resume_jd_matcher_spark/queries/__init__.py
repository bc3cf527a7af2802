"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair.

``spark_fn(spark, sf_dir) -> DataFrame`` is the engine path;
``oracle_sql`` is the equivalent ANSI SQL the driver runs on DuckDB
over the same parquet tables (views: region nation customer supplier
part orders lineitem events documents embeddings). None → rows-only
check (non-SQL-expressible op).

Contract shared by every pair (FIXTURES.md oracle-harness notes):
- every computed column aliased identically on both sides;
- floats rounded in-query where exposed;
- timestamps exposed as epoch BIGINT or formatted strings, never raw
  (parquet ms/ns precision + dialect formatting differ);
- deterministic tie-breaks on every top-k / limit;
- float arrays cast to DOUBLE before arithmetic on both sides, folded
  left-to-right (bit-compatible accumulation).

Half-up rounding nudge (``round(x + 1e-9, k)``) — tie-distance audit
(r12). The nudge itself is never the
risk; the question is whether the value reaching ``round`` can DIFFER
between engines. Three classes:

1. **Bit-identical by exactness** (the majority): a single float
   division of exactly-transported integers — counts, integer cents
   (``round(value*100)``; the fixtures are integer-cents by
   construction), token counts. Same two integers divided → same
   float64 on both engines → identical rounding regardless of tie
   distance. Additionally the tie-distance lemma
   |a/b − (2m+1)/(2·10^k)| ≥ 1/(2·10^k·b) means such a quotient
   cannot even land within 1e-9 of a round-half boundary unless
   exactly ON it (which the nudge resolves identically). Sums of
   integers below 2^53 are exact in float64, so order-independence
   extends to avg/sum of integer-valued doubles.
2. **Bit-identical by contract**: float folds with pinned evaluation
   order (left-to-right array aggregates, identical scalar
   expression trees over identical inputs).
3. **Order-dependent watch class**: unordered float aggregates over
   genuinely fractional values (sum/avg/corr of transcendental
   per-row terms). Engines can diverge by ~1 ulp per merge; a hash
   flip needs the true value within that radius of a boundary —
   generic values make this ~(n·2^-52)/10^-k per readout, negligible
   at fixture scales UNLESS the algebra subtracts near-equal large
   moments (catastrophic cancellation), which amplifies the
   divergence into the exposed digits. That cancellation-amplified
   subclass is the CAN-TIE class and is kept at ZERO: every moment
   ratio (beta, theta, corr, slope) is computed from exact
   DECIMAL(38,0) integer moments and composed in DOUBLE after
   aggregation — rolling_beta (r11). New single-row moment-ratio readouts MUST
   use this discipline (or scaled-integer exposures like beta_e4 /
   matthews_mcc / authority_e9) rather than native float
   corr/regr_*/var_pop.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class QueryDef(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _REGISTRY.items() if qd.oracle is not None}


# Each module registers its queries on import; _DRIVER_PRIORITY below
# then fixes the order the driver sees (it samples the first 50).
from resume_jd_matcher_spark.queries import vector_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import text_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import scoring_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import stream_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import advanced_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import sampling_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import corpus_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import retrieval_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import analytics_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import mining_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import evalops_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import curation_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import inference_q  # noqa: E402,F401
from resume_jd_matcher_spark.queries import structure_q  # noqa: E402,F401

# The driver records correctness for the first 50 registered queries
# per round. Rotation policy: never-driver-checked > second
# confirmation > multiply-confirmed anchors. Full rotation history
# lives in git; per-round full-registry results (all queries, not
# just the window) are committed as SELFCHECK_r{N}.json by
# tools/driver_sim.py -- diff those instead of reading rotation
# comments.
#
# Round 13 window (the driver samples the first 50) -- r12 verdict
# task 2 verbatim:
# 1) the 6 r12 debuts lead (selfcheck + judge driver-sim green, zero
#    driver rows so far);
# 2) the once-confirmed backlog oldest-first: the r1 cohort (no
#    driver row since round 1), then r3, then the r4 head -- the
#    "never reconfirmed since debut" cohort the verdict names.
#    Rows-only names (llm_feedback/llm_explain) are held out of the
#    window so all 50 rows stay hash-checkable; they queue directly
#    below the boundary.
# Remaining once-confirmed r4/r5/r7/r8 names queue next for r14,
# then the r11 structure debuts (confirmed r12), then the
# multiply-confirmed anchors in their prior order. Deleting the
# TPC-H-style relational family and the generic-statistics queries
# (asof_join, approx_stats, exact_percentiles...) emptied ten window
# slots; the r13 debuts and the head of the once-confirmed queue
# moved up to fill them. Deleting the order/event-table queries
# (bucketed_join, pivot_unpivot, stats_moments...) emptied seven
# more, refilled from the head of the queue below the trio. Deleting
# the event-stream queries (sessionize, funnel_conversion,
# stream_late_data...) emptied seven more, refilled the same way.
# Deleting the approximate vector-search queries
# (stream_ann_dedup_gate, ann_recall_eval, ivf_pq_topk) emptied three
# more, refilled from the hash-checkable head of the queue below the
# rows-only pair.
_DRIVER_PRIORITY = [
    # -- r12 debuts: first driver rows --
    "media_magic_dispatch",
    "media_payload_entropy",
    "sequence_packing",
    # -- r1 cohort: second confirmations (no driver row since r1) --
    "embed_documents",
    "header_canon",
    "mean_score",
    "multimodal_features",
    "multimodal_frames",
    "page_concat",
    "prompt_assembly",
    "score_parse",
    "scoring_e2e",
    "section_chunk",
    "sections_map",
    "shortlist_e2e",
    # -- r3 cohort: second confirmations --
    "chunk_embed_pool",
    "embedding_drift",
    "embedding_quantize",
    "incremental_append",
    "label_centroids",
    "winnow_fingerprint",
    # -- r4 head: second confirmations --
    "array_ops",
    "cap_per_source",
    "chunk_sliding",
    "corpus_clean_pipeline",
    "heavy_hitters",
    "lang_confusion",
    "leakage_safe_split",
    "pack_token_budget",
    # -- r13 debuts --
    "media_ihdr_histogram",
    "media_ext_quarantine",
    "media_wav_census",
    # -- remaining once-confirmed r4/r5/r7/r8 --
    "pii_redact",
    "rolling_fingerprint",
    "stratified_sample",
    "tfidf_topterms",
    "train_test_split",
    "winnow_neardup",
    "bloom_contamination",
    "cms_heavy_hitters",
    "corpus_shuffle",
    "curriculum_order",
    "embedding_outliers",
    "graph_triangles",
    "length_buckets",
    "mixture_sample",
    "mixture_token_budget",
    "ngram_lm_score",
    "pagerank_neardup",
    "repetition_filter",
    # ---- window boundary (50) ----
    # -- rows-only pair (held out of the hash window by design) --
    "llm_feedback",
    "llm_explain",
    "rerank_e2e",
    "substring_remove",
    "token_entropy",
    "weighted_sample",
    "boilerplate_ngrams",
    "keyword_tag_broadcast",
    "kfold_assign",
    "readability_ari",
    "silhouette_score",
    # -- r11 structure debuts (confirmed r12) --
    "bcubed_eval",
    "doremi_reweight",
    "label_propagation",
    "shard_rendezvous",
    # -- multiply-confirmed names in prior rotation order --
    "matthews_mcc",
    "theil_index",
    "hhi_concentration",
    "effective_sources",
    "decontaminate",
    "zipf_fit",
    "llr_keyness",
    "lsh_param_planner",
    "ngram_contamination",
    "intradoc_repetition",
    "unigram_logprob_quality",
    "neyman_allocation",
    "imr_control_chart",
    "permutation_entropy",
    "spearman_daily_corr",
    "sort_key_advisor",
    "obrien_fleming_monitor",
    "benjamini_hochberg",
    "rolling_beta",
    "rmst",
    "markov_attribution",
    "cross_source_leakage",
    "gaussian_mixture_em",
    "periodogram",
    "hosmer_lemeshow",
    "isotonic_calibration",
    "k_core_graph",
    "log_rank_test",
    "price_index_fisher",
    "tukey_hsd",
    "cooks_distance",
    "embedding_effective_rank",
    "mann_whitney_u",
    "friedman_test",
    "breusch_pagan",
    "gumbel_maxima",
    "good_turing",
    "jsd_drift",
    "textrank_keywords",
    "jarque_bera",
    "anova_oneway",
    "kruskal_wallis",
    "levene_test",
    "ljung_box",
    "durbin_watson",
    "holt_linear_forecast",
    "brier_logloss",
    "grubbs_test",
    "local_clustering",
    "heaps_law",
    "token_budget_curriculum",
    "compaction_plan",
    "vocab_overlap",
    "ensemble_neardup",
    "keyword_tag",
    "skill_coverage",
    "wilson_ranking",
    "negative_sampling",
    "margin_bitext",
    "ngram_diversity",
    "inverted_index",
    "align_uniformity",
    "quantile_normalize",
    "corpus_health_scorecard",
    "mine_triplets",
    "quality_aware_dedup",
    "score_deciles",
    "tfidf_cosine_pairs",
    "topk_similarity",
    "pipeline_e2e",
    "dedup_exact",
]


def _apply_driver_order() -> None:
    missing = [n for n in _DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise ValueError(f"_DRIVER_PRIORITY names unknown queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY}
    ordered.update((n, qd) for n, qd in _REGISTRY.items() if n not in ordered)
    _REGISTRY.clear()
    _REGISTRY.update(ordered)


_apply_driver_order()

# Flagship entry point re-export (used by __spark_entry__.entry()).
from resume_jd_matcher_spark.queries.vector_q import q_topk_similarity  # noqa: E402,F401
