"""Physical-plan shape assertions (SURVEY.md §4): broadcasts happen,
scans prune columns, UDF stages stay out of native paths."""

from __future__ import annotations

from conftest import physical_plan
from resume_jd_matcher_spark.queries.vector_q import (
    q_neardup_embedding,
    q_topk_similarity,
)
from resume_jd_matcher_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_scan_prunes_columns(spark):
    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "l_orderkey" in plan and "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_topk_shuffles_only_partials(spark):
    # The BLAS top-k emits ≤ k rows per (query, partition) before the
    # final rank — the plan must show the mapInPandas stage feeding a
    # window, not a crossJoin of the corpus.
    plan = physical_plan(q_topk_similarity(spark, SF))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    # The similarity self-join takes the same BLAS mapInPandas route
    # against a broadcast probe matrix: no pair-space join.
    plan = physical_plan(q_neardup_embedding(spark, SF))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_winnow_single_window_sort(spark):
    """lead() k-gram assembly and the window-min share one partition
    spec: two Window nodes, ONE per-doc sort, no extra count() pass."""
    import re

    from resume_jd_matcher_spark.operators.textstats import winnow_fingerprints

    plan = physical_plan(
        winnow_fingerprints(load_table(spark, SF, "documents"))
    )
    assert len(re.findall(r"\bWindow \[", plan)) == 2
    assert len(re.findall(r"\bSort \[", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_heavy_hitters_broadcasts_total(spark):
    from resume_jd_matcher_spark.queries.text_q import q_heavy_hitters

    plan = physical_plan(q_heavy_hitters(spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_registry_wide_no_cartesian_products(spark):
    """Sweep EVERY registered query's physical plan: a CartesianProduct
    (both sides non-broadcast) is never acceptable; a
    BroadcastNestedLoopJoin is acceptable only where the design
    broadcasts a bounded side (similarity crossJoins, single-row
    totals) — pinned by whitelist so an accidental theta join in a new
    query fails here."""
    from resume_jd_matcher_spark import queries as Q

    bnlj_by_design = {
        # bounded broadcast side by construction:
        "topk_similarity", "cosine_topk", "similarity_join", "knn_per_label",
        "shortlist_e2e", "neardup_embedding", "pipeline_e2e",
        # single-row broadcast total (unigram mass) crossed into the
        # per-bigram scorer:
        "ngram_lm_score",
        # single-row broadcast corpus/target totals crossed into the
        # <=4096-row bucket ratio table:
        "dsir_weights",
        # single-row broadcast scalars:
        "heavy_hitters", "tfidf_topterms", "scoring_e2e",
        "llm_feedback", "llm_explain", "prompt_assembly", "mean_score",
        "score_parse", "sections_map", "section_chunk", "header_canon",
        "embed_documents",
        # single-row broadcast corpus stats (N, avgdl, per-term df)
        # crossed into the per-doc scorer; rrf adds a single-row
        # broadcast query vector:
        "bm25_rank", "rrf_hybrid",
        # 5-row broadcast query set crossed into the corpus scan
        # (same shape as knn_per_label):
        "hard_negatives",
        # 8-row broadcast anchor set crossed into the corpus stream
        # feeding two min(struct) argmins:
        "mine_triplets",
        # single-row broadcast bigram/unigram totals crossed into the
        # collocation scorer:
        "pmi_collocations",
        # single-row broadcast slice totals crossed into the <=100-row
        # vocabulary table:
        "psi_drift",
        # single-row broadcast total crossed into the <=1001-row
        # bucket-CDF table:
        "score_deciles",
        # inherits bm25's single-row stats broadcast + a single-row
        # broadcast query-token set into the 20-row rerank pool:
        "rerank_e2e",
        # two single-row summaries (degree census x triangle count)
        # crossed for the final one-row output:
        "graph_triangles",
        # single-row broadcast idf normalizer crossed into the per-doc
        # base (the idf table itself is a dictionary-bounded equi-join):
        "skill_coverage",
        # bounded (max_src_id) broadcast source side crossed into the
        # target-group scan — the standard similarity crossJoin shape:
        "margin_bitext",
        # single-row broadcast Heaps fit crossed onto the
        # |sources|-bounded table:
        "heaps_law",
        # bounded (<=1024 asserted) broadcast sample side for the
        # pairwise base + a single-row uniformity summary crossed in:
        "align_uniformity",
        # bounded bucketx20 theta join building the pooled 20-row
        # inverse-CDF map + a single-row total crossed in:
        "quantile_normalize",
        # -- round 8 --
        # single-row broadcast character-budget total crossed into the
        # ranked document grain:
        "token_budget_curriculum",
        # global_prefix single-row bucket-stats broadcast + single-row
        # byte-budget total crossed into the file-grain plan:
        "compaction_plan",
        # two 1-row summaries (OLS fit, corpus mass) crossed with the
        # 1-row top-k mass agg:
        "zipf_fit",
        # single-row broadcast grand-total crossed into the
        # df-filtered (source, token) grain:
        "llr_keyness",
        # single-row total broadcast crossed into the
        # |sources|-bounded share table:
        "effective_sources",
        # -- round 9 --
        # corpus z-moments (1-row broadcast) crossed into the per-doc
        # NLL grain; LM totals a second 1-row broadcast:
        "unigram_logprob_quality",
        # single-row (n_total, weight_total) broadcast crossed into
        # the |nations|-bounded stratum table:
        "neyman_allocation",
        # single-row control-limits row broadcast back over the
        # calendar-bounded day grain:
        "imr_control_chart",
        # 1-row window total + 1-row top-pattern row crossed with the
        # <=6-row pattern census:
        "permutation_entropy",
        # global_prefix single-row bucket-stats broadcast + 1-row
        # global column ranges crossed into the block-summary grain:
        "sort_key_advisor",
        # 1-row calendar-span broadcast assigning looks, then the
        # <=2x5-row spine/pivot frames crossed together:
        "obrien_fleming_monitor",
        # 1-row global moments + 1-row step-up k* crossed into the
        # |nations|-bounded test table:
        "benjamini_hochberg",
        # -- round 10 --
        # 1-row span-derived train/bench cutoff broadcast crossed
        # into the gram stream (replaces the fixed id window that
        # went vacuous at sf0.1):
        "decontaminate",
        # -- round 10, inference family --
        # 1-row (mu, sd) scorer-moment broadcast crossed into the fact
        # before the single global agg:
        "brier_logloss",
        # same 1-row (mu, sd) broadcast before the 4-cell confusion agg:
        "matthews_mcc",
        # 1-row (sum, n) mean broadcast into the calendar-bounded day
        # grain + the 1-row Σdev² broadcast into the lag frame:
        "ljung_box",
        # 1-row OLS-fit broadcast back over the calendar-bounded day
        # grain to form residuals:
        "durbin_watson",
        # 1-row tie-mass census crossed with the 1-row H sufficient
        # stats + global_prefix's 1-row bucket-stats broadcast:
        "kruskal_wallis",
        # 1-row (n, Σx, Σx·lnx) grand total crossed into the
        # |nations|-bounded group grain:
        "theil_index",
        # 1-row (total cents, n_brands) broadcast crossed into the
        # |brands|-bounded share grain:
        "hhi_concentration",
        # kruskal_wallis's exact shape on two segments: 1-row tie
        # census + 1-row U sufficient stats + global_prefix's 1-row
        # bucket-stats broadcast:
        "mann_whitney_u",
        # 1-row |segments| count broadcast crossed into the
        # |nations|-bounded block census:
        "friedman_test",
        # 1-row OLS-fit broadcast back over the calendar-bounded day
        # grain (durbin_watson's residual shape):
        "breusch_pagan",
        # 1-row (N, n1) token totals broadcast crossed into the
        # <=max-count-bounded frequency-of-frequencies grain:
        "good_turing",
        # 1-row (ta, tb, |V|) totals broadcast crossed into the
        # vocab grain before the single reduction:
        "jsd_drift",
        # 1-row censor-horizon broadcast into the user lifetable, the
        # calendar-bounded (event-times x 2-row arm census) risk grid,
        # and the 1-row O/E/V reduction crossed with the arm census:
        "log_rank_test",
        # 1-row (y0, y1) span broadcast into the scan filter + the
        # 1-row basket reduction over the part-grain period join:
        "price_index_fisher",
        # |segments|² inequality self-join (both sides 5 rows,
        # broadcast) + the 1-row MSW broadcast:
        "tukey_hsd",
        # 1-row OLS-fit + 1-row MSE broadcasts over the
        # calendar-bounded day grain (the durbin_watson family):
        "cooks_distance",
        # lifetable shape: 1-row censor horizon +
        # 1-row tau + 1-row first-segment/area scalars crossed over
        # the calendar-bounded event-time grain:
        "rmst",
        # brier_logloss' 1-row (mu, sd) scorer-moment broadcast
        # before the 10-cell hash agg:
        "hosmer_lemeshow",
        # same 1-row moment broadcast + the <=10-row bins²/bins³
        # minimax joins (inequality joins on broadcast bin frames):
        "isotonic_calibration",
        # per EM iteration: the 1-row ROUNDED params broadcast
        # crossed into the fact before the sufficient-statistic agg:
        "gaussian_mixture_em",
        # 1-row mean + 1-row spectral-total broadcasts over the
        # calendar-bounded (day grain x 16-frequency spine):
        "periodogram",
        # -- round 11, structure family --
        # 1-row corpus total crossed into the per-cluster fixed-point
        # terms, then the 1-row precision x 1-row recall cross for F1:
        "bcubed_eval",
        # 1-row global-mean-frequency + 1-row weight-total broadcasts
        # crossed into the |sources|-bounded grain:
        "doremi_reweight",
        # -- round 12 --
        # global_prefix's 1-row (min, max) bucket-stats broadcast
        # crossed into the token-count projection (the
        # mann_whitney_u shape):
        "sequence_packing",
    }
    stale = bnlj_by_design - set(Q.queries())
    assert not stale, f"whitelist names unregistered queries: {sorted(stale)}"
    offenders, bnlj_unexpected = [], []
    for name, qd in sorted(Q._REGISTRY.items()):
        try:
            plan = physical_plan(qd.fn(spark, SF))
        except Exception as e:  # noqa: BLE001
            offenders.append(f"{name}: PLAN_ERROR {e}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_by_design:
            bnlj_unexpected.append(name)
    assert not offenders, offenders
    assert not bnlj_unexpected, (
        f"unexpected BroadcastNestedLoopJoin in {bnlj_unexpected}; "
        "broadcast a bounded side or rewrite as an equi-join"
    )


def test_term_frequency_no_global_window(spark):
    """Top-N vocab cut must lower to TakeOrderedAndProject; rank comes
    from the bounded-array posexplode — NO Window node anywhere (the
    r5 version sorted the whole vocabulary in one partition)."""
    from resume_jd_matcher_spark.operators.textstats import term_frequency

    plan = physical_plan(term_frequency(load_table(spark, SF, "documents")))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_negative_sampling_is_binned_equi_join(spark):
    """CDF inversion must be the binned-range equi-join (broadcast bin
    table), never a draws x vocab nested loop."""
    from resume_jd_matcher_spark.operators.sampling import negative_sampling

    plan = physical_plan(
        negative_sampling(load_table(spark, SF, "documents"), k=2, vocab_size=50)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_keyword_tag_routes_by_dictionary_size(spark):
    """Small dictionary → the literal array_intersect projection (no
    join, no shuffle at all); large dictionary → the broadcast-join
    route over the exploded candidate stream."""
    from resume_jd_matcher_spark.operators.tagging import keyword_tag

    d = load_table(spark, SF, "documents")
    small = physical_plan(keyword_tag(d, ["hash join", "spark"]))
    # no join anywhere; the only Exchange allowed is the
    # ensure_parallelism round-robin repartition of the scan
    assert "Join" not in small
    assert "hashpartitioning" not in small
    big = physical_plan(keyword_tag(d, [f"kw{i}" for i in range(400)]))
    assert "BroadcastHashJoin" in big
    assert "CartesianProduct" not in big


def test_media_ihdr_is_scan_plus_single_agg(spark):
    """IHDR parse is a narrow per-row projection: exactly one
    exchange (the bounded histogram rollup), no joins, no windows."""
    from resume_jd_matcher_spark.queries.stream_q import (
        q_media_ihdr_histogram,
    )

    plan = physical_plan(q_media_ihdr_histogram(spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") <= 1


def test_media_ext_quarantine_is_scan_plus_single_agg(spark):
    """Extension route + magic detect are per-row; the only exchange
    is the bounded (route x detected) rollup."""
    from resume_jd_matcher_spark.queries.stream_q import (
        q_media_ext_quarantine,
    )

    plan = physical_plan(q_media_ext_quarantine(spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") <= 1
