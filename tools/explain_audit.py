"""Generate EXPLAIN.md: the formatted physical plan of each headline
query with a one-line audit note — the "is this the plan I'd want at
100 TB" artifact. Regenerate after plan-affecting changes:

    python tools/explain_audit.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# query -> what the plan must show (the audit claim)
HEADLINERS = {
    "topk_similarity": "broadcast query side; corpus streams; no pair sort",
    "minhash_lsh": "at or below LOCAL_MINHASH_DOCS documents the driver "
    "route: one bounded token fetch, the result a LocalTableScan; above "
    "it, candidates from the (band_id, band_sig) equi-join, no crossJoin",
    "dedup_clusters": "small-graph route: one bounded take (no job over "
    "local candidates), driver union-find, a local relation out",
    "winnow_fingerprint": "two Window nodes, ONE per-doc sort, no Python",
    "scoring_e2e": "two Arrow-batched Python stages (chunker, LLM), joins native",
    "media_ihdr_histogram": "fixed-offset big-endian IHDR parse as a narrow "
    "hex projection (no UDF, no join); ONE exchange for the bounded "
    "dimension-histogram rollup",
    "media_ext_quarantine": "extension route + magic detect both per-row on "
    "one scan; ONE exchange for the bounded (route x detected) rollup",
    "pipeline_e2e": "dedup window + embed + partial-top-k in ONE plan, one scan",
    "decontaminate": "distinct benchmark gram set broadcast; train side streams",
    "pq_topk": "ADC rank = broadcast m*k distance table equi-join on "
    "(subspace, code) + map-side sum; no raw vector in the ranking join",
    "ivf_pq_topk": "coarse routing prunes candidates to probed partitions "
    "BEFORE the ADC join; broadcast sides are <=nlist / <=m*k rows; "
    "fused fit (coarse + all m codebooks in ONE grouped Lloyd pass), "
    "corpus encoded cid+codes in ONE literal-argmin projection",
    "stream_ann_dedup_gate": "arriving side computes its bucket "
    "signature NARROWLY; static index broadcast into the bucket "
    "equi-join; top-1 a struct-min hash agg (streaming-safe, no rank "
    "window)",
    "media_magic_dispatch": "narrow hex-prefix dispatch pushed to the "
    "scan; only the (declared x detected)-bounded rollup shuffles",
    "cms_heavy_hitters": "sketch build is map-side combined (<=d*w cells per "
    "partition cross the wire); probes join the broadcast sketch",
    "bloom_contamination": "bloom bitset broadcast; probe side streams "
    "through an equi-join on the bit position",
    "repetition_filter": "ONE tokenization, tagged explode, two hash aggs, "
    "zero joins, zero Python",
    "corpus_shuffle": "global positions via bucket-offset rank: data windows "
    "partitioned by bucket; only the <=256-row offset table is single-partition",
    "pagerank_neardup": "edge list checkpointed once; each iteration one "
    "equi-join + map-side-combined sum; the linear rank chain runs as "
    "ONE job (r11 dropped the per-round eager checkpoints, 2x)",
    "semdedup": "pair scan is a cid equi-join over the persisted Lloyd "
    "assignment (InMemoryTableScan on both sides, fit runs once); only "
    "the <=8-row centroid table is nested-loop-broadcast",
    "ngram_lm_score": "three vocab-sized hash-agg LM tables; scoring = "
    "hash equi-joins on (w1,w2)/w1/w2 + ONE single-row broadcast total; "
    "per-doc mean is a map-side-combined hash agg, no window",
    "line_dedup": "keep-first decision = ONE window hash-partitioned by "
    "chunk text (partition size = chunk frequency); reassembly a per-doc "
    "hash agg; no joins wider than the doc_id left join",
    "dsir_weights": "<=4096-row bucket LM ratio table broadcast into the "
    "scoring join; per-doc mean map-side combined; only scalars cross "
    "as single-row broadcasts",
    "weighted_sample": "per-row key projection, TakeOrderedAndProject "
    "partial top-n; the rank window touches only the n selected rows",
    "bm25_rank": "per-doc tf from native array ops (no explode); corpus "
    "stats ONE single-row broadcast; top-k = TakeOrderedAndProject",
    "rrf_hybrid": "each ranker cut to its pool by TakeOrderedAndProject "
    "BEFORE the global row_number; fusion join sees <=2*pool rows",
    "substring_dedup": "posting list linear in tokens; dup-gram filter a "
    "map-side-combined count-distinct; posting joins back on the gram "
    "hash (1:1, no pairwise blow-up); islands window per-doc only",
    "hard_negatives": "label filter pre-aggregation; argmin a "
    "min(struct) hash agg with map-side partial combine",
    "pmi_collocations": "map-side-combined gram counts; vocab-sized "
    "unigram equi-joins; totals ONE single-row broadcast; top-k = "
    "TakeOrderedAndProject",
    "quality_classifier": "256-row model table broadcast into the "
    "bucket equi-join; per-doc mean map-side combined; no "
    "corpus-wide shuffle beyond the per-doc agg",
    "embedding_outliers": "labels*dims centroid table broadcast; "
    "per-vector sum and per-label moments map-side-combined hash "
    "aggs; no window, no pairwise join",
    "substring_remove": "ONE persisted (id, pos, tok) stream feeds "
    "gram build, owner reduction, AND reassembly (single tokenization "
    "pass); drop set bounded by dup positions x k; removal an "
    "anti-join; reassembly a per-doc hash agg",
    "rerank_e2e": "recall (BM25+dense RRF) cuts to a 20-row pool "
    "BEFORE the rerank scorer touches text — rerank cost independent "
    "of corpus size",
    "kruskal_wallis": "global tie-averaged ranks WITHOUT a fact-sized "
    "window: distinct-value grain + global_prefix bucket-offset scan; "
    "per-(seg,value) counts equi-join the rank grain",
    "holt_linear_forecast": "reduce-then-fold: one day-grain cents "
    "hash agg, the sequential recursion a single-row JVM aggregate() "
    "fold — no iterative joins, no window, no driver loop",
    "isotonic_calibration": "ONE fact scan to the 10-cell bin agg; "
    "the bins²/bins³ minimax joins run on broadcast constant-sized "
    "frames — the 'cubic' PAV formula costs nothing",
    "rmst": "Kaplan-Meier lifetable chain: user-grain agg, 1-row "
    "horizon broadcast, every window on the calendar-bounded "
    "event-time grain, 1-row integral reduction",
    "graph_triangles": "compact-forward: triangles from TWO hash "
    "equi-joins over the a<b edge list — never a neighborhood "
    "crossJoin; only two single-row summaries broadcast",
    "ann_recall_eval": "LSH and exact rankings in ONE plan; recall "
    "comparison an equi-join on (query, vec), no collect",
    "simhash_neardup": "fingerprint pipeline persisted across both "
    "self-join sides (InMemoryTableScan x2); md5 runs per DISTINCT "
    "(doc, token) with count weighting; candidates from the "
    "(band_id, band_val) equi-join, popcount verify in-bucket",
    "containment_neardup": "shared-shingle equi-join candidates "
    "(posting list persisted across both sides); intersection a "
    "map-side-combined count per pair; sizes join back by id",
    "psi_drift": "one explode + one map-side-combined token agg; "
    "only the <=top-N vocabulary and a single broadcast totals row "
    "survive the agg",
    "embedding_whiten": "per-dim stats ONE map-side-combined agg; "
    "transform a zip_with against literal arrays — pure projection, "
    "no join-back, no second shuffle",
    "temperature_mixture": "group counts one hash agg (bounded "
    "collect); admission the deterministic hash-rank window on the "
    "group key with a broadcast target dim",
    "pca_top_component": "Gram matrix from per-Arrow-batch C'C "
    "partials (ArrowEvalPython/mapInPandas stage, <= d^2 rows per "
    "batch shuffled); projection a codegen'd fold against literal "
    "arrays",
    "media_binary_neardup": "byte grams from ONE native hex() + "
    "substring transform (no Python, no decode); same persisted "
    "fingerprint + (band_id, band_val) equi-join core as text "
    "SimHash",
    "bpe_encode_stats": "encoding is a BROADCAST word-type lookup "
    "join — the corpus word stream never re-merges per occurrence; "
    "per-doc fertility a map-side-combined hash agg",
    "term_frequency": "top-N vocab cut = TakeOrderedAndProject over "
    "map-side-combined token counts; rank from the bounded-array "
    "posexplode — NO Window node (r5 sorted the whole vocabulary in "
    "one partition)",
    "mllib_lsh_agreement": "MLlib candidates from the exploded "
    "hash-table equi-join; exact distances recomputed via bounded id "
    "joins so the oracle fold matches bit-for-bit",
    "wilson_ranking": "one source-keyed hash agg; rank over the "
    "|sources|-bounded array fold, no unbounded window",
    "negative_sampling": "integer CDF over the bounded vocab; draws "
    "equi-join the BROADCAST bin table (binned-range-join pattern) — "
    "never a draws x vocab nested loop",
    "margin_bitext": "bounded source side broadcast into the scoring "
    "join; neighborhood means are partitioned rank windows + keyed "
    "hash aggs; best-pair pick a per-source window",
    "ngram_diversity": "pre-aggregated to (source, bigram, n) first "
    "(map-side combined) then rolled up — no multi-distinct Expand "
    "doubling the exploded stream",
    "inverted_index": "df cut = TakeOrderedAndProject; posting "
    "assembly joins the BROADCAST 20-term dim against the distinct "
    "(doc, token) stream",
    "align_uniformity": "bounded-sample (asserted) broadcast pair "
    "base; both metrics map-side-combined aggs over the pair stream; "
    "summaries cross as single rows",
    "keyword_tag": "small dict: literal array_intersect projection — "
    "NO join, NO shuffle; large dict: broadcast-join route (pinned "
    "by test_keyword_tag_routes_by_dictionary_size)",
    "skill_coverage": "matched sets from the no-join literal route, "
    "persisted once across df/idf/per-doc consumers; idf dims "
    "dictionary-bounded broadcasts",
    "quantile_normalize": "both CDFs on bucket histograms (source "
    "window partitioned by source over bucket rows); pooled "
    "inverse-CDF a 20-row broadcast map; docs join by (source, "
    "bucket) equi-join — no global sort, no percent_rank over rows",
    # -- round 7 --
    "ngram_jaccard": "capped route: per-shingle doc baskets from ONE "
    "groupBy (the df cap is the basket-size filter), pairs generated "
    "expression-side from sorted <=max_df arrays — no posting "
    "self-join shuffle; sizes re-explode the SAME capped baskets",
    "sequence_packing": "one token-count projection, ONE bucketed "
    "prefix shuffle (exact BIGINT accumulation), 1-row summary agg; "
    "the per-bin grain never materializes",
    "readability_ari": "pure per-row projection, whole-stage codegen, "
    "no shuffle",
    "boilerplate_ngrams": "df >= 2 pre-filter bounds the vocabulary "
    "BEFORE the per-source top-k window (term_frequency lesson)",
    "keyword_tag_broadcast": "forced large-dictionary route: exploded "
    "candidates equi-join the BROADCAST dictionary; corpus never "
    "re-scanned per term",
    "heaps_law": "ONE scan, ONE explode: rollup(source, doc_id) over "
    "the token stream yields per-doc fit points (gid 0) AND "
    "per-source totals (gid 1) from one localCheckpointed bounded "
    "output; OLS regr_* over per-DOCUMENT points, 1-row fit "
    "broadcast back",
    "ensemble_neardup": "ONE exploded+counted token grain persisted, "
    "feeding BOTH MinHash signatures and SimHash weights; three "
    "banded/bucketed candidate paths, vote agg on the union",
    # -- round 8 --
    "vocab_overlap": "pair intersection is a token-keyed self-EQUI-"
    "join of the DISTINCT (source, token) grain — no doc x doc or "
    "source x source cross join; size dims broadcast",
    "compaction_plan": "bucketed prefix-scan shuffle (no "
    "single-partition window) then a bin-grain agg",
    "zipf_fit": "token hash agg, global top-k via TakeOrdered (never "
    "a vocab-sized window), 1-row fit/coverage finalize",
    "llr_keyness": "token df-filter BEFORE the per-source window; "
    "source/grand totals broadcast; window over the pruned grain",
    "effective_sources": "ONE source-grain hash agg over the corpus, "
    "scalar entropy arithmetic on |sources| rows",
    # -- round 9: curation / governance family --
    "ngram_contamination": "train grams collapse to DISTINCT before the "
    "probe; eval-vs-train is ONE hash equi-join on the gram key — no "
    "pair enumeration, no window",
    "intradoc_repetition": "non-distinct bigram explode -> (doc, gram) "
    "map-side-combined hash agg -> doc-grain agg; zero joins, zero "
    "windows, zero Python",
    "unigram_logprob_quality": "(doc, token) grain rebuilt per "
    "consumer from the pruned scan (no fact-sized cache); vocab "
    "checkpointed; per-doc NLL checkpointed once as the pipeline's "
    "own product; 1-row totals/moments broadcast",
    "neyman_allocation": "one dim-table hash agg to |nations| rows "
    "with exact-integer moments; 1-row total broadcast; projection out",
    "imr_control_chart": "fact -> day grain; ONE calendar-bounded lag "
    "window; 1-row limits broadcast back over the day grain",
    "permutation_entropy": "day grain -> bounded lead window -> <=6-row "
    "pattern agg; entropy and top pattern on that 6-row frame",
    "spearman_daily_corr": "rank windows run over the calendar-bounded "
    "day grain only; 1-row corr finalize",
    "sort_key_advisor": "physical rank via the bucketed prefix scan "
    "(no single-partition fact window); blocks collapse to n/4096 "
    "summary rows; 1-row global range broadcast; 3-row unpivot",
    "obrien_fleming_monitor": "fact filter -> (arm, look) hash agg "
    "(<=10 rows out); cumulative window PARTITIONED BY arm over <=5 "
    "rows; 5-row output",
    "benjamini_hochberg": "two dim-table hash aggs (global + segment "
    "moments, exact integers); rank window and step-up max over "
    "|nations| rows only",
    # -- round 9 batch 2: maintenance / graph / sketch ops --
    "cross_source_leakage": "the dedup family's banded candidates (a "
    "LocalTableScan on the driver route) + doc-keyed source joins; "
    "|sources|^2-bounded matrix agg",
    # -- round 11, structure family --
    "label_propagation": "banded LSH candidates, then the cost-routed "
    "trajectory: bounded take() routes small graphs to the driver "
    "loop; distributed path is one edge-label equi-join + two "
    "map-side-combinable aggs per round, no collect_list",
    "shard_rendezvous": "linear explode to doc x (shards+1), ONE "
    "max_by(struct) hash agg per doc (no window), 16-row final agg",
    "bcubed_eval": "metric runs on the (pred x gold) CELL grain — "
    "bounded by cluster counts; labels from the cost-routed cc over "
    "banded candidates; fixed-point integer algebra end to end",
    "doremi_reweight": "token stream pre-aggregated to (source, tok) "
    "BEFORE the vocab join (grouped-grain equi-join, never raw "
    "occurrences); |sources|-bounded algebra after",
}


def main() -> None:
    from resume_jd_matcher_spark import queries as Q
    from resume_jd_matcher_spark.session import get_spark

    spark = get_spark("explain-audit")
    out = [
        "# EXPLAIN — headline-query physical plans (sf0.001, local)",
        "",
        "Generated by `python tools/explain_audit.py`. Each section states",
        "the plan property the query is DESIGNED around, then the formatted",
        "physical plan that exhibits it. Plan-shape regressions are pinned",
        "by `tests/test_plans.py`; this file is the human-readable audit.",
        "",
    ]
    for name, claim in HEADLINERS.items():
        import contextlib
        import io

        df = Q._REGISTRY[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the node tree, drop the verbose per-node details
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"**Audit claim:** {claim}", "", "```"]
        out += [tree, "```", ""]
    with open(os.path.join(os.path.dirname(__file__), "..", "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
