"""Measure the scale curve: run full-corpus document operators on a
synthetic 1x corpus and a 10x corpus (sources/synthdocs — partition-
parallel, deterministic, no input I/O) and report the wall-clock
ratio. A banded/bucketed operator should scale ~linearly (ratio ≈ 10
± noise); anything super-linear (> SUPERLINEAR_AT) is flagged as a
scale defect for the round log.

The registered pair-heavy queries (ensemble_neardup, ngram_jaccard …)
cap doc_id for fixture-oracle boundedness, so this tool benches the
UNCAPPED operator kernels directly alongside the full-corpus
registered queries.

Usage: python tools/scale_curve.py [n_base] [mult]
Writes the results table into SCALE.md's "## Measured scale curve"
section (replacing a previous run) and prints it.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BASE = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000
MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 10
SUPERLINEAR_AT = 1.35 * MULT  # noise margin over perfectly linear
WORK = "/tmp/spark_graft_scale"


def build_corpora(spark) -> dict[str, str]:
    from resume_jd_matcher_spark.sources.synthdocs import register

    register(spark)
    dirs = {}
    for label, n in (("1x", N_BASE), (f"{MULT}x", N_BASE * MULT)):
        d = os.path.join(WORK, label)
        path = os.path.join(d, "documents.parquet")
        if not os.path.exists(path):
            (
                spark.read.format("synthdocs")
                .option("n", n)
                .option("partitions", 32)
                .option("seed", 7)
                .load()
                .write.mode("overwrite")
                .parquet(path)
            )
        dirs[label] = d
    return dirs


def kernels():
    """name -> fn(spark, sf_dir) over the FULL corpus (no id caps)."""
    from pyspark.sql import functions as F

    from resume_jd_matcher_spark.operators import cluster, dedup
    from resume_jd_matcher_spark.sources.io import load_table

    def docs(spark, sf_dir):
        return load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def k_minhash(spark, sf_dir):
        return dedup.minhash_lsh_candidates(
            docs(spark, sf_dir), n_hashes=16, rows_per_band=4
        ).filter(F.col("est_jaccard") >= 0.7)

    def k_simhash(spark, sf_dir):
        return dedup.simhash_neardup(docs(spark, sf_dir), max_hamming=3, n_bits=16)

    def k_cc_star(spark, sf_dir):
        pairs = dedup.minhash_lsh_candidates(
            docs(spark, sf_dir), n_hashes=16, rows_per_band=4
        ).filter(F.col("est_jaccard") >= 0.7)
        return cluster.connected_components_star(
            pairs.select("left_id", "right_id"), max_iter=10
        )

    def k_label_propagation(spark, sf_dir):
        # UNCAPPED twin of q_label_propagation (the registered query
        # caps doc_id for oracle boundedness): banded candidates ->
        # symmetrize -> fixed-round LPA. local_threshold=0 forces the
        # DISTRIBUTED per-round join+agg path — the 100-TB route is
        # what the curve must certify, not the driver loop.
        pairs = dedup.minhash_lsh_candidates(
            docs(spark, sf_dir), n_hashes=16, rows_per_band=4
        ).filter(F.col("est_jaccard") >= 0.5)
        sym = pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("left_id").alias("a"),
                        F.col("right_id").alias("b"),
                    ),
                    F.struct(
                        F.col("right_id").alias("a"),
                        F.col("left_id").alias("b"),
                    ),
                )
            ).alias("_e")
        ).select("_e.a", "_e.b")
        return cluster.label_propagation_sync(
            sym, n_iter=4, local_threshold=0
        )

    def k_bcubed(spark, sf_dir):
        # UNCAPPED twin of q_bcubed_eval's metric half: near-dup
        # component labels vs the exact-fingerprint gold partition,
        # reduced on the (pred x gold) CELL grain. Same decimal
        # algebra as the query; the curve certifies the cell-grain
        # claim (cost ~ cluster counts, not documents^2).
        from pyspark.sql import Window

        from resume_jd_matcher_spark.functions.text import fingerprint_md5
        from resume_jd_matcher_spark.queries.structure_q import (
            _DEC,
            _halfup_div,
        )

        d = docs(spark, sf_dir)
        pairs = dedup.minhash_lsh_candidates(
            d, n_hashes=16, rows_per_band=4
        ).filter(F.col("est_jaccard") >= 0.95)
        lab = cluster.dedup_clusters(pairs).select("doc_id", "cluster_rep")
        pred = d.select("doc_id").join(lab, "doc_id", "left").select(
            "doc_id", F.coalesce("cluster_rep", "doc_id").alias("p")
        )
        wg = Window.partitionBy(fingerprint_md5(F.col("text")))
        gold = d.select("doc_id", F.min("doc_id").over(wg).alias("g"))
        cell = (
            pred.join(gold, "doc_id")
            .groupBy("p", "g")
            .agg(F.count("*").cast(_DEC).alias("npg"))
        )
        np_ = cell.groupBy("p").agg(F.sum("npg").cast(_DEC).alias("n_p"))
        tp = (
            cell.join(np_, "p")
            .groupBy("p", "n_p")
            .agg(F.sum(F.col("npg") * F.col("npg")).cast(_DEC).alias("s2"))
            .select(
                F.expr(_halfup_div("s2", "n_p", 10**9)).cast(_DEC).alias("t")
            )
        )
        return tp.agg(F.count("*").alias("n"), F.sum("t").alias("s"))

    return {
        "kernel:minhash_lsh_full": k_minhash,
        "kernel:simhash_neardup_full": k_simhash,
        "kernel:cc_star_full": k_cc_star,
        "kernel:label_propagation_full": k_label_propagation,
        "kernel:bcubed_cells_full": k_bcubed,
    }


# Registered full-corpus document queries (read only documents.parquet,
# no internal doc_id caps).
REGISTERED = [
    "heaps_law",
    "skill_coverage",
    "keyword_tag",
    "boilerplate_ngrams",
    "ngram_diversity",
    "inverted_index",
    "pmi_collocations",
    "readability_ari",
    "term_frequency",
    "text_quality",
    # round-8 corpus-law fits: the top-k head (zipf) and the
    # df-pruned per-source keyness window (llr) — both single-
    # tokenization by construction (cached first aggregate).
    "zipf_fit",
    "llr_keyness",
    # round-9 curation family (documents-only members): gram-join
    # contamination probe, per-doc repetition agg, LM-quality scoring
    "ngram_contamination",
    "intradoc_repetition",
    "unigram_logprob_quality",
    # round-10 inference-batch documents members: shingle-grain
    # frequency-of-frequencies, the smoothed-distribution drift pair,
    # and the co-occurrence-graph PageRank (local_clustering shares
    # graph_triangles' minhash-edge kernel, already on this curve via
    # the minhash candidate kernels).
    "good_turing",
    "jsd_drift",
    "textrank_keywords",
    # round-10 batch 7 documents member: fixed-round peel over the
    # minhash near-dup edge chain.
    "k_core_graph",
    # round-11 structure family documents members (uncapped, linear
    # by construction: HRW is one explode + one agg per doc; the MW
    # reweight joins grouped grains only);
    # label_propagation / bcubed_eval cap doc_id for oracle
    # boundedness and share the minhash-edge kernel already here.
    "shard_rendezvous",
    "doremi_reweight",
    # round-12 multimodal members (documents-only, uncapped): magic
    # dispatch is a narrow hex-prefix projection + a bounded rollup;
    # payload entropy explodes to the per-BYTE grain — the heaviest
    # linear kernel on this curve, which is the point of measuring it.
    "media_magic_dispatch",
    "media_payload_entropy",
    # round-12 packing profile: one token-count projection + ONE
    # bucketed prefix shuffle + a 1-row agg.
    "sequence_packing",
    # round-13 multimodal members (documents-only, uncapped): IHDR
    # parse is a fixed-offset hex projection + a bounded histogram
    # agg; ext-vs-magic quarantine is two narrow per-row routes + a
    # bounded (route x detected) rollup.
    "media_ihdr_histogram",
    "media_ext_quarantine",
    # the little-endian twin of the IHDR parse — same narrow shape
    "media_wav_census",
]


def main() -> None:
    from resume_jd_matcher_spark import queries as Q
    from resume_jd_matcher_spark.operators import dedup
    from resume_jd_matcher_spark.session import get_spark

    spark = get_spark("scale-curve")
    dirs = build_corpora(spark)

    cases = {n: Q._REGISTRY[n].fn for n in REGISTERED}
    cases.update(kernels())

    def run(fn, sf_dir) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        dedup.release_persisted()
        return dt

    # warm the JVM + both corpus scans
    for d in dirs.values():
        spark.read.parquet(os.path.join(d, "documents.parquet")).count()

    rows = []
    for name, fn in cases.items():
        t1 = min(run(fn, dirs["1x"]) for _ in range(2))
        t10 = min(run(fn, dirs[f"{MULT}x"]) for _ in range(2))
        ratio = t10 / t1 if t1 > 0 else float("inf")
        flag = "**SUPER-LINEAR**" if ratio > SUPERLINEAR_AT else "ok"
        rows.append((name, t1, t10, ratio, flag))
        print(f"{name}: {t1:.2f}s -> {t10:.2f}s  ratio {ratio:.1f}  {flag}")

    lines = [
        "## Measured scale curve (rounds 7-10)",
        "",
        f"Synthetic corpus (sources/synthdocs, deterministic): {N_BASE} docs",
        f"vs {N_BASE * MULT} docs ({MULT}x) on local[32]; best-of-2 wall",
        "seconds per operator; pair-heavy kernels run UNCAPPED (the",
        "registered twins cap doc_id for oracle boundedness). Linear-ish",
        f"ratio (≤ {SUPERLINEAR_AT:.0f} = {MULT}x + 35% noise margin) = the",
        "banded/bucketed design holds; anything above is flagged.",
        "",
        "| operator | 1x s | 10x s | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name, t1, t10, ratio, flag in rows:
        lines.append(
            f"| `{name}` | {t1:.2f} | {t10:.2f} | {ratio:.1f} | {flag} |"
        )
    block = "\n".join(lines)

    # marker-delimited: replaces ONLY this tool's section — the r8
    # heading-prefix regex also matched the relational section and
    # clobbered it (tools/scale_md.py docstring).
    from scale_md import write_section

    write_section("text", block)
    print("wrote SCALE.md")
    spark.stop()


if __name__ == "__main__":
    main()
