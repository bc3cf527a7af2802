"""The benchmark workloads. Each drives the engine's public functions the
way a caller would and checks every answer with its oracle.

An operation runs in one of two modes. Untraced, it is the plain call
chain, timed end to end. Traced, every layer's output is planned and
materialized (``localCheckpoint``) inside its own span before the next
layer reads it, so each layer's span holds its own work; the spans'
children split it into DataFrame construction (``plans.build``),
planning (``plans.plan``) and Spark execution (``spark.exec``).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracles
from resume_jd_matcher_spark.functions.parsing import assemble_prompt, mean_score, parse_scores
from resume_jd_matcher_spark.operators.cluster import dedup_clusters
from resume_jd_matcher_spark.operators.dedup import dedup_exact, minhash_lsh_candidates, release_persisted
from resume_jd_matcher_spark.operators.embedding import embed_documents, embed_query
from resume_jd_matcher_spark.operators.scoring import llm_transform
from resume_jd_matcher_spark.operators.sectioner import chunk_by_section
from resume_jd_matcher_spark.operators.similarity_blas import topk_similarity_blas
from resume_jd_matcher_spark.sources.io import load_table, write_parquet
from tracing import Tracer, plan_metrics

DIM = oracles.EMBED_DIM
WARMUP_OP = 1_000_000  # op numbers of set-up warm-up inputs; never measured


@dataclass
class OpResult:
    latency_s: float
    docs: int
    error: str | None
    counts: dict[str, float] = field(default_factory=dict)
    plans: list = field(default_factory=list)  # DataFrames whose plan metrics to read


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, workdir: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.workdir = workdir
        self.seed = seed
        self.partitions: dict[str, int] = {}

    # one set-up repetition: build resident state, run an untimed warm-up
    def setup_rep(self, rep: int) -> None:
        self.op(WARMUP_OP + rep, traced=False, check=False)

    def finish_setup(self) -> str | None:
        """Benchmark-side preparation after set-up (not timed); returns
        a failure reason if the set-up output is wrong."""
        return None

    def op(self, i: int, traced: bool, check: bool = True) -> OpResult:
        raise NotImplementedError

    # -- traced-mode helpers --------------------------------------------

    def stage(self, name: str, build, res: OpResult):
        """Build one layer's DataFrame, plan it and materialize it, each
        step in its own span; the next layer reads the checkpoint."""
        with self.tr.span(name):
            with self.tr.span("plans.build"):
                df = build()
            with self.tr.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tr.span("spark.exec"):
                out = df.localCheckpoint(eager=True)
        res.plans.append(df)
        return out

    def action(self, df, fn, res: OpResult):
        with self.tr.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tr.span("spark.exec"):
            out = fn(df)
        res.plans.append(df)
        return out

    def upload(self, pdf: pd.DataFrame, key: str):
        with self.tr.span("sources.upload"):
            df = self.spark.createDataFrame(pdf)
        if key not in self.partitions:
            self.partitions[key] = df.rdd.getNumPartitions()
        return df


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.name.endswith(".parquet"))


class Shortlist(Workload):
    """A recruiter's /shortlist: one JD in, top-k resumes out, closed
    loop with one client over a persisted hash-embedded index."""

    name = "shortlist"
    N_INDEX = 20_000

    def __init__(self, *a):
        super().__init__(*a)
        self.index = None
        self.mat: np.ndarray | None = None
        self.texts: list[str] = []

    def setup_rep(self, rep: int) -> None:
        tr = self.tr
        self.texts = gen.index_resumes(self.seed, self.N_INDEX)
        if self.index is not None:
            self.index.unpersist()
        df = self.upload(pd.DataFrame({"vec_id": np.arange(self.N_INDEX), "text": self.texts}), "index_upload")
        with tr.span("embedding.docs"):
            emb = embed_documents(df, id_col="vec_id", dim=DIM)
            with tr.span("sources.write"):
                write_parquet(emb, os.path.join(self.workdir, "resume_index.parquet"))
        with tr.span("sources.read"):
            self.index = load_table(self.spark, self.workdir, "resume_index").cache()
            self.index.count()
        self.partitions["index"] = self.index.rdd.getNumPartitions()
        super().setup_rep(rep)

    def finish_setup(self) -> str | None:
        pdf = self.index.orderBy("vec_id").toPandas()
        if not np.array_equal(pdf["vec_id"].to_numpy(), np.arange(self.N_INDEX)):
            return "index: ids are not 0..N-1"
        self.mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        rng = np.random.default_rng(self.seed)
        sample = {int(i): self.texts[i] for i in rng.choice(self.N_INDEX, 200, replace=False)}
        return oracles.check_embeddings(sample, {i: self.mat[i] for i in sample})

    def op(self, i: int, traced: bool, check: bool = True) -> OpResult:
        jd = gen.jd_text(self.seed, i)
        res = OpResult(0.0, self.N_INDEX, None)
        t0 = time.perf_counter()
        if traced:
            q = self.stage("embedding.query", lambda: embed_query(self.spark, jd, dim=DIM), res)
            with self.tr.span("similarity_blas.call"):
                top = topk_similarity_blas(self.index, q, k=oracles.SHORTLIST_K)
            with self.tr.span("similarity_blas.exec"):
                rows = self.action(top, lambda d: d.collect(), res)
        else:
            q = embed_query(self.spark, jd, dim=DIM)
            rows = topk_similarity_blas(self.index, q, k=oracles.SHORTLIST_K).collect()
        res.latency_s = time.perf_counter() - t0
        if traced:
            partial = plan_metrics(top)["pythonNumRowsReceived"]
            res.counts["similarity_blas.partial_rows"] = partial
            res.counts["similarity_blas.topk_yield"] = oracles.SHORTLIST_K / partial if partial else 0.0
        if check:
            res.error = oracles.check_shortlist(self.mat, jd, [(r.vec_id, r.dist, r.score) for r in rows])
        return res


class IngestDedup(Workload):
    """Upload batches: drop exact re-uploads, cluster near-duplicate
    re-uploads (MinHash-LSH, estimated-Jaccard threshold, connected
    components), then section, prompt, LLM-score (stub), parse and
    write the scores of the remaining resumes; embed and write them."""

    name = "ingest_dedup"
    BATCH = 2_000
    # set-up warms the same code paths on a smaller batch: the batch
    # size only changes how long the warm-up takes
    WARMUP_BATCH = 50
    THRESHOLD = 0.7

    def setup_rep(self, rep: int) -> None:
        self.op(WARMUP_OP + rep, traced=False, check=False, n=self.WARMUP_BATCH)

    def op(self, i: int, traced: bool, check: bool = True, n: int | None = None) -> OpResult:
        n = n or self.BATCH
        batch = gen.upload_batch(self.seed, i, n)
        pdf = pd.DataFrame(
            {"doc_id": [r.doc_id for r in batch.resumes], "text": [r.text for r in batch.resumes]}
        )
        out = os.path.join(self.workdir, f"op{i}")
        p_scores, p_emb = os.path.join(out, "scores"), os.path.join(out, "embeddings")
        res = OpResult(0.0, n, None)

        def survivors_of(df, exact):
            return df.join(exact.select(F.col("rep_doc_id").alias("doc_id")), "doc_id", "left_semi")

        surv = None
        t0 = time.perf_counter()
        try:
            df = self.upload(pdf, "upload")
            if traced:
                exact = self.stage("dedup.exact", lambda: dedup_exact(df), res)
                exact_rows = exact.collect()
                surv = self.stage("dedup.survivors", lambda: survivors_of(df, exact), res)
                cand = self.stage("dedup.minhash", lambda: minhash_lsh_candidates(surv), res)
                kept = cand.filter(F.col("est_jaccard") >= self.THRESHOLD)
                with self.tr.span("cluster.components"):
                    cl_rows = self.action(dedup_clusters(kept), lambda d: d.collect(), res)
                secs = self.stage("sectioner.exec", lambda: chunk_by_section(surv), res)
                prompts = self.stage("parsing.assemble", lambda: assemble_prompt(secs, batch.jd), res)
                resp = self.stage("scoring.llm", lambda: llm_transform(prompts, "score_prompt"), res)
                scores = self.stage("parsing.parse", lambda: parse_scores(resp), res)
                final = self.stage("parsing.mean", lambda: mean_score(scores), res)
                with self.tr.span("sources.write"), self.tr.span("spark.exec"):
                    write_parquet(final, p_scores)
                emb = self.stage("embedding.docs", lambda: embed_documents(surv, dim=DIM), res)
                with self.tr.span("sources.write"), self.tr.span("spark.exec"):
                    write_parquet(emb, p_emb)
            else:
                exact = dedup_exact(df)
                # the de-duplicated batch feeds three consumers: keep it
                surv = survivors_of(df, exact).persist()
                exact_rows = exact.collect()
                kept = minhash_lsh_candidates(surv).filter(F.col("est_jaccard") >= self.THRESHOLD)
                cl_rows = dedup_clusters(kept).collect()
                prompts = assemble_prompt(chunk_by_section(surv), batch.jd)
                write_parquet(mean_score(parse_scores(llm_transform(prompts, "score_prompt"))), p_scores)
                write_parquet(embed_documents(surv, dim=DIM), p_emb)
            res.latency_s = time.perf_counter() - t0
            if traced:
                n_cand, n_prompts = cand.count(), prompts.count()
                res.counts["dedup.candidate_pairs"] = n_cand
                res.counts["dedup.candidate_yield"] = kept.count() / n_cand if n_cand else 0.0
                res.counts["sectioner.sections_out"] = secs.count()
                res.counts["parsing.valid_doc_ratio"] = final.count() / n_prompts if n_prompts else 0.0
                res.counts["sources.bytes_written"] = _dir_bytes(p_scores) + _dir_bytes(p_emb)
        finally:
            release_persisted()
            if surv is not None:
                surv.unpersist()
        if check:
            res.error, recall = oracles.check_dedup(
                batch,
                [(r.rep_doc_id, r.n_dups) for r in exact_rows],
                [(r.doc_id, r.cluster_rep, r.cluster_size) for r in cl_rows],
            )
            if traced:
                res.counts["dedup.planted_recall"] = recall
            if res.error is None:
                t = pq.read_table(p_scores).to_pydict()
                res.error = oracles.check_ingest(batch, dict(zip(t["doc_id"], t["final_score"])))
            if res.error is None:
                e = pq.read_table(p_emb).to_pydict()
                reps = {g[0] for g in batch.exact_groups}
                res.error = oracles.check_embeddings(
                    {r.doc_id: r.text for r in batch.resumes if r.doc_id in reps},
                    dict(zip(e["doc_id"], e["embedding"])),
                )
        shutil.rmtree(out, ignore_errors=True)
        return res


WORKLOADS = {w.name: w for w in (Shortlist, IngestDedup)}
