"""Independent oracles for the benchmark workloads, plus the
percentile rule used for every reported latency.

Each ``check_*`` returns ``None`` when the program's output is right
and a one-line reason when it is not; a wrong answer counts as a
failed operation. None of them calls into the engine: they recompute
the expected answer from the generator's inputs with NumPy and the
standard library.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from gen import UploadBatch

EMBED_DIM = 64
SHORTLIST_K = 10
RECALL_FLOOR = 0.9


def percentile(values: list[float], q: float) -> dict:
    """Linear-interpolation percentile (``q`` in 0..100) with its
    sample count and how many samples lie strictly above it, so a
    reader can tell whether a tail figure rests on enough data."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": v, "n": len(xs), "n_beyond": sum(1 for x in xs if x > v)}


def hash_embed(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """The md5 hash embedding spec: per dimension d, the first 8 hex
    digits of md5("<text>#dim<d>") mapped to [-1, 1), rounded to 6."""
    out = np.empty(dim)
    for d in range(dim):
        h = int(hashlib.md5(f"{text}#dim{d}".encode("utf-8")).hexdigest()[:8], 16)
        out[d] = round(h / 4294967296.0 * 2.0 - 1.0, 6)
    return out


def check_embeddings(texts: dict[int, str], got: dict[int, list[float]]) -> str | None:
    """Written embeddings: one row per document, each equal to the
    hash embedding of its text."""
    if set(got) != set(texts):
        return f"embeddings: {len(got)} ids written for {len(texts)} documents"
    for doc_id, vec in got.items():
        if not np.allclose(np.asarray(vec), hash_embed(texts[doc_id]), atol=1e-9, rtol=0):
            return f"embeddings: vector of doc {doc_id} differs"
    return None


def check_shortlist(index_mat: np.ndarray, jd: str, rows: list[tuple[int, float, float]]) -> str | None:
    """Top-k by brute force: squared L2 over the index (row i has id i),
    ordered by (distance, id); score = round(10 / (1 + d), 2).

    ``rows`` are the program's (vec_id, dist, score). A tie broken the
    other way is accepted: each rank must carry a document at the
    oracle's distance for that rank.
    """
    q = hash_embed(jd)
    diff = index_mat - q
    d2 = np.einsum("ij,ij->i", diff, diff)
    order = np.lexsort((np.arange(len(d2)), d2))[:SHORTLIST_K]
    if len(rows) != len(order):
        return f"shortlist: {len(rows)} rows, expected {len(order)}"
    got = sorted(rows, key=lambda r: (r[1], r[0]))
    if len({r[0] for r in got}) != len(got):
        return "shortlist: duplicate ids"
    for rank, (vid, dist, score) in enumerate(got):
        want = d2[order[rank]]
        if not 0 <= vid < len(d2) or abs(d2[vid] - want) > 1e-9 * max(1.0, want):
            return f"shortlist: rank {rank} is id {vid}, expected id {order[rank]}"
        if abs(dist - round(want, 4)) > 1.5e-4:
            return f"shortlist: rank {rank} dist {dist}, expected {want:.6f}"
        if abs(score - round(10.0 / (1.0 + want), 2)) > 0.01 + 1e-9:
            return f"shortlist: rank {rank} score {score}, expected {10.0 / (1.0 + want):.4f}"
    return None


def _stub_score(body: str, jd_toks: set[str]) -> int:
    """The stub LLM's rule: distinct lowercase whitespace tokens shared
    with the JD, clamped to 10."""
    return min(10, len(set(body.lower().split()) & jd_toks))


def expected_scores(batch: UploadBatch) -> dict[int, float]:
    """Only exact-duplicate representatives (lowest id of each group)
    are scored: final_score = round(mean of its section scores, 2); a
    resume without any recognised section has no row."""
    jd_toks = set(batch.jd.lower().split())
    reps = {g[0] for g in batch.exact_groups}
    out = {}
    for r in batch.resumes:
        if r.doc_id in reps and r.sections:
            scores = [_stub_score(b, jd_toks) for b in r.sections.values()]
            out[r.doc_id] = round(sum(scores) / len(scores), 2)
    return out


def check_ingest(batch: UploadBatch, got: dict[int, float]) -> str | None:
    want = expected_scores(batch)
    if set(got) != set(want):
        extra, missing = set(got) - set(want), set(want) - set(got)
        return f"ingest: {len(extra)} unexpected and {len(missing)} missing score rows"
    for doc_id, v in want.items():
        if abs(got[doc_id] - v) > 1e-6:
            return f"ingest: doc {doc_id} final_score {got[doc_id]}, expected {v}"
    return None


def planted_recall(batch: UploadBatch, clusters: dict[int, int]) -> float:
    """Share of planted near-duplicate pairs that end in one cluster,
    after resolving each document to its exact-duplicate representative
    and then to its cluster representative."""
    exact_rep = {d: g[0] for g in batch.exact_groups for d in g}

    def resolve(d: int) -> int:
        r = exact_rep[d]
        return clusters.get(r, r)

    hit = sum(1 for a, b in batch.near_pairs if resolve(a) == resolve(b))
    return hit / len(batch.near_pairs)


def check_dedup(
    batch: UploadBatch,
    exact_rows: list[tuple[int, int]],
    cluster_rows: list[tuple[int, int, int]],
) -> tuple[str | None, float]:
    """Exact groups must match the planted groups exactly, as
    (representative = lowest id, size) pairs; cluster sizes must agree
    with the membership; planted near-duplicate recall must reach
    ``RECALL_FLOOR``. Returns (reason or None, recall)."""
    want = sorted((g[0], len(g)) for g in batch.exact_groups)
    if sorted(exact_rows) != want:
        return f"dedup: {len(exact_rows)} exact groups differ from the {len(want)} planted", 0.0
    members: dict[int, int] = {}
    for _, rep, _ in cluster_rows:
        members[rep] = members.get(rep, 0) + 1
    for doc_id, rep, size in cluster_rows:
        if members[rep] != size:
            return f"dedup: cluster {rep} reports size {size}, has {members[rep]}", 0.0
    recall = planted_recall(batch, {d: rep for d, rep, _ in cluster_rows})
    if recall < RECALL_FLOOR:
        return f"dedup: planted recall {recall:.3f} < {RECALL_FLOOR}", recall
    return None, recall
