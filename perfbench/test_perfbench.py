"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import oracles  # noqa: E402
from tracing import Tracer  # noqa: E402


# -- generator ----------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    assert gen.index_resumes(3, 50) == gen.index_resumes(3, 50)
    assert gen.index_resumes(3, 50) != gen.index_resumes(4, 50)
    assert gen.jd_text(3, 7) == gen.jd_text(3, 7)
    assert gen.jd_text(3, 7) != gen.jd_text(4, 7)
    a, b = gen.upload_batch(3, 2, 60), gen.upload_batch(3, 2, 60)
    assert a == b
    assert a.resumes != gen.upload_batch(4, 2, 60).resumes
    assert a.resumes != gen.upload_batch(3, 3, 60).resumes


def test_job_descriptions_never_repeat():
    jds = [gen.jd_text(5, i) for i in range(200)]
    assert len(set(jds)) == len(jds)


def test_upload_batch_covers_every_edge_case():
    batch = gen.upload_batch(1, 0, 400)
    kinds = {r.kind for r in batch.resumes}
    assert kinds == {k for k, _ in gen._KINDS}
    for r in batch.resumes:
        assert (r.kind == "headerless") == (not r.sections)
    assert any(b == "" for r in batch.resumes for b in r.sections.values())


def test_planted_sections_follow_the_sectioner_contract():
    from resume_jd_matcher_spark.operators.sectioner import _chunk_one

    for r in gen.upload_batch(2, 0, 400).resumes:
        assert dict(_chunk_one(r.text)) == r.sections, (r.kind, r.text)


def test_upload_batch_plants_reuploads():
    n = 400
    b = gen.upload_batch(1, 2, n)
    ids = [r.doc_id for r in b.resumes]
    assert sorted(ids) == list(range(2 * n, 3 * n))
    assert sorted(d for g in b.exact_groups for d in g) == sorted(ids)
    text = {r.doc_id: r.text for r in b.resumes}
    norm = {d: " ".join(t.split()).lower() for d, t in text.items()}
    for g in b.exact_groups:
        assert len({norm[d] for d in g}) == 1
    assert len({norm[g[0]] for g in b.exact_groups}) == len(b.exact_groups)
    assert sum(len(g) - 1 for g in b.exact_groups) == int(n * gen.EXACT_RATE)
    assert len(b.near_pairs) == int(n * gen.NEAR_RATE)
    for a, e in b.near_pairs:
        assert set(norm[e].split()) <= set(norm[a].split()) and norm[a] != norm[e]


# -- percentile rule ------------------------------------------------------


def test_percentile_reports_its_sample_count():
    p = oracles.percentile([float(x) for x in range(1, 11)], 90)
    assert p["n"] == 10
    assert p["value"] == pytest.approx(9.1)
    assert p["n_beyond"] == 1
    assert oracles.percentile([2.0, 1.0, 3.0], 50) == {"value": 2.0, "n": 3, "n_beyond": 1}
    with pytest.raises(ValueError):
        oracles.percentile([], 50)


# -- oracles reject perturbed results -----------------------------------


def _shortlist_answer(mat, jd):
    q = oracles.hash_embed(jd)
    d2 = ((mat - q) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(d2)), d2))[: oracles.SHORTLIST_K]
    return [(int(i), round(float(d2[i]), 4), round(10.0 / (1.0 + d2[i]), 2)) for i in order]


def test_shortlist_oracle_accepts_right_and_rejects_perturbed():
    mat = np.stack([oracles.hash_embed(t) for t in gen.index_resumes(1, 300)])
    jd = gen.jd_text(1, 0)
    rows = _shortlist_answer(mat, jd)
    assert oracles.check_shortlist(mat, jd, rows) is None
    assert oracles.check_shortlist(mat, jd, rows[::-1]) is None  # row order is free
    swapped = [(rows[-1][0] + 1 if rows[-1][0] + 1 < 300 else 0, *rows[-1][1:])]
    bad = [
        rows[:-1],  # a row missing
        rows[:-1] + swapped,  # a wrong document
        [(rows[0][0], rows[0][1] + 0.01, rows[0][2])] + rows[1:],  # a wrong distance
        [(rows[0][0], rows[0][1], rows[0][2] + 0.05)] + rows[1:],  # a wrong score
        [rows[0]] + rows[:-1],  # a duplicate
    ]
    for b in bad:
        assert oracles.check_shortlist(mat, jd, b) is not None


def test_ingest_oracle_accepts_right_and_rejects_perturbed():
    batch = gen.upload_batch(1, 0, 200)
    want = oracles.expected_scores(batch)
    assert oracles.check_ingest(batch, dict(want)) is None
    reps = {g[0] for g in batch.exact_groups}
    doc = next(iter(want))
    headerless = next(r.doc_id for r in batch.resumes if r.kind == "headerless" and r.doc_id in reps)
    reupload = next(d for g in batch.exact_groups for d in g[1:])  # must not be scored
    for bad in (
        {**want, doc: want[doc] + 0.01},
        {k: v for k, v in want.items() if k != doc},
        {**want, headerless: 0.0},
        {**want, reupload: 5.0},
    ):
        assert oracles.check_ingest(batch, bad) is not None


def test_embedding_oracle_rejects_perturbed_vector():
    texts = {i: t for i, t in enumerate(gen.index_resumes(2, 5))}
    vecs = {i: list(oracles.hash_embed(t)) for i, t in texts.items()}
    assert oracles.check_embeddings(texts, vecs) is None
    vecs[3][7] += 1e-6
    assert oracles.check_embeddings(texts, vecs) is not None
    assert oracles.check_embeddings(texts, {i: v for i, v in vecs.items() if i}) is not None


def test_dedup_oracle_accepts_right_and_rejects_perturbed():
    b = gen.upload_batch(1, 0, 400)
    exact = [(g[0], len(g)) for g in b.exact_groups]
    rep = {d: g[0] for g in b.exact_groups for d in g}
    members: dict[int, list[int]] = {}
    for a, e in b.near_pairs:
        members.setdefault(rep[a], [rep[a]]).append(e)
    clusters = [(d, r, len(ms)) for r, ms in members.items() for d in ms]
    err, recall = oracles.check_dedup(b, exact, clusters)
    assert err is None and recall == 1.0

    big = max(exact, key=lambda e: e[1])
    assert oracles.check_dedup(b, [e for e in exact if e != big] + [(big[0], big[1] + 1)], clusters)[0]
    assert oracles.check_dedup(b, exact[1:], clusters)[0]
    wrong_size = [(d, r, n + 1) for d, r, n in clusters]
    assert oracles.check_dedup(b, exact, wrong_size)[0]
    assert oracles.check_dedup(b, exact, clusters[: len(clusters) // 2])[0]


# -- tracer -------------------------------------------------------------------


def test_tracer_self_time_and_per_op_sums():
    tr = Tracer(True)
    tr.op = 0
    with tr.span("outer"):
        with tr.span("inner") as rec:
            rec["rows"] = 5
        with tr.span("inner"):
            pass
    selft = tr.self_time()
    outer = tr.spans[0]
    kids = sum(s["end"] - s["start"] for s in tr.spans[1:])
    assert selft[0] == pytest.approx(outer["end"] - outer["start"] - kids)
    op = tr.per_op()[0]
    assert op["inner_s"] == pytest.approx(kids)
    assert op["rows"] == 5
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
