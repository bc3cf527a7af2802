"""Recorded-vector contract tests for the sentence-transformers
backend (operators/embedding.py — the reference's real model seam,
vectorDB.py:7, constants.py:5).

The library is not installed in this environment, so the import-gated
path is exercised against a test-only stand-in that returns RECORDED
input→vector pairs — the same fake-dependency/golden pattern as
tests/test_llm_http.py uses for the Ollama seam. One copy of the fake
is injected driver-side (unit contract), one is shipped to executor
Python workers via addPyFile (full pandas_udf path). The hash backend's
kernel is checked here too, against its per-dimension formula.
"""

from __future__ import annotations

import hashlib
import sys
import types

import pandas as pd
import pytest

MODEL_NAME = "sentence-transformers/all-MiniLM-L6-v2"

RECORDED = {
    "spark engine": [0.11, 0.22, 0.33, 0.44],
    "resume text": [0.55, 0.66, 0.77, 0.88],
    "": [0.0, 0.0, 0.0, 0.0],  # None must arrive here via fillna("")
}

# Source form of the fake, shipped to executors with addPyFile (a
# driver-side sys.modules patch cannot reach worker processes).
FAKE_MODULE_SRC = f'''
"""Test-only stand-in for sentence_transformers (recorded vectors)."""
RECORDED = {RECORDED!r}


class SentenceTransformer:
    def __init__(self, name):
        if name != {MODEL_NAME!r}:
            raise ValueError("unexpected model: " + name)

    def encode(self, texts, convert_to_numpy=True):
        import numpy as np

        return np.array([RECORDED[t] for t in texts])
'''


def test_st_backend_driver_contract(monkeypatch):
    """_make_st_backend loads the model once, passes the pinned model
    name, fills None with "", and returns plain float lists."""
    n_loads = {"n": 0}

    class FakeST:
        def __init__(self, name):
            assert name == MODEL_NAME
            n_loads["n"] += 1

        def encode(self, texts, convert_to_numpy=True):
            import numpy as np

            return np.array([RECORDED[t] for t in texts])

    fake = types.ModuleType("sentence_transformers")
    fake.SentenceTransformer = FakeST
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    from resume_jd_matcher_spark.operators.embedding import _make_st_backend

    fn = _make_st_backend(MODEL_NAME)
    out = fn(pd.Series(["spark engine", None, "resume text"]))
    assert list(out) == [
        RECORDED["spark engine"],
        RECORDED[""],  # the fillna("") contract
        RECORDED["resume text"],
    ]
    fn(pd.Series(["spark engine"]))
    assert n_loads["n"] == 1  # one model per worker, amortized


def _hash_embed_reference(text: str, dim: int) -> list[float]:
    """The hash embedding spec, one md5 per dimension: the first 8 hex
    digits of md5("<text>#dim<d>") mapped to [-1, 1), rounded to 6."""
    return [
        round(
            int(hashlib.md5(f"{text}#dim{d}".encode("utf-8")).hexdigest()[:8], 16)
            / 4294967296.0 * 2.0 - 1.0,
            6,
        )
        for d in range(dim)
    ]


@pytest.mark.parametrize("dim", [8, 64])
def test_hash_backend_equals_per_dimension_formula(dim):
    from resume_jd_matcher_spark.operators.embedding import _make_hash_backend

    texts = ["", None, "spark engine", "Résumé — 東京, naïve ſkills\n#dim3"]
    got = list(_make_hash_backend(dim)(pd.Series(texts)))
    want = [_hash_embed_reference(t if t is not None else "", dim) for t in texts]
    assert got == want
    assert got[1] == got[0]  # None embeds as ""


@pytest.mark.slow
def test_st_backend_udf_end_to_end(spark, tmp_path):
    """Backend selection through embed_documents(backend=
    'sentence-transformers') runs the real pandas_udf path on executor
    workers (fake module shipped via addPyFile; the real library never
    imports) and lands the recorded vectors."""
    mod = tmp_path / "sentence_transformers.py"
    mod.write_text(FAKE_MODULE_SRC)
    spark.sparkContext.addPyFile(str(mod))

    from resume_jd_matcher_spark.operators.embedding import embed_documents

    docs = spark.createDataFrame(
        [(1, "spark engine"), (2, "resume text"), (3, None)],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["embedding"]
        for r in embed_documents(docs, backend="sentence-transformers").collect()
    }
    assert got == {
        1: RECORDED["spark engine"],
        2: RECORDED["resume text"],
        3: RECORDED[""],
    }


def test_pca_top_component_captures_planted_direction(spark):
    """Vectors spread mostly along a planted direction: the power
    iteration must recover it (|cos| ~ 1 with the plant) and the
    eigenvalue must be the dominant variance; projections of points on
    opposite sides of the mean have opposite signs."""
    import math

    from resume_jd_matcher_spark.operators.embedding import pca_power_top1

    d = 8
    plant = [1.0 / math.sqrt(2), 1.0 / math.sqrt(2)] + [0.0] * (d - 2)
    rows = []
    for i in range(-50, 50):
        base = [i * 0.1 * c for c in plant]
        base[2] += 0.001 * (i % 7)  # small off-axis noise
        rows.append((i + 50, [float(x) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    proj, v, ev = pca_power_top1(df, n_iter=12)
    cos = abs(sum(a * b for a, b in zip(v, plant)))
    assert cos > 0.999, f"eigvec {v} vs plant {plant}"
    assert ev > 1.0  # dominant variance along the plant
    got = {r["vec_id"]: r["pc1_proj"] for r in proj.collect()}
    assert got[0] * got[99] < 0  # opposite sides of the mean


def test_jl_projection_preserves_distances_on_average(spark):
    """JL guarantee (k=16): pairwise squared distances in the
    projected space concentrate around the originals — the median
    ratio over crafted pairs must sit well inside (1±0.5), and the
    projection must be deterministic across calls."""
    import itertools
    import random

    from resume_jd_matcher_spark.operators.embedding import jl_project

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["proj"] for r in jl_project(df).collect()}
    orig = {
        i: [float(np_x) for np_x in v] for i, v in rows
    }

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = sorted(
        sq(got[a], got[b]) / sq(orig[a], orig[b])
        for a, b in itertools.combinations(range(20), 2)
    )
    med = ratios[len(ratios) // 2]
    assert 0.5 < med < 1.5, f"median distance ratio {med}"

    again = {r["vec_id"]: r["proj"] for r in jl_project(df).collect()}
    assert got == again


def test_jl_projection_null_vec_propagates_wrong_dim_raises(spark):
    """ADVICE r6: a NULL embedding must propagate to a NULL projection
    (size(NULL) is NULL and used to fall through to the raise_error
    arm, aborting the job); a genuinely wrong-length vector must still
    fail fast."""
    import pytest as _pytest

    from resume_jd_matcher_spark.operators.embedding import jl_project

    df = spark.createDataFrame(
        [(0, [1.0] * 64), (1, None)], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r["proj"] for r in jl_project(df).collect()}
    assert got[0] is not None and len(got[0]) == 16
    assert got[1] is None or all(x is None for x in got[1])

    bad = spark.createDataFrame(
        [(0, [1.0] * 63)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(Exception, match="jl_project"):
        jl_project(bad).collect()


def test_pca_covariance_partials_merge_across_slices(spark):
    """The per-batch CᵀC partials are mergeable by sum: computing the
    top component over the union must equal computing it over the
    whole table directly (determinism of the distributed Gram
    accumulation — the property that lets per-day covariances roll
    up)."""
    from resume_jd_matcher_spark.operators.embedding import pca_power_top1
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    h1 = emb.filter("vec_id % 2 = 0")
    h2 = emb.filter("vec_id % 2 = 1")
    whole_proj, v_whole, ev_whole = pca_power_top1(emb, n_iter=8)
    union_proj, v_union, ev_union = pca_power_top1(
        h1.unionByName(h2), n_iter=8
    )
    assert v_whole == v_union
    assert ev_whole == ev_union
    assert sorted(map(tuple, whole_proj.collect())) == sorted(
        map(tuple, union_proj.collect())
    )
