"""V1/V2: batch embedding operators (SURVEY.md §2.C).

The reference embeds with sentence-transformers/all-MiniLM-L6-v2
(``/root/reference/vectorDB.py:7,12,26,38``; ``rag_model.py:16,56``),
reloading the model on every request. The engine's pattern is an
iterator-form Pandas UDF: the model loads ONCE per executor Python
worker, then streams Arrow batches — the per-request reload (the
reference's biggest anti-optimization, SURVEY.md §4) disappears by
construction.

Backends are pluggable by name. ``hash``: a deterministic, dependency-
free embedder (md5-derived values per dimension) that keeps the whole
DAG oracle-checkable — the per-dim arithmetic is reproducible in SQL.
``sentence-transformers``: the reference's real model, used when the
library is installed (not in this environment — import-gated, never a
hard dependency).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from resume_jd_matcher_spark.sources.io import driver_frame

DEFAULT_DIM = 8


def _hash_embed_one(text: str, dim: int) -> list[float]:
    # md5(f"{text}#dim{d}") per dimension, with the text hashed once:
    # each dimension resumes a copy of the text's md5 state.
    base = hashlib.md5(text.encode("utf-8"))
    out = []
    for d in range(dim):
        h = base.copy()
        h.update(b"#dim%d" % d)
        out.append(round(int(h.hexdigest()[:8], 16) / 4294967296.0 * 2.0 - 1.0, 6))
    return out


def _make_hash_backend(dim: int) -> Callable[[pd.Series], pd.Series]:
    def embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _hash_embed_one(t if t is not None else "", dim))

    return embed


def _make_st_backend(model_name: str) -> Callable[[pd.Series], pd.Series]:
    # Loaded lazily inside the executor worker; one model per worker.
    from sentence_transformers import SentenceTransformer  # import-gated

    model = SentenceTransformer(model_name)

    def embed(texts: pd.Series) -> pd.Series:
        vecs = model.encode(texts.fillna("").tolist(), convert_to_numpy=True)
        return pd.Series([v.astype(float).tolist() for v in vecs])

    return embed


def _make_http_backend(url: str, model_name: str) -> Callable[[pd.Series], pd.Series]:
    """Ollama-protocol embedding client (POST {url}/api/embeddings with
    {model, prompt} → {"embedding": [...]}) — the serving shape behind
    the reference's model (vectorDB.py:7; an Ollama/TEI endpoint at
    constants.py:3's localhost:11434). stdlib urllib only; constructed
    once per worker like every other backend, rows posted sequentially
    within the Arrow batch. Contract-tested against a fake server in
    tests/test_llm_http.py."""
    import json
    import urllib.request

    def embed(texts: pd.Series) -> pd.Series:
        def call(text: str) -> list[float]:
            body = json.dumps(
                {"model": model_name, "prompt": text if text is not None else ""}
            ).encode("utf-8")
            req = urllib.request.Request(
                f"{url.rstrip('/')}/api/embeddings",
                data=body,
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=120) as resp:
                return [float(x) for x in json.loads(resp.read().decode("utf-8"))["embedding"]]

        return texts.map(call)

    return embed


def _make_backend(
    backend: str, dim: int, backend_url: str, model_name: str
) -> Callable[[pd.Series], pd.Series]:
    """The embedding function of a named backend: TEXT series → vector
    series. Executors build it once per worker, the driver per query."""
    if backend == "hash":
        return _make_hash_backend(dim)
    if backend == "sentence-transformers":
        return _make_st_backend("sentence-transformers/all-MiniLM-L6-v2")
    if backend == "http":
        return _make_http_backend(backend_url, model_name)
    raise ValueError(f"unknown embedding backend: {backend}")


def embedder_udf(
    backend: str = "hash",
    dim: int = DEFAULT_DIM,
    backend_url: str = "http://localhost:11434",
    model_name: str = "all-minilm",
):
    """Iterator pandas_udf: TEXT → ARRAY<DOUBLE>. The backend is
    constructed once per worker, amortized over all batches."""

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def embed_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        fn = _make_backend(backend, dim, backend_url, model_name)
        for texts in batches:
            yield fn(texts)

    return embed_udf


def embed_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backend: str = "hash",
    dim: int = DEFAULT_DIM,
    backend_url: str = "http://localhost:11434",
    model_name: str = "all-minilm",
) -> DataFrame:
    """V1: corpus embedding → (id, embedding ARRAY<DOUBLE>). Persist the
    result (parquet) rather than recomputing per query — the engine fix
    for the reference's per-request re-embedding (app.py:86,160)."""
    return df.select(
        F.col(id_col),
        embedder_udf(backend, dim, backend_url, model_name)(
            F.col(text_col)
        ).alias("embedding"),
    )


def embed_query(
    spark,
    jd_text: str,
    backend: str = "hash",
    dim: int = DEFAULT_DIM,
    backend_url: str = "http://localhost:11434",
    model_name: str = "all-minilm",
) -> DataFrame:
    """V2: embed one query string (the JD) as a 1-row DataFrame
    (query_id 0, query_embedding), ready to search a corpus with
    (reference rag_model.py:47-56).

    One string is embedded on the driver with the same backend function
    the executors run, so the vector is bit-identical to what
    ``embed_documents`` gives the same text. The row is built from a
    pandas frame, which Spark keeps as an Arrow local relation: the
    query costs no Spark job and no Python worker round trip, and a
    consumer on the driver reads the vector back without collecting it
    (``sources.io.driver_fetch``)."""
    fn = _make_backend(backend, dim, backend_url, model_name)
    vec = fn(pd.Series([jd_text])).iloc[0]
    pdf = pd.DataFrame({"query_id": [0], "query_embedding": [vec]})
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("query_embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return driver_frame(spark, pdf, schema)


def whiten_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening) of an
    embedding column: z_d = (x_d − μ_d) / σ_d with corpus-wide μ/σ.
    The pre-ANN normalization that stops high-variance dimensions from
    dominating L2/cosine — the diagonal special case of PCA whitening
    (full rotation needs an eigendecomposition; per-dim scaling covers
    the common conditioning problem with one agg).

    Scale shape: one posexplode → per-dim agg (map-side combined, ≤
    n_dims output rows), stats pulled to the driver (bounded by the
    embedding width — the Lloyd-centroid pattern), then the transform
    is a zip_with against two literal arrays — a pure codegen'd
    projection, NO second shuffle and no join back. μ/σ are rounded to
    6 places before use so the transform replays bit-identically from
    the published stats (and in the DuckDB oracle).

    Output: (id, whitened ARRAY<DOUBLE>). Constant dimensions (σ=0)
    map to 0.0 rather than NULL/inf.
    """
    ex = emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
    ).select(id_col, "dim", F.col("x").cast("double").alias("x"))
    stats = (
        ex.groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mu"),
            F.round(F.stddev_pop("x"), 6).alias("sd"),
        )
        .orderBy("dim")
        .collect()
    )  # bounded: one row per embedding dimension
    mus = F.array(*[F.lit(r["mu"]) for r in stats])
    sds = F.array(*[F.lit(r["sd"] if r["sd"] != 0.0 else 1.0) for r in stats])
    zeroed = F.array(*[F.lit(1.0 if r["sd"] != 0.0 else 0.0) for r in stats])
    whitened = F.zip_with(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            mus,
            lambda x, m: x - m,
        ),
        F.zip_with(sds, zeroed, lambda s, z: z / s),
        lambda c, invs: c * invs,
    )
    return emb.select(F.col(id_col), whitened.alias("whitened"))


def pca_power_top1(
    emb: DataFrame,
    n_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float], float]:
    """Top principal component of the embedding column via distributed
    covariance + driver-side power iteration — the PCA building block
    (dominant-variance direction for drift inspection, whitening
    rotation, spectral outlier screens).

    Distributed part (scales to 100 TB): per-dim means (one agg), then
    the Gram matrix of centered vectors via mapInPandas — each Arrow
    batch contributes its d×d partial ``Cᵀ·C`` (vectorized numpy
    matmul, the sanctioned Arrow-batch kernel, same contract as
    operators/similarity_blas), so the shuffle carries ≤ d² rows per
    batch and corpus size never concentrates. Driver part (bounded):
    power iteration on the collected d×d covariance — v₀ = 1/√d,
    v ← normalize(M·v) with every iterate ROUNDED to 9 places and the
    covariance/means rounded to 6 before use, so the whole trajectory
    replays bit-identically from published numbers (and in the DuckDB
    oracle's unrolled-SQL twin). Matvec/norm folds run left-to-right
    in index order on both engines.

    Returns (projections DataFrame (id, pc1_proj), eigvec, eigval):
    pc1_proj = centered·v as a codegen'd zip_with against literal
    arrays (no second shuffle); eigval is the Rayleigh quotient of the
    final iterate, rounded to 6.
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as _T

    ex = emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
    ).select(id_col, "dim", F.col("x").cast("double").alias("x"))
    mean_rows = (
        ex.groupBy("dim").agg(F.round(F.avg("x"), 6).alias("mu")).orderBy("dim").collect()
    )
    mus = [r["mu"] for r in mean_rows]
    d = len(mus)
    n = emb.count()
    mus_np = np.array(mus)

    gram_schema = _T.StructType(
        [
            _T.StructField("i", _T.IntegerType()),
            _T.StructField("j", _T.IntegerType()),
            _T.StructField("partial", _T.DoubleType()),
        ]
    )

    def partial_gram(batches):
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["_v"].tolist(), dtype=np.float64) - mus_np
            g = mat.T @ mat
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "partial": g.ravel(),
                }
            )

    cov_rows = (
        emb.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
        )
        .mapInPandas(partial_gram, schema=gram_schema)
        .groupBy("i", "j")
        .agg(F.round(F.sum("partial") / n, 6).alias("c"))
        .collect()
    )  # bounded: d² rows
    M = [[0.0] * d for _ in range(d)]
    for r in cov_rows:
        M[r["i"]][r["j"]] = r["c"]

    v = [round(1.0 / math.sqrt(d), 9)] * d
    for _ in range(n_iter):
        y = []
        for i in range(d):
            acc = 0.0
            for j in range(d):  # left-to-right fold, mirrored in SQL
                acc += M[i][j] * v[j]
            y.append(acc)
        nrm_sq = 0.0
        for yi in y:
            nrm_sq += yi * yi
        nrm = math.sqrt(nrm_sq)
        v = [round(yi / nrm, 9) for yi in y]
    ray = 0.0
    for i in range(d):
        acc = 0.0
        for j in range(d):
            acc += M[i][j] * v[j]
        ray += v[i] * acc
    eigval = round(ray, 6)

    mus_arr = F.array(*[F.lit(m) for m in mus])
    v_arr = F.array(*[F.lit(c) for c in v])
    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        mus_arr,
        lambda x, m: x - m,
    )
    proj = F.aggregate(
        F.zip_with(centered, v_arr, lambda c, w: c * w),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    out = emb.select(F.col(id_col), F.round(proj, 6).alias("pc1_proj"))
    return out, v, eigval


def _jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 from the portable md5 hash — the same literal
    matrix is baked into the Spark expression and the oracle SQL."""
    import hashlib

    h = hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[:8], 16) & 1 == 0 else -1


def jl_project(
    emb: DataFrame,
    k: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to k dimensions with a
    deterministic ±1/√k sign matrix (Achlioptas 2001 database-friendly
    variant) — the cheap dimensionality reduction that preserves
    pairwise distances within (1±ε) w.h.p., used to shrink embeddings
    before LSH/clustering when d is large.

    The sign matrix derives from the portable md5 hash, generated
    driver-side and baked in as k literal arrays — so the projection
    is a pure codegen'd fold per output dim (no shuffle, no Python in
    the hot path, no stored model), and the DuckDB oracle replays it
    from the identical literals. Output: (id, proj ARRAY<DOUBLE>).

    A vector whose length differs from ``in_dim`` is an ERROR, not a
    NULL projection: zip_with null-pads the shorter side, which would
    silently fold to NULL. raise_error guards the fold so a wrong
    in_dim fails fast at execution. A NULL embedding is NOT a length
    mismatch — it takes an explicit NULL branch (size(NULL) is NULL,
    which would otherwise fall through to the error arm) and
    propagates to a NULL projection, as before the guard.
    """
    import math

    inv = 1.0 / math.sqrt(k)
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    xs = F.when(
        F.col(vec_col).isNull(), F.lit(None).cast("array<double>")
    ).when(F.size(vec_col) == in_dim, xs).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"jl_project: in_dim={in_dim} but embedding has length "
                ),
                F.size(vec_col).cast("string"),
            )
        )
    )
    outs = []
    for i in range(k):
        signs = F.array(
            *[F.lit(float(_jl_sign(i, j))) for j in range(in_dim)]
        )
        acc = F.aggregate(
            F.zip_with(xs, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, t: a + t,
        )
        outs.append(acc * F.lit(inv))
    return emb.select(F.col(id_col), F.array(*outs).alias("proj"))


def covariance_matrix(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Distributed d×d covariance of the embedding column as an
    (i, j, c) DataFrame — the same Arrow-batch partial-Gram kernel as
    ``pca_power_top1`` (each batch contributes its vectorized Cᵀ·C, so
    the shuffle carries ≤ d² rows per batch and corpus size never
    concentrates on one node), but kept DISTRIBUTED instead of
    collected: consumers that only need matrix FUNCTIONALS (trace,
    Frobenius mass, participation ratio) reduce the d² grain with one
    more hash agg and never materialize M on the driver.

    Entries are rounded to 6 dp exactly like the PCA path so a SQL
    oracle recomputing the covariance replays the same numbers.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as _T

    ex = emb.select(
        F.posexplode(vec_col).alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    mean_rows = (
        ex.groupBy("dim")
        .agg(F.round(F.avg("x"), 6).alias("mu"))
        .orderBy("dim")
        .collect()
    )  # bounded: d rows
    mus_np = np.array([r["mu"] for r in mean_rows])
    d = len(mean_rows)
    n = emb.count()

    gram_schema = _T.StructType(
        [
            _T.StructField("i", _T.IntegerType()),
            _T.StructField("j", _T.IntegerType()),
            _T.StructField("partial", _T.DoubleType()),
        ]
    )

    def partial_gram(batches):
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["_v"].tolist(), dtype=np.float64) - mus_np
            g = mat.T @ mat
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "partial": g.ravel(),
                }
            )

    return (
        emb.select(
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "_v"
            )
        )
        .mapInPandas(partial_gram, schema=gram_schema)
        .groupBy("i", "j")
        .agg(F.round(F.sum("partial") / n, 6).alias("c"))
    )
