"""Vector algebra as native Column expressions (SURVEY.md §2.C).

The reference's vector math lives inside FAISS ``IndexFlatL2``
(``/root/reference/vectorDB.py:12,38``): exact squared-L2 distance over
384-d float32 vectors. Here distance is a declarative expression over
``ARRAY<FLOAT>`` columns — ``zip_with``/``aggregate`` stay inside
whole-stage codegen on the JVM, so a brute-force scan distributes and
no Python is in the hot path.

Precision contract (shared with the DuckDB oracle): elements are cast
FLOAT→DOUBLE *before* any arithmetic, and the fold accumulates
left-to-right in DOUBLE — bit-compatible with the oracle's
``list_sum(list_transform(...))`` over ``::DOUBLE[]``.

Distance semantics: LangChain's FAISS returns raw IndexFlatL2 distances,
which are **squared** L2 — the engine's default metric is squared L2 for
parity (SURVEY.md §7 hard-part (c)).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def squared_l2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance between two ARRAY<FLOAT|DOUBLE> columns."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def l2(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(squared_l2(a, b))


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL-safe on zero-norm vectors (returns NULL).

    ``try_divide``, not ``/``: under ANSI mode (Spark 4 default) a
    plain division by a zero norm throws instead of yielding the
    documented NULL."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def faiss_score(dist: Column) -> Column:
    """Distance → 0-10 score: ``round(10 * 1/(1+d), 2)``
    (reference ``normalize_score``, rag_model_mass.py:13-15)."""
    return F.round(F.lit(10.0) / (F.lit(1.0) + dist), 2)


def round_values(x: np.ndarray, places: int) -> np.ndarray:
    """Spark's ``round(double, places)`` on the driver, value for value:
    Spark rounds a double HALF_UP on its shortest decimal form, which
    ``repr`` gives. For short arrays; a frame goes through ``F.round``."""
    q = Decimal(1).scaleb(-places)
    raw = np.asarray(x, dtype=np.float64).tolist()
    return np.array([float(Decimal(repr(v)).quantize(q, ROUND_HALF_UP)) for v in raw], dtype=np.float64)


def faiss_score_values(dist: np.ndarray) -> np.ndarray:
    """``faiss_score`` on the driver, value for value (a top-k's
    distances; a frame goes through ``faiss_score``)."""
    return round_values(10.0 / (1.0 + np.asarray(dist, dtype=np.float64)), 2)


def distance(a: Column | str, b: Column | str, metric: str = "sql2") -> Column:
    """Metric dispatch for the similarity operators (V5/V6/V7).

    'sql2' (squared L2, FAISS parity), 'l2', 'cosine_dist' (1 - cosine),
    'dot_dist' (negated dot, so smaller = closer for all metrics).
    """
    if metric == "sql2":
        return squared_l2(a, b)
    if metric == "l2":
        return l2(a, b)
    if metric == "cosine_dist":
        return F.lit(1.0) - cosine(a, b)
    if metric == "dot_dist":
        return -dot(a, b)
    raise ValueError(f"unknown metric: {metric}")
