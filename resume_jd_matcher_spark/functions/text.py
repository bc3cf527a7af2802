"""Text primitives shared by the text-analysis and dedup operators
(SURVEY.md §2.B T6/T8, §2.H U5; north-star text-analysis/dedup ops).

Everything here is a native Column expression (JVM-side) except the
driver twins of ``hash32``; the one portability constraint is
``hash32`` — MinHash/SimHash need a hash that the DuckDB oracle can
reproduce bit-for-bit, so instead of Spark's xxhash64 (not available
in DuckDB) we take the first 8 hex chars of md5, which both engines
(and ``hashlib``) expose identically.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE = r"\s+"


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization of trimmed text → ARRAY<STRING>."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), WHITESPACE)


def shingles_all(word_arr: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), WITH duplicates — one
    entry per position. The repetition detectors (intradoc duplicate
    n-gram mass) need occurrence counts. Documents shorter than n
    words yield an empty array."""
    def gram(i: Column) -> Column:
        parts = [F.element_at(word_arr, i + j) for j in range(n)]
        return F.concat_ws(" ", *parts)

    idx = F.sequence(F.lit(1), F.size(word_arr) - (n - 1))
    # sequence(1, 0) would count DOWN in Spark — guard short docs.
    return F.when(
        F.size(word_arr) >= n, F.transform(idx, gram)
    ).otherwise(F.array().cast("array<string>"))


def shingles(word_arr: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), distinct — the dedup/
    similarity variant of ``shingles_all`` (single definition of the
    span/guard logic; this just drops duplicate positions)."""
    return F.array_distinct(shingles_all(word_arr, n))


def hash32(col: Column | str) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as BIGINT.

    DuckDB twin: ``('0x' || substr(md5(x), 1, 8))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def seeded_hash32(col: Column, seed: Column | int) -> Column:
    """hash32 of ``value || '#' || seed`` — the per-permutation hash
    family used by MinHash signatures."""
    s = F.lit(seed) if isinstance(seed, int) else seed
    return hash32(F.concat(col, F.lit("#"), s.cast("string")))


def hash32_values(strs) -> np.ndarray:
    """``hash32`` on the driver, value for value, over a list of
    strings (md5 of the UTF-8 bytes, as Spark's ``md5`` of a string):
    an int64 array."""
    md5 = hashlib.md5
    digests = b"".join([md5(s.encode("utf-8")).digest() for s in strs])
    return np.frombuffer(digests, dtype=">u4")[::4].astype(np.int64)


def seeded_hash32_values(toks, n_seeds: int) -> np.ndarray:
    """``seeded_hash32(tok, seed)`` on the driver for every token and
    every seed below ``n_seeds``: an (len(toks), n_seeds) int64 matrix."""
    strs = [f"{t}#{s}" for t in toks for s in range(n_seeds)]
    return hash32_values(strs).reshape(len(toks), n_seeds)


def fingerprint_md5(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (north-star "document fingerprinting" — the exact-dedup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), WHITESPACE, " ")))


def rolling_hash(col: Column | str, base: int = 1000003, mod: int = 2**31 - 1) -> Column:
    """Polynomial rolling hash over whitespace tokens (order-sensitive,
    unlike the md5 fingerprint): fold acc = (acc*base + hash32(tok)) % mod.
    """
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + hash32(t)) % mod,
    )
