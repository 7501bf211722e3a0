"""The MinHash-LSH blocking kernel of the batch pipeline's key rows and
the stream's reference index.  It imports numpy and the kernels only,
so a worker that unpickles a map over it loads neither pyspark.sql nor
pandas; the scheme's values are ``fuzzspark.pipeline.blocking``'s
constants (``minhash_params()``)."""

from __future__ import annotations

import numpy as np

from . import _native
from ._native import _MERSENNE

__all__ = ["make_minhash_matrix"]


def _hash_family(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a, b


def make_minhash_matrix(n_bands: int, rows_per_band: int, shingle: int,
                        max_chars: int, seed: int):
    """MinHash band keys in PRE-EXPLODE matrix form: texts (may contain
    None) -> (idx, keys) where ``idx`` lists the non-null positions and
    ``keys`` is the (len(idx), n_bands) int64 key matrix.

    MinHash over character shingles of the first ``max_chars`` chars
    (content prefix shingles per BASELINE.json north_star).  Band key =
    hash of the band's row signature, offset by band index
    so keys from different bands never collide
    (:func:`~fuzzspark.kernels._native.native_minhash`).  The matrix
    form lets ``blocking.minhash_key_rows`` emit already-exploded
    (id, bk) Arrow rows without building a per-doc Python list of keys
    (round 7: that list churn plus the JVM ``explode`` was most of the
    key-generation stage's cost — guide §4.2)."""
    A, B = _hash_family(n_bands * rows_per_band, seed)

    def matrix(content) -> tuple[np.ndarray, np.ndarray]:
        texts, idx = [], []
        for i, t in enumerate(content):
            if t is not None:
                idx.append(i)
                texts.append(t[:max_chars])
        return (np.asarray(idx, dtype=np.int64),
                _native.native_minhash(texts, shingle, A, B, n_bands,
                                       rows_per_band))

    return matrix
