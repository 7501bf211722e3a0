"""One × many comparator — API parity with the reference's
``BatchComparator`` (src/distance/levenshtein.rs:1636-1657,
src/fuzz.rs:98-150): precompute the pattern's match-vector once, reuse
it across many ``s2``.

The Spark pipeline gets this amortization implicitly (the batch
dispatcher groups by distinct pattern); this class is the scalar API
surface for library users, and it feeds whole ``others`` lists through
the batch engine in one call.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np

from .batch import FORMS, batch_scores
from .metrics import ALL_METRICS

__all__ = ["BatchComparator", "RatioBatchComparator"]


class BatchComparator:
    """``BatchComparator('pattern', scorer='levenshtein')``.

    Scalar calls (``.distance(s2)``) score one pair through the metric
    module; list calls (``.distances(seq)``) go through the vectorized
    batch engine, which builds the pattern masks once per batch.
    """

    def __init__(self, s1: str, scorer: str = "levenshtein", **extra):
        if scorer not in ALL_METRICS and scorer != "ratio":
            raise ValueError(f"unknown scorer {scorer!r}")
        self.s1 = s1
        self.scorer = scorer
        self.extra = extra

    # -- scalar 4-form surface (mirrors the module functions; score_hint
    # is reference API parity — accepted and ignored) ------------------
    def _form(self, form: str, s2: str, score_cutoff=None):
        if self.scorer == "ratio":
            from . import fuzz
            if form != "normalized_similarity":
                # ratio is indel.normalized_similarity (src/fuzz.rs:74-84)
                mod = ALL_METRICS["indel"]
                return getattr(mod, form)(self.s1, s2,
                                          score_cutoff=score_cutoff)
            return fuzz.ratio(self.s1, s2, score_cutoff=score_cutoff)
        mod = ALL_METRICS[self.scorer]
        return getattr(mod, form)(self.s1, s2, score_cutoff=score_cutoff,
                                  **self.extra)

    def distance(self, s2: str, *, score_cutoff=None, score_hint=None):
        del score_hint
        return self._form("distance", s2, score_cutoff)

    def similarity(self, s2: str, *, score_cutoff=None, score_hint=None):
        del score_hint
        return self._form("similarity", s2, score_cutoff)

    def normalized_distance(self, s2: str, *, score_cutoff=None,
                            score_hint=None):
        del score_hint
        return self._form("normalized_distance", s2, score_cutoff)

    def normalized_similarity(self, s2: str, *, score_cutoff=None,
                              score_hint=None):
        del score_hint
        return self._form("normalized_similarity", s2, score_cutoff)

    # -- vectorized one × many ------------------------------------------
    def _batch(self, form: str, others: Sequence[str],
               score_cutoff=None) -> np.ndarray:
        s1s = [self.s1] * len(others)
        scorer = self.scorer
        return batch_scores(scorer, form, s1s, list(others),
                            score_cutoff=score_cutoff, **self.extra)

    def distances(self, others, *, score_cutoff=None):
        return self._batch("distance", others, score_cutoff)

    def similarities(self, others, *, score_cutoff=None):
        return self._batch("similarity", others, score_cutoff)

    def normalized_distances(self, others, *, score_cutoff=None):
        return self._batch("normalized_distance", others, score_cutoff)

    def normalized_similarities(self, others, *, score_cutoff=None):
        return self._batch("normalized_similarity", others, score_cutoff)


class RatioBatchComparator(BatchComparator):
    """fuzz::RatioBatchComparator analog (src/fuzz.rs:98-150)."""

    def __init__(self, s1: str):
        super().__init__(s1, scorer="ratio")

    def ratio(self, s2: str, *, score_cutoff=None):
        return self.normalized_similarity(s2, score_cutoff=score_cutoff)

    def ratios(self, others, *, score_cutoff=None):
        return self.normalized_similarities(others, score_cutoff=score_cutoff)
