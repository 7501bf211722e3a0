"""Shared scorer framework: the 4-form surface + cutoff semantics.

Mirrors the observable behavior of rapidfuzz-rs's metric framework
(reference: src/details/distance.rs:154-334, src/common.rs:33-86):

* every metric has a ``maximum(len1, len2, **extra)``;
* ``normalized_distance = distance / maximum`` with ``maximum == 0 -> 0.0``
  (so two empty strings are normalized similarity 1.0,
  src/details/distance.rs:246-252);
* ``normalized_similarity = 1 - normalized_distance``;
* ``score_cutoff`` never changes a returned score, it only suppresses it
  (src/common.rs:33-46 distance: keep iff ``raw <= cutoff``; :73-86
  similarity: keep iff ``raw >= cutoff``).  We therefore compute exact
  scores and apply the cutoff as a final exact comparison; the
  reference's internal cutoff algebra (ceil conversion, the 1e-5
  imprecision pad in src/details/common.rs:4-7) exists only so its
  *pruned* kernels never suppress a passing score — computing exactly
  is behaviorally identical, which the ported boundary tests
  (src/fuzz.rs:248-301) pin down.

Strings are compared as **Unicode code points** (Python ``str``
iteration), matching the reference's ``chars()`` iteration — not UTF-8
bytes (src/distance/levenshtein.rs:2152-2158 unicode tests).
"""

from __future__ import annotations

from typing import Optional

__all__ = [
    "common_prefix_len",
    "common_suffix_len",
    "strip_common_affix",
    "norm_dist_from",
    "apply_distance_cutoff",
    "apply_similarity_cutoff",
    "make_forms",
]


def common_prefix_len(s1: str, s2: str) -> int:
    """Length (in code points) of the common prefix.

    Reference: find_common_prefix, src/details/common.rs:39-49.
    """
    n = min(len(s1), len(s2))
    if n and s1[:n] == s2[:n]:
        return n
    lo, hi = 0, n
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if s1[:mid] == s2[:mid]:
            lo = mid
        else:
            hi = mid - 1
    return lo


def common_suffix_len(s1: str, s2: str) -> int:
    """Length of the common suffix (src/details/common.rs:51-62)."""
    n = min(len(s1), len(s2))
    if n == 0 or s1[-1] != s2[-1]:
        return 0
    if s1[-n:] == s2[-n:]:
        return n
    lo, hi = 1, n
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if s1[-mid:] == s2[-mid:]:
            lo = mid
        else:
            hi = mid - 1
    return lo


def strip_common_affix(s1: str, s2: str) -> tuple[str, str]:
    """Remove shared prefix+suffix (edit-distance invariant).

    Reference: remove_common_affix, src/details/common.rs:79-108.
    """
    # fast exits dominate on unrelated pairs
    if not s1 or not s2:
        return s1, s2
    if s1[0] == s2[0]:
        p = common_prefix_len(s1, s2)
        s1, s2 = s1[p:], s2[p:]
    if s1 and s2 and s1[-1] == s2[-1]:
        sfx = common_suffix_len(s1, s2)
        if sfx:
            s1, s2 = s1[:-sfx], s2[:-sfx]
    return s1, s2


def norm_dist_from(dist: float, maximum: float) -> float:
    """normalized_distance with the maximum==0 -> 0.0 rule
    (src/details/distance.rs:246-252)."""
    return 0.0 if maximum == 0 else dist / maximum


def apply_distance_cutoff(raw, cutoff):
    """None iff raw > cutoff (src/common.rs:33-46)."""
    if cutoff is None:
        return raw
    return raw if raw <= cutoff else None


def apply_similarity_cutoff(raw, cutoff):
    """None iff raw < cutoff (src/common.rs:73-86)."""
    if cutoff is None:
        return raw
    return raw if raw >= cutoff else None


def make_forms(distance_fn, maximum_fn, *, integral: bool = True):
    """Build the reference 4-function surface from a raw distance kernel.

    ``distance_fn(s1, s2, **extra) -> number`` must return the exact
    (uncut) distance; ``maximum_fn(len1, len2, **extra) -> number``.

    Returns ``(distance, similarity, normalized_distance,
    normalized_similarity)`` — each accepting ``score_cutoff``,
    ``score_hint`` and the kernel's ``**extra`` args, with reference
    cutoff semantics.  ``score_hint`` is reference API parity
    (src/distance/levenshtein.rs:1069-1089): a pure performance hint
    there; accepted and ignored here, results never depend on it.
    """

    def distance(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        raw = distance_fn(s1, s2, **extra)
        return apply_distance_cutoff(raw, score_cutoff)

    def similarity(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        maximum = maximum_fn(len(s1), len(s2), **extra)
        raw = maximum - distance_fn(s1, s2, **extra)
        return apply_similarity_cutoff(raw, score_cutoff)

    def normalized_distance(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        maximum = maximum_fn(len(s1), len(s2), **extra)
        raw = norm_dist_from(distance_fn(s1, s2, **extra), maximum)
        return apply_distance_cutoff(raw, score_cutoff)

    def normalized_similarity(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        maximum = maximum_fn(len(s1), len(s2), **extra)
        raw = 1.0 - norm_dist_from(distance_fn(s1, s2, **extra), maximum)
        return apply_similarity_cutoff(raw, score_cutoff)

    return distance, similarity, normalized_distance, normalized_similarity


def make_forms_from_similarity(similarity_fn, maximum_fn):
    """Same as :func:`make_forms` but for f64 similarity-canonical metrics
    (Jaro family; reference Metricf64, src/details/distance.rs:277-334)."""

    def similarity(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        raw = similarity_fn(s1, s2, **extra)
        return apply_similarity_cutoff(raw, score_cutoff)

    def distance(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        maximum = maximum_fn(len(s1), len(s2), **extra)
        raw = maximum - similarity_fn(s1, s2, **extra)
        return apply_distance_cutoff(raw, score_cutoff)

    def normalized_distance(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        maximum = maximum_fn(len(s1), len(s2), **extra)
        raw = norm_dist_from(maximum - similarity_fn(s1, s2, **extra), maximum)
        return apply_distance_cutoff(raw, score_cutoff)

    def normalized_similarity(s1: str, s2: str, *, score_cutoff=None, score_hint=None, **extra):
        maximum = maximum_fn(len(s1), len(s2), **extra)
        raw = 1.0 - norm_dist_from(maximum - similarity_fn(s1, s2, **extra), maximum)
        return apply_similarity_cutoff(raw, score_cutoff)

    return distance, similarity, normalized_distance, normalized_similarity
