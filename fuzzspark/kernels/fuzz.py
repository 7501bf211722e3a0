"""Composite scorers.

``ratio`` is the reference's flagship composite scorer:
``indel.normalized_similarity`` in [0, 1] (src/fuzz.rs:48-85, golden
values src/fuzz.rs:181-302).

``partial_ratio`` / ``token_set_ratio`` / ``token_sort_ratio`` are
extensions composed from our own kernels using the published rapidfuzz
semantics; rapidfuzz-rs v0.5.0 does NOT implement them (its tests are
commented out, src/fuzz.rs:206-213; CHANGELOG.rst "porting a subset"),
so they carry no reference golden vectors — see SURVEY.md §2.1 caveat.
"""

from __future__ import annotations

from .common import apply_similarity_cutoff
from .metrics import indel, indel_distance_raw, lcs_similarity_raw

__all__ = ["ratio", "partial_ratio", "token_sort_ratio", "token_set_ratio"]


def ratio_raw(s1: str, s2: str) -> float:
    maximum = len(s1) + len(s2)
    if maximum == 0:
        return 1.0  # empty vs empty (src/fuzz.rs:216-222)
    return 1.0 - indel_distance_raw(s1, s2) / maximum


def ratio(s1: str, s2: str, *, score_cutoff=None) -> float | None:
    return apply_similarity_cutoff(ratio_raw(s1, s2), score_cutoff)


def partial_lcs_raw(pat: str, txt: str) -> int:
    """Best LCS of ``pat`` against any ``len(pat)``-char window of
    ``txt`` (0 when ``pat`` is empty or longer)."""
    m = len(pat)
    best = 0
    if m:
        for start in range(len(txt) - m + 1):
            best = max(best, lcs_similarity_raw(pat, txt[start:start + m]))
            if best == m:
                break
    return best


def partial_ratio_raw(s1: str, s2: str) -> float:
    """Best ``ratio`` of the shorter string against any equal-length
    substring window of the longer (published rapidfuzz semantics;
    extension — no reference vectors, see module docstring): LCS over
    the window length, the ratio of two equal-length strings."""
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    if not shorter:
        return 1.0 if not longer else 0.0
    if len(shorter) == len(longer):
        return ratio_raw(shorter, longer)
    return partial_lcs_raw(shorter, longer) / len(shorter)


def partial_ratio(s1: str, s2: str, *, score_cutoff=None) -> float | None:
    return apply_similarity_cutoff(partial_ratio_raw(s1, s2), score_cutoff)


def _tokens(s: str) -> list[str]:
    return s.split()


def token_sort_ratio(s1: str, s2: str, *, score_cutoff=None) -> float | None:
    a = " ".join(sorted(_tokens(s1)))
    b = " ".join(sorted(_tokens(s2)))
    return apply_similarity_cutoff(ratio_raw(a, b), score_cutoff)


def token_set_ratio(s1: str, s2: str, *, score_cutoff=None) -> float | None:
    t1, t2 = set(_tokens(s1)), set(_tokens(s2))
    inter = sorted(t1 & t2)
    d1 = sorted(t1 - t2)
    d2 = sorted(t2 - t1)
    sect = " ".join(inter)
    combined1 = (sect + " " + " ".join(d1)).strip()
    combined2 = (sect + " " + " ".join(d2)).strip()
    best = max(
        ratio_raw(sect, combined1) if sect or combined1 else 1.0,
        ratio_raw(sect, combined2) if sect or combined2 else 1.0,
        ratio_raw(combined1, combined2) if combined1 or combined2 else 1.0,
    )
    return apply_similarity_cutoff(best, score_cutoff)
