"""The 11 scorer operators with exact rapidfuzz-rs result semantics.

Each operator exposes the reference 4-function surface (SURVEY.md §2):
``distance / similarity / normalized_distance / normalized_similarity``,
all accepting ``score_cutoff`` (None-on-miss) plus module extras
(``weights`` for levenshtein, ``pad`` for hamming, ``prefix_weight``
for jaro_winkler).  Scalar functions here are the semantic ground
truth; the Arrow-batch fast paths live in ``batch.py``.

Parity citations are per-function below; golden vectors from the
reference's unit tests are pinned in tests/test_kernels_golden.py.
"""

from __future__ import annotations

from collections import deque

import numpy as np

from .common import (
    apply_distance_cutoff,
    apply_similarity_cutoff,
    common_prefix_len,
    common_suffix_len,
    make_forms,
    make_forms_from_similarity,
    strip_common_affix,
)
from ._bitpar import lcs_core, levenshtein_core, osa_core

__all__ = [
    "HammingError",
    "levenshtein",
    "indel",
    "lcs_seq",
    "osa",
    "damerau_levenshtein",
    "hamming",
    "jaro",
    "jaro_winkler",
    "prefix",
    "postfix",
]


class HammingError(ValueError):
    """Unequal-length Hamming without padding
    (reference Error::DifferentLengthArgs, src/distance/hamming.rs:121-124)."""


# --------------------------------------------------------------------------
# raw kernels (exact, uncut)
# --------------------------------------------------------------------------

def _lev_maximum(len1: int, len2: int, weights=(1, 1, 1)) -> int:
    """Weighted maximum (src/distance/levenshtein.rs:261-277)."""
    ins, dele, sub = weights
    max_dist = len1 * dele + len2 * ins
    if len1 >= len2:
        return min(max_dist, len2 * sub + (len1 - len2) * dele)
    return min(max_dist, len1 * sub + (len2 - len1) * ins)


def _lev_generalized(s1: str, s2: str, ins: int, dele: int, sub: int) -> int:
    """Wagner-Fischer with arbitrary weights
    (src/distance/levenshtein.rs:212-259), numpy row DP with a
    prefix-min scan replacing the in-row left dependency."""
    m, n = len(s1), len(s2)
    if m == 0:
        return n * ins
    if n == 0:
        return m * dele
    a = np.frombuffer(s1.encode("utf-32-le"), dtype=np.uint32)
    b = np.frombuffer(s2.encode("utf-32-le"), dtype=np.uint32)
    idx = np.arange(m + 1, dtype=np.int64)
    del_ramp = dele * idx
    prev = del_ramp.copy()  # d[i][0] = i * del
    base = np.empty(m + 1, dtype=np.int64)
    for j in range(1, n + 1):
        # base[i] = min(prev[i] + ins, prev[i-1] + sub_cost)
        sub_cost = np.where(a == b[j - 1], 0, sub)
        base[0] = j * ins
        base[1:] = np.minimum(prev[1:] + ins, prev[:-1] + sub_cost)
        # cur[i] = min_{k<=i} base[k] + (i-k)*del
        prev = np.minimum.accumulate(base - del_ramp) + del_ramp
        base = np.empty(m + 1, dtype=np.int64)
    return int(prev[m])


def levenshtein_distance_raw(s1: str, s2: str, weights=(1, 1, 1)) -> int:
    """Weighted Levenshtein with the reference's weight reductions
    (src/distance/levenshtein.rs:1244-1279): ins==del==0 -> 0;
    ins==del==sub -> uniform × factor; ins==del and sub >= ins+del ->
    indel × factor; else generalized Wagner-Fischer."""
    ins, dele, sub = weights
    if ins == dele:
        if ins == 0:
            return 0
        if ins == sub:
            a, b = strip_common_affix(s1, s2)
            return levenshtein_core(a, b) * ins
        if sub >= ins + dele:
            return indel_distance_raw(s1, s2) * ins
    return _lev_generalized(s1, s2, ins, dele, sub)


def lcs_similarity_raw(s1: str, s2: str) -> int:
    # common-affix chars are all part of the LCS (src/distance/lcs_seq.rs
    # strips affix before the kernel); stripping keeps bit widths small.
    a, b = strip_common_affix(s1, s2)
    return len(s1) - len(a) + lcs_core(a, b)


def indel_distance_raw(s1: str, s2: str) -> int:
    """indel = len1 + len2 - 2*LCS (src/distance/indel.rs:59-105)."""
    return len(s1) + len(s2) - 2 * lcs_similarity_raw(s1, s2)


def osa_distance_raw(s1: str, s2: str) -> int:
    a, b = strip_common_affix(s1, s2)  # applied at src/distance/osa.rs:255
    return osa_core(a, b)


def damerau_distance_raw(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein (adjacent-transposition metric),
    Lowrance-Wagner DP; parity target src/distance/damerau_levenshtein.rs
    :111-168 (Zhao & Sahni linear-space variant — same results)."""
    s1, s2 = strip_common_affix(s1, s2)  # applied at damerau_levenshtein.rs:187
    m, n = len(s1), len(s2)
    if m == 0:
        return n
    if n == 0:
        return m
    maxdist = m + n
    # rows indexed 0..m+1, cols 0..n+1 (sentinel row/col of maxdist)
    d = [[maxdist] * (n + 2) for _ in range(m + 2)]
    for i in range(m + 1):
        d[i + 1][1] = i
    for j in range(n + 1):
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, m + 1):
        db = 0
        ch1 = s1[i - 1]
        row = d[i + 1]
        prow = d[i]
        for j in range(1, n + 1):
            ch2 = s2[j - 1]
            k = da.get(ch2, 0)
            l = db
            if ch1 == ch2:
                cost = 0
                db = j
            else:
                cost = 1
            row[j + 1] = min(
                prow[j] + cost,
                row[j] + 1,
                prow[j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[ch1] = i
    return d[m + 1][n + 1]


def hamming_distance_raw(s1: str, s2: str, pad: bool = False) -> int:
    """Positional mismatch count; overhang counts as mismatches when
    padded (src/distance/hamming.rs:138-161); unequal length without
    pad raises (reference returns Err, :121-124).  Default pad=False
    matches the reference ``Args::default()`` (hamming.rs:32-40)."""
    if len(s1) != len(s2) and not pad:
        raise HammingError("Differing length arguments provided")
    n = min(len(s1), len(s2))
    dist = abs(len(s1) - len(s2))
    for c1, c2 in zip(s1, s2):
        if c1 != c2:
            dist += 1
    return dist


def jaro_similarity_raw(s1: str, s2: str) -> float:
    """Jaro similarity; exact parity with src/distance/jaro.rs:422-515:
    empty/empty -> 1.0, one-empty -> 0.0, 1×1 -> equality; window bound
    = max_len/2 - 1; greedy lowest-unflagged in-window matching
    (flag_similar_characters_word, :147-190); transpositions = ordered
    mismatches / 2 (calculate_similarity, :106-119)."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 and len2 == 0:
        return 1.0
    if len1 == 0 or len2 == 0:
        return 0.0
    if len1 == 1 and len2 == 1:
        return 1.0 if s1 == s2 else 0.0
    bound = max(len1, len2) // 2 - 1
    pos: dict[str, deque] = {}
    for i, ch in enumerate(s1):
        dq = pos.get(ch)
        if dq is None:
            pos[ch] = dq = deque()
        dq.append(i)
    matched1: list[int] = []  # s1 indices, in match (j) order
    t_chars: list[str] = []   # matched s2 chars in j order
    for j, ch in enumerate(s2):
        dq = pos.get(ch)
        if not dq:
            continue
        lo = j - bound
        while dq and dq[0] < lo:
            dq.popleft()
        if dq and dq[0] <= j + bound:
            matched1.append(dq.popleft())
            t_chars.append(ch)
    m = len(t_chars)
    if m == 0:
        return 0.0
    p_chars = [s1[i] for i in sorted(matched1)]
    t = sum(pc != tc for pc, tc in zip(p_chars, t_chars)) // 2
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def jaro_winkler_similarity_raw(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Jaro boosted by ≤4-char common prefix when jaro > 0.7
    (src/distance/jaro_winkler.rs:64-101; default weight 0.1, :31-39)."""
    pfx = common_prefix_len(s1[:4], s2[:4])
    sim = jaro_similarity_raw(s1, s2)
    if sim > 0.7:
        sim += pfx * prefix_weight * (1.0 - sim)
    return sim


def prefix_similarity_raw(s1: str, s2: str) -> int:
    """src/distance/prefix.rs:47-69."""
    return common_prefix_len(s1, s2)


def postfix_similarity_raw(s1: str, s2: str) -> int:
    """src/distance/postfix.rs:47-69."""
    return common_suffix_len(s1, s2)


def _max_len(len1: int, len2: int) -> int:
    return max(len1, len2)


def _sum_len(len1: int, len2: int) -> int:
    return len1 + len2


def _one(len1: int, len2: int, **_: object) -> float:
    return 1.0


# --------------------------------------------------------------------------
# module-like namespaces with the 4-form surface
# --------------------------------------------------------------------------

class _Module:
    def __init__(self, name, distance, similarity, normalized_distance,
                 normalized_similarity, maximum):
        self.name = name
        self.distance = distance
        self.similarity = similarity
        self.normalized_distance = normalized_distance
        self.normalized_similarity = normalized_similarity
        self.maximum = maximum

    def __repr__(self):  # pragma: no cover
        return f"<fuzzspark metric {self.name}>"


def _module(name, distance_raw, maximum_fn):
    d, s, nd, ns = make_forms(distance_raw, maximum_fn)
    return _Module(name, d, s, nd, ns, maximum_fn)


def _module_sim(name, similarity_raw, maximum_fn):
    d, s, nd, ns = make_forms_from_similarity(similarity_raw, maximum_fn)
    return _Module(name, d, s, nd, ns, maximum_fn)


def _lev_max_kw(len1, len2, weights=(1, 1, 1)):
    return _lev_maximum(len1, len2, weights)


levenshtein = _module("levenshtein", levenshtein_distance_raw, _lev_max_kw)
indel = _module("indel", indel_distance_raw, _sum_len)
osa = _module("osa", osa_distance_raw, _max_len)
damerau_levenshtein = _module(
    "damerau_levenshtein", damerau_distance_raw, _max_len)


def _hamming_max(len1, len2, pad=False):
    return max(len1, len2)


hamming = _module("hamming", hamming_distance_raw, _hamming_max)


def _lcs_distance_raw(s1: str, s2: str) -> int:
    # MetricUsize derives distance = maximum - similarity
    # (src/details/distance.rs:154-179; lcs maximum src/distance/lcs_seq.rs:549-551)
    return max(len(s1), len(s2)) - lcs_similarity_raw(s1, s2)


lcs_seq = _module("lcs_seq", _lcs_distance_raw, _max_len)


def _prefix_distance_raw(s1: str, s2: str) -> int:
    return max(len(s1), len(s2)) - common_prefix_len(s1, s2)


def _postfix_distance_raw(s1: str, s2: str) -> int:
    return max(len(s1), len(s2)) - common_suffix_len(s1, s2)


prefix = _module("prefix", _prefix_distance_raw, _max_len)
postfix = _module("postfix", _postfix_distance_raw, _max_len)


def _jaro_sim_kw(s1, s2):
    return jaro_similarity_raw(s1, s2)


def _jw_sim_kw(s1, s2, prefix_weight=0.1):
    return jaro_winkler_similarity_raw(s1, s2, prefix_weight)


jaro = _module_sim("jaro", _jaro_sim_kw, _one)
jaro_winkler = _module_sim("jaro_winkler", _jw_sim_kw, _one)

ALL_METRICS = {
    m.name: m
    for m in (levenshtein, indel, lcs_seq, osa, damerau_levenshtein,
              hamming, jaro, jaro_winkler, prefix, postfix)
}
