"""Bit-parallel string-metric cores on Python big-ints.

Python's arbitrary-precision ints give us the reference's blocked
bit-vectors for free: one ``int`` holds ⌈len/64⌉ machine words and
CPython executes ``&/|/+/-/<<`` over all words in C.  These cores are
the analog of the reference's single-word + blocked kernels
(hyrroe2003, src/distance/levenshtein.rs:435-507; lcs_unroll/blockwise,
src/distance/lcs_seq.rs:199-341; OSA transposition variant,
src/distance/osa.rs:84-227) — public algorithms from Myers (1999) and
Hyyrö (2002/2003).

They are the no-compiler backend: ``_native.py`` runs them when the C
batch kernel (``_native.c``) is unavailable, and ``metrics.py`` uses
them for scalar calls.
"""

from __future__ import annotations

__all__ = [
    "pattern_masks",
    "levenshtein_core",
    "lcs_core",
    "osa_core",
]


def pattern_masks(s: str) -> dict[str, int]:
    """char -> bitmask of its positions in ``s`` (PatternMatchVector analog,
    src/details/pattern_match_vector.rs:67-71, blocked :195-211)."""
    masks: dict[str, int] = {}
    bit = 1
    for ch in s:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    return masks


def levenshtein_core(s1: str, s2: str, masks: dict[str, int] | None = None) -> int:
    """Uniform Levenshtein distance via Myers' bit-parallel algorithm.

    Behavior parity target: src/distance/levenshtein.rs:435-507 and its
    blocked variants (results only; kernel selection differs).
    """
    m = len(s1)
    if m == 0:
        return len(s2)
    if not s2:
        return m
    if masks is None:
        masks = pattern_masks(s1)
    all_ones = (1 << m) - 1
    msb = 1 << (m - 1)
    vp = all_ones
    vn = 0
    dist = m
    get = masks.get
    for ch in s2:
        pm = get(ch, 0)
        x = pm | vn
        d0 = (((x & vp) + vp) ^ vp) | x
        hp = vn | (~(d0 | vp) & all_ones)
        hn = d0 & vp
        if hp & msb:
            dist += 1
        elif hn & msb:
            dist -= 1
        hp = ((hp << 1) | 1) & all_ones
        hn = (hn << 1) & all_ones
        vp = hn | (~(d0 | hp) & all_ones)
        vn = hp & d0
    return dist


def lcs_core(s1: str, s2: str, masks: dict[str, int] | None = None) -> int:
    """Length of the longest common subsequence (Hyyrö bit-parallel).

    Behavior parity target: src/distance/lcs_seq.rs:199-341.
    ``S`` starts all-ones; each text char folds its match mask in with a
    carry chain; zeros of ``S`` count matched pattern positions.
    """
    m = len(s1)
    if m == 0 or not s2:
        return 0
    if masks is None:
        masks = pattern_masks(s1)
    all_ones = (1 << m) - 1
    s = all_ones
    get = masks.get
    for ch in s2:
        mch = get(ch, 0)
        u = s & mch
        s = ((s + u) | (s - u)) & all_ones
    return m - s.bit_count()


def osa_core(s1: str, s2: str, masks: dict[str, int] | None = None) -> int:
    """Optimal-string-alignment distance (restricted transpositions).

    Hyyrö (2003) bit-parallel Damerau variant; behavior parity target:
    src/distance/osa.rs:84-227 (e.g. osa("CA","ABC") == 3).
    """
    m = len(s1)
    if m == 0:
        return len(s2)
    if not s2:
        return m
    if masks is None:
        masks = pattern_masks(s1)
    all_ones = (1 << m) - 1
    msb = 1 << (m - 1)
    vp = all_ones
    vn = 0
    d0 = 0
    pm_prev = 0
    dist = m
    get = masks.get
    for ch in s2:
        pm = get(ch, 0)
        # masks hold bits < m only, so tr needs no mask and the carry
        # out of the add is cut once, below
        tr = (((~d0) & pm) << 1) & pm_prev
        d0 = ((((pm & vp) + vp) ^ vp) | pm | vn | tr) & all_ones
        hp = vn | (~(d0 | vp) & all_ones)
        hn = d0 & vp
        if hp & msb:
            dist += 1
        elif hn & msb:
            dist -= 1
        hp = ((hp << 1) | 1) & all_ones
        hn = (hn << 1) & all_ones
        vp = hn | (~(d0 | hp) & all_ones)
        vn = hp & d0
        pm_prev = pm
    return dist
