"""Independent scoring oracle for the benchmark.

Plain Python, no numpy and no ``fuzzspark`` import, so a change inside
the engine cannot change what the benchmark calls correct:

* ``ratio`` — indel normalized similarity 2*LCS/(len1+len2), LCS by the
  big-int bit-parallel recurrence (Allison-Dix / Hyyrö);
* ``levenshtein`` — uniform-cost Wagner-Fischer DP, normalized by
  max(len1, len2);
* ``jaro_winkler`` — Jaro with window max_len//2 - 1 and the greedy
  lowest-unmatched match rule, boosted by a common prefix of at most 4
  characters (weight 0.1) when Jaro exceeds 0.7.

Also the clustering side of the oracle: union-find clusters and the
pairwise F1 of predicted clusters against oracle clusters.
"""

from __future__ import annotations

from collections import Counter

# scores are compared to the engine's to this absolute tolerance (the
# engine's native kernels may round the last bit differently)
SCORE_TOL = 1e-9


def lcs_len(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    if not b:
        return 0
    masks: dict[str, int] = {}
    for i, ch in enumerate(a):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    full = (1 << len(a)) - 1
    s = full
    for ch in b:
        u = s & masks.get(ch, 0)
        s = ((s + u) | (s - u)) & full
    return len(a) - s.bit_count()


def ratio(a: str, b: str) -> float:
    total = len(a) + len(b)
    if total == 0:
        return 1.0
    return 1.0 - (total - 2 * lcs_len(a, b)) / total


def levenshtein(a: str, b: str) -> float:
    hi = max(len(a), len(b))
    if hi == 0:
        return 1.0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return 1.0 - prev[-1] / hi


def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    if la == 1 and lb == 1:
        return 1.0 if a == b else 0.0
    window = max(la, lb) // 2 - 1
    used = [False] * la
    b_matched = []
    for j, ch in enumerate(b):
        for i in range(max(0, j - window), min(la, j + window + 1)):
            if not used[i] and a[i] == ch:
                used[i] = True
                b_matched.append(ch)
                break
    m = len(b_matched)
    if m == 0:
        return 0.0
    a_matched = [a[i] for i in range(la) if used[i]]
    t = sum(x != y for x, y in zip(a_matched, b_matched)) // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    sim = jaro(a, b)
    if sim > 0.7:
        sim += prefix * prefix_weight * (1.0 - sim)
    return sim


SCORERS = {"ratio": ratio, "levenshtein": levenshtein,
           "jaro_winkler": jaro_winkler}


def score_ok(got, expect: float, cutoff: float) -> bool:
    """``got`` is the engine's score (None or NaN = suppressed below
    ``cutoff``), ``expect`` the oracle's.  A score within the tolerance
    of the cutoff may fall on either side."""
    suppressed = got is None or got != got
    if abs(expect - cutoff) <= SCORE_TOL:
        return suppressed or abs(got - expect) <= SCORE_TOL
    if expect < cutoff:
        return suppressed
    return not suppressed and abs(got - expect) <= SCORE_TOL


def clusters(ids, edges) -> dict:
    """Union-find over ``edges``; every id in ``ids`` gets a label (the
    smallest member id of its component)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {i: find(i) for i in ids}


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def pair_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of two clusterings over the same ids (id -> label)."""
    if pred.keys() != truth.keys():
        raise ValueError("predicted and oracle clusterings cover different ids")
    tp = _pairs(Counter((pred[i], truth[i]) for i in truth).values())
    n_pred = _pairs(Counter(pred.values()).values())
    n_true = _pairs(Counter(truth.values()).values())
    if n_pred + n_true == 0:
        return 1.0
    return 2.0 * tp / (n_pred + n_true)
