"""Metamorphic invariants + batch≡scalar + DuckDB cross-checks.

Mirrors the reference's test scaffolding (_test_distance wrappers,
src/distance/levenshtein.rs:1847-1890): symmetry, normalized in [0,1],
cutoff-consistency, batch ≡ individual; plus random pairs cross-checked
against DuckDB's string functions where semantics coincide.
"""

import math
import random

import numpy as np
import pytest

from fuzzspark.kernels import ALL_METRICS, batch_scores, ratio
from fuzzspark.kernels.batch import FORMS

ALPHABETS = ["ab", "abcde", "abcdefghij", "абвгд", "abc def ghi "]


def rand_pairs(n=300, seed=1234, max_len=150):
    rng = random.Random(seed)
    pairs = []
    for _ in range(n):
        alph = rng.choice(ALPHABETS)
        l1 = rng.randint(0, rng.choice([5, 20, 80, max_len]))
        l2 = rng.randint(0, rng.choice([5, 20, 80, max_len]))
        pairs.append(("".join(rng.choice(alph) for _ in range(l1)),
                      "".join(rng.choice(alph) for _ in range(l2))))
    # adversarial edges
    pairs += [("", ""), ("", "a"), ("a", ""), ("a", "a"), ("a", "b"),
              ("ab", "ba"), ("a" * 64, "a" * 64), ("a" * 65, "b" * 64),
              ("a" * 64 + "b", "a" * 64 + "c")]
    return pairs


PAIRS = rand_pairs()
SYM_METRICS = [m for m in ALL_METRICS if m != "hamming"]


@pytest.mark.parametrize("name", SYM_METRICS)
def test_symmetry_and_ranges(name):
    mod = ALL_METRICS[name]
    for s1, s2 in PAIRS:
        d12, d21 = mod.distance(s1, s2), mod.distance(s2, s1)
        assert d12 == d21 or math.isclose(d12, d21, abs_tol=1e-12), (name, s1, s2)
        nd = mod.normalized_distance(s1, s2)
        ns = mod.normalized_similarity(s1, s2)
        assert -1e-12 <= nd <= 1 + 1e-12, (name, s1, s2, nd)
        assert math.isclose(nd + ns, 1.0, abs_tol=1e-9)


@pytest.mark.parametrize("name", SYM_METRICS)
def test_cutoff_consistency(name):
    """value survives a cutoff iff it satisfies it — exact boundary."""
    mod = ALL_METRICS[name]
    for s1, s2 in PAIRS[:120]:
        ns = mod.normalized_similarity(s1, s2)
        assert mod.normalized_similarity(s1, s2, score_cutoff=ns) == ns
        eps = 1e-9
        if ns + eps <= 1.0:
            assert mod.normalized_similarity(s1, s2, score_cutoff=ns + eps) is None
        d = mod.distance(s1, s2)
        assert mod.distance(s1, s2, score_cutoff=d) == d
        if d > 0:
            assert mod.distance(s1, s2, score_cutoff=d - 1e-9) is None


@pytest.mark.parametrize("scorer", [
    "levenshtein", "indel", "lcs_seq", "osa", "damerau_levenshtein",
    "jaro", "jaro_winkler", "prefix", "postfix", "ratio",
])
@pytest.mark.parametrize("form", FORMS)
def test_batch_equals_scalar(scorer, form):
    s1 = [p[0] for p in PAIRS]
    s2 = [p[1] for p in PAIRS]
    got = batch_scores(scorer, form, s1, s2)
    if scorer == "ratio":
        import fuzzspark.kernels.fuzz as fz
        from fuzzspark.kernels.common import norm_dist_from
        exp = []
        for a, b in PAIRS:
            r = fz.ratio_raw(a, b)
            exp.append({"similarity": r, "distance": 1.0 - r,
                        "normalized_distance": 1.0 - r,
                        "normalized_similarity": r}[form])
    else:
        mod = ALL_METRICS[scorer]
        exp = [getattr(mod, form)(a, b) for a, b in PAIRS]
    for k, (e, g) in enumerate(zip(exp, got)):
        assert math.isclose(e, g, rel_tol=1e-12, abs_tol=1e-12), (
            scorer, form, PAIRS[k], e, g)


def test_batch_cutoff_and_nulls():
    s1 = ["abc", None, "abcd", "xyz"]
    s2 = ["abd", "abc", None, "xyz"]
    out = batch_scores("ratio", "normalized_similarity", s1, s2, score_cutoff=0.9)
    assert np.isnan(out[1]) and np.isnan(out[2])
    assert np.isnan(out[0])  # ratio(abc,abd)=2/3 < 0.9 suppressed
    assert out[3] == 1.0


def test_batch_hamming_error_modes():
    out = batch_scores("hamming", "distance", ["ham"], ["hamming"], pad=False)
    assert np.isnan(out[0])
    out = batch_scores("hamming", "distance", ["ham"], ["hamming"], pad=True)
    assert out[0] == 4.0
    with pytest.raises(Exception):
        batch_scores("hamming", "distance", ["ham"], ["hamming"],
                     pad=False, errors="raise")


def test_weighted_batch_matches_scalar():
    mod = ALL_METRICS["levenshtein"]
    s1 = [p[0] for p in PAIRS[:80]]
    s2 = [p[1] for p in PAIRS[:80]]
    for w in [(1, 1, 2), (2, 2, 3), (1, 1, 1), (3, 3, 3), (1, 2, 3), (0, 0, 5)]:
        got = batch_scores("levenshtein", "distance", s1, s2, weights=w)
        exp = [mod.distance(a, b, weights=w) for a, b in zip(s1, s2)]
        assert list(got) == exp, w


@pytest.mark.usefixtures("python_kernels")
class TestPythonBackend:
    """The batch-vs-scalar checks again on the no-compiler backend."""
    test_batch_equals_scalar = staticmethod(test_batch_equals_scalar)
    test_batch_cutoff_and_nulls = staticmethod(test_batch_cutoff_and_nulls)
    test_weighted_batch_matches_scalar = staticmethod(
        test_weighted_batch_matches_scalar)


def test_weighted_vs_bruteforce_dp():
    """generalized weighted levenshtein vs a reference O(NM) DP."""
    def dp(a, b, ins, dele, sub):
        m, n = len(a), len(b)
        prev = [i * dele for i in range(m + 1)]
        for j in range(1, n + 1):
            cur = [j * ins] + [0] * m
            for i in range(1, m + 1):
                cur[i] = min(prev[i] + ins, cur[i - 1] + dele,
                             prev[i - 1] + (0 if a[i - 1] == b[j - 1] else sub))
            prev = cur
        return prev[m]

    mod = ALL_METRICS["levenshtein"]
    rng = random.Random(9)
    for _ in range(200):
        a = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 30)))
        b = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 30)))
        w = (rng.randint(0, 4), 0, rng.randint(0, 5))
        w = (w[0], w[0], w[2])  # reference reductions assume ins==del paths too
        assert mod.distance(a, b, weights=w) == dp(a, b, *w), (a, b, w)
        w2 = (rng.randint(1, 4), rng.randint(1, 4), rng.randint(1, 5))
        assert mod.distance(a, b, weights=w2) == dp(a, b, *w2), (a, b, w2)


def test_vs_duckdb_oracle():
    import duckdb
    con = duckdb.connect()
    mods = ALL_METRICS
    for s1, s2 in PAIRS[:150]:
        if not s1 or not s2:
            continue  # DuckDB edge semantics differ for empty strings
        if not (s1.isascii() and s2.isascii()):
            continue  # DuckDB metrics are byte-based; we are code-point-based
        row = con.execute(
            "SELECT levenshtein(?, ?), damerau_levenshtein(?, ?),"
            " jaro_similarity(?, ?), jaro_winkler_similarity(?, ?)",
            [s1, s2] * 4).fetchone()
        assert mods["levenshtein"].distance(s1, s2) == row[0], (s1, s2)
        assert mods["damerau_levenshtein"].distance(s1, s2) == row[1], (s1, s2)
        assert mods["jaro"].similarity(s1, s2) == pytest.approx(row[2], abs=1e-9), (s1, s2)
        assert mods["jaro_winkler"].similarity(s1, s2) == pytest.approx(row[3], abs=1e-9), (s1, s2)
        if len(s1) == len(s2):
            ham = con.execute("SELECT hamming(?, ?)", [s1, s2]).fetchone()[0]
            assert mods["hamming"].distance(s1, s2) == ham
