"""Property-based fuzzing (the reference runs libFuzzer targets over
individual+batch paths, fuzz/fuzz_targets/*.rs; this is the pytest
analog): random unicode pairs through every scorer and form, asserting
the cross-implementation and metamorphic invariants that define the
semantics.  Crashing inputs get promoted to named regression tests."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from fuzzspark.kernels import ALL_METRICS, batch_scores, ratio
from fuzzspark.kernels._bitpar import lcs_core, levenshtein_core, osa_core
from fuzzspark.kernels._native import (KIND_LCS, KIND_LEV, KIND_OSA,
                                       get_lib, native_batch, native_jaro)
from fuzzspark.kernels.metrics import jaro_similarity_raw

text = st.text(
    alphabet=st.characters(codec="utf-32-be", exclude_categories=("Cs",)),
    max_size=90)
small = st.text(alphabet="abА𝄞 ", max_size=140)


@settings(max_examples=150, deadline=None)
@given(s1=text, s2=text)
def test_native_matches_python_cores(s1, s2):
    if get_lib() is None:
        pytest.skip("no compiler")
    pat, txt = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    for kind, core in [(KIND_LCS, lcs_core), (KIND_LEV, levenshtein_core),
                       (KIND_OSA, osa_core)]:
        got = native_batch(kind, [pat], [txt])
        assert got[0] == core(pat, txt), (kind, s1, s2)


@settings(max_examples=150, deadline=None)
@given(s1=text, s2=text)
def test_native_jaro_matches_python(s1, s2):
    if get_lib() is None:
        pytest.skip("no compiler")
    got = native_jaro([s1], [s2])
    assert got[0] == pytest.approx(jaro_similarity_raw(s1, s2), abs=1e-12)


@settings(max_examples=60, deadline=None)
@given(s1=small, s2=small)
def test_metric_axioms(s1, s2):
    for name in ("levenshtein", "osa", "damerau_levenshtein", "indel"):
        mod = ALL_METRICS[name]
        d = mod.distance(s1, s2)
        assert d == mod.distance(s2, s1)
        assert (d == 0) == (s1 == s2)       # identity of indiscernibles
        assert d <= mod.maximum(len(s1), len(s2))
    # DL <= OSA <= levenshtein-with-123... and lev >= dl always
    assert ALL_METRICS["damerau_levenshtein"].distance(s1, s2) \
        <= ALL_METRICS["osa"].distance(s1, s2) \
        <= ALL_METRICS["levenshtein"].distance(s1, s2)


@settings(max_examples=60, deadline=None)
@given(s1=small, s2=small, s3=small)
def test_triangle_inequality_levenshtein(s1, s2, s3):
    lev = ALL_METRICS["levenshtein"].distance
    assert lev(s1, s3) <= lev(s1, s2) + lev(s2, s3)


@settings(max_examples=50, deadline=None)
@given(pairs=st.lists(st.tuples(small, small), min_size=1, max_size=20),
       cutoff=st.floats(0.0, 1.0))
def test_batch_cutoff_never_alters_scores(pairs, cutoff):
    s1 = [a for a, _ in pairs]
    s2 = [b for _, b in pairs]
    full = batch_scores("ratio", "normalized_similarity", s1, s2)
    cut = batch_scores("ratio", "normalized_similarity", s1, s2,
                       score_cutoff=cutoff)
    for f, c in zip(full, cut):
        if f >= cutoff:
            assert c == f
        else:
            assert np.isnan(c)


# regression pins from hypothesis finds (none yet — add as discovered,
# mirroring the reference's fuzzing_regressions tests)
def test_fuzzing_regressions():
    assert ratio("\x00", "\x00\x00") == pytest.approx(2 / 3)
    assert ALL_METRICS["levenshtein"].distance("\U0001d11e", "a") == 1
