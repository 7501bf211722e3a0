"""Round-2 regression tests for the ADVICE findings.

1. LCS of patterns past 2^16 code points (a since-deleted blocked
   kernel's packed-scalar sort overflowed the word-index bit budget).
2. jaro_winkler length-hopeless prune must scale with prefix_weight
   (the reference imposes no cap — src/distance/jaro_winkler.rs:64-101).
3. streaming_stateful_dedup state contract: constant-size marker per
   key (O(batch) writes per micro-batch, not O(corpus)), and timeout
   expiry REMOVES state instead of resurrecting it.
"""

import random

import numpy as np
import pytest

from fuzzspark.kernels._bitpar import lcs_core
from fuzzspark.kernels.batch import batch_scores


# ---------------------------------------------------------------------------
# 1. LCS word-index bit budget
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("pat_len", [65_500, 65_600])
def test_lcs_seq_batch_straddles_word_index_budget(pat_len, kernel_backend):
    """patterns straddling 2^16 code points score exactly on both
    backends (regression: a blocked kernel's (key, word) grouping
    aliased there, 65,600 returned 33839 vs correct 33848)."""
    rng = random.Random(13)
    pat = "".join(rng.choice("abcdef") for _ in range(pat_len))
    txt = "".join(rng.choice("abcdef") for _ in range(120))
    pats = [pat, "banana", "abcdef", "", "xyzzy"]
    txts = [txt, "bahama", "fedcba", "abc", "xyzzy plugh"]
    got = batch_scores("lcs_seq", "similarity", pats, txts)
    want = [lcs_core(t, p) for p, t in zip(pats, txts)]
    assert list(got) == want


# ---------------------------------------------------------------------------
# 2. jaro_winkler prune with non-default prefix_weight
# ---------------------------------------------------------------------------

def test_jw_cutoff_with_large_prefix_weight():
    """jw('abcd','abcdxxxx', prefix_weight=0.25) = 1.0; with cutoff 0.95
    the kernel-level length prune must NOT suppress it."""
    out = batch_scores("jaro_winkler", "similarity",
                       np.array(["abcd"]), np.array(["abcdxxxx"]),
                       score_cutoff=0.95, prefix_weight=0.25)
    assert out[0] == pytest.approx(1.0)


def test_jw_cutoff_default_weight_still_prunes_consistently():
    # default weight: score below cutoff -> NaN, above -> kept
    out = batch_scores("jaro_winkler", "similarity",
                       np.array(["abcd", "abcd"]),
                       np.array(["abcdxxxx", "zzzzzzzz"]),
                       score_cutoff=0.9)
    assert np.isnan(out[1])
    # jw = 0.8333 + 4*0.1*(1-0.8333) = 0.9
    assert out[0] == pytest.approx(0.9, abs=1e-9)


def test_length_prefilter_prefix_weight_column(spark):
    """plan-level prefilter keeps the pair a larger prefix_weight can
    still save, and prunes it at the default weight."""
    from pyspark.sql import functions as F
    from fuzzspark.functions import length_prefilter
    df = spark.createDataFrame([(4, 8)], "l1: int, l2: int")
    keep_wide = df.where(length_prefilter(
        F.col("l1"), F.col("l2"), "jaro_winkler", 0.95,
        prefix_weight=0.25)).count()
    keep_default = df.where(length_prefilter(
        F.col("l1"), F.col("l2"), "jaro_winkler", 0.95)).count()
    assert keep_wide == 1
    assert keep_default == 0


# ---------------------------------------------------------------------------
# 3. stateful-dedup state contract
# ---------------------------------------------------------------------------

class FakeState:
    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.updates = []
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v
        self.updates.append(v)

    def remove(self):
        self.removed = True
        self._value = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def _pdfs(rows):
    import pandas as pd
    return iter([pd.DataFrame(rows)])


def test_stateful_dedup_first_arrival_emits_and_marks():
    from fuzzspark.streaming.ops import _stateful_dedup_step
    st = FakeState()
    out = _stateful_dedup_step(("deadbeef",), _pdfs({"id": [7, 9]}), st,
                               "id", 0)
    assert list(out["id"]) == [7]
    assert list(out["content_sha256"]) == ["deadbeef"]
    assert st.updates == [(True,)]


def test_stateful_dedup_seen_key_emits_nothing_constant_state():
    from fuzzspark.streaming.ops import _stateful_dedup_step
    st = FakeState(value=(True,))
    # 10k arrivals of an already-seen hash: output empty, and the state
    # write stays the constant marker — NOT an accreted history blob
    out = _stateful_dedup_step(("deadbeef",),
                               _pdfs({"id": list(range(10_000))}), st,
                               "id", 0)
    assert len(out) == 0
    assert st.updates == [(True,)]
    assert all(u == (True,) for u in st.updates)


def test_stateful_dedup_timeout_removes_state():
    from fuzzspark.streaming.ops import _stateful_dedup_step
    st = FakeState(value=(True,), timed_out=True)
    out = _stateful_dedup_step(("deadbeef",), iter([]), st, "id", 5)
    assert len(out) == 0
    assert st.removed
    assert st.updates == []          # no resurrection
    assert st.timeout_set is None    # no re-arm


def test_stateful_dedup_timeout_armed_on_live_key():
    from fuzzspark.streaming.ops import _stateful_dedup_step
    st = FakeState()
    _stateful_dedup_step(("cafe",), _pdfs({"id": [1]}), st, "id", 5)
    assert st.timeout_set == 5 * 60 * 1000


# ---------------------------------------------------------------------------
# 4. vectorized simhash + JVM-side langid parity
# ---------------------------------------------------------------------------

def test_simhash_batch_bit_exact():
    from fuzzspark.extras.dedup import simhash64, simhash_batch
    rng = random.Random(11)
    words = ["".join(rng.choice("abcdefgh") for _ in range(rng.randint(1, 7)))
             for _ in range(60)]
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(0, 40)))
             for _ in range(300)]
    texts += ["", "solo", "a a a"]
    assert list(simhash_batch(texts)) == [simhash64(t) for t in texts]


def test_langid_col_matches_udf(spark):
    from pyspark.sql import functions as F
    from fuzzspark.extras.textstats import langid_col, langid_udf
    rows = [(1, "the cat and the dog is in of to for that"),
            (2, "der hund und die katze ist nicht ein zu"),
            (3, "def foo return if else for while import class"),
            (4, "zzz qqq xxx"),
            (5, ""),
            (6, None),
            (7, "le la et les des est une que"),
            (8, "el la de que los una por con"),
            (9, "the der le el"),  # 1-hit tie -> alphabetically first
            ]
    df = spark.createDataFrame(rows, "id: long, text: string")
    out = (df.withColumn("jvm", langid_col("text"))
             .withColumn("py", langid_udf()(F.col("text"))))
    bad = out.where((F.col("jvm") != F.col("py"))
                    | F.col("jvm").isNull() | F.col("py").isNull()).collect()
    assert not bad, bad


# ---------------------------------------------------------------------------
# 5. generic sequence inputs (array<int>)
# ---------------------------------------------------------------------------

def test_seq_inputs_match_string_path():
    """int sequences score identically to the equivalent strings (the
    kernels only test element equality; reference generics
    src/lib.rs:146-148)."""
    s1, s2 = "kitten", "sitting"
    a1 = [ord(c) for c in s1]
    a2 = [ord(c) for c in s2]
    for scorer, form in (("levenshtein", "distance"), ("ratio",
                                                       "normalized_similarity"),
                         ("osa", "distance"), ("jaro", "similarity")):
        got = batch_scores(scorer, form, np.array([a1], dtype=object),
                           np.array([a2], dtype=object))
        want = batch_scores(scorer, form, np.array([s1]), np.array([s2]))
        assert got[0] == want[0], (scorer, form)


def test_seq_inputs_large_token_ids():
    # ids above the surrogate gap still work (injective map)
    a1 = [100_000, 200_000, 300_000]
    a2 = [100_000, 999, 300_000]
    got = batch_scores("levenshtein", "distance",
                       np.array([a1], dtype=object),
                       np.array([a2], dtype=object))
    assert got[0] == 1.0


def test_seq_inputs_out_of_range_raises():
    with pytest.raises(ValueError):
        batch_scores("levenshtein", "distance",
                     np.array([[-1]], dtype=object),
                     np.array([[2]], dtype=object))


def test_score_hint_accepted_everywhere(kernel_backend):
    """score_hint is accepted and ignored: every scorer and form, with
    and without a cutoff, gives the unhinted output for a numeric and
    a non-numeric hint."""
    from fuzzspark.kernels.batch import FORMS, SCORERS
    from fuzzspark.kernels.metrics import levenshtein, jaro_winkler
    assert levenshtein.distance("abc", "abd", score_hint=1) == 1
    assert jaro_winkler.similarity("abc", "abc", score_hint=0.9) == 1.0
    out = batch_scores("ratio", "normalized_similarity",
                       np.array(["ab"]), np.array(["ab"]), score_hint=0.5)
    assert out[0] == 1.0

    rng = random.Random(5)
    long_a = ["".join(rng.choice("abcdef ") for _ in range(n))
              for n in (120, 300, 400)]
    # near pairs pass the cutoffs, the unrelated 400-char pair is
    # abandoned by the bounded kernel
    long_b = [s[:40] + "XY" + s[43:] for s in long_a[:2]] + [
        "".join(rng.choice("abcdef ") for _ in range(400))]
    s1 = ["kitten", "", "abc", "Иванко", "flaw lawn", None, "abcd",
          "hello world"] + long_a
    s2 = ["sitting", "x", "", "Петрунко", "lawn flaw", "q", "abdc",
          "world hello"] + long_b
    cutoffs = {"distance": 6, "similarity": 2, "normalized_distance": 0.3,
               "normalized_similarity": 0.7}
    for scorer in SCORERS:
        for form in FORMS:
            for cutoff in (None, cutoffs[form]):
                base = batch_scores(scorer, form, s1, s2,
                                    score_cutoff=cutoff)
                for hint in (3, 0.5, "fast"):
                    got = batch_scores(scorer, form, s1, s2,
                                       score_cutoff=cutoff, score_hint=hint)
                    assert np.array_equal(base, got, equal_nan=True), \
                        (scorer, form, cutoff, hint)


def test_hamming_default_is_nopad():
    """reference Args::default() = NoPadding -> Err on unequal lengths
    (src/distance/hamming.rs:32-40)."""
    from fuzzspark.kernels.metrics import HammingError, hamming
    assert hamming.distance("abc", "abd") == 1
    with pytest.raises(HammingError):
        hamming.distance("ham", "hamming")
    # batch default: unequal-length rows become NaN under errors='null'
    out = batch_scores("hamming", "distance",
                       np.array(["ham", "abc"]), np.array(["hamming", "abd"]))
    assert np.isnan(out[0]) and out[1] == 1.0


# ---------------------------------------------------------------------------
# 6. ANN: LSH recall on planted neighbors, trained IVF codebook
# ---------------------------------------------------------------------------

def _planted(spark, n=100, dim=32, noise=0.1, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    pert = base + noise * rng.standard_normal((n, dim))
    rows = [(i, base[i].tolist()) for i in range(n)] + \
           [(n + i, pert[i].tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_lsh_recall_on_planted_neighbors(spark):
    """each base vector's true nearest neighbor is its perturbed copy;
    the LSH driver-query parameters must find >= 90% of them."""
    from pyspark.sql import functions as F
    from fuzzspark.extras.similarity import lsh_cosine_topk
    n = 100
    e = _planted(spark, n=n)
    q = e.where(F.col("vec_id") < n) \
         .select(F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_cosine_topk(e, q, k=1, dim=32, n_bands=16, bits_per_band=6)
    hits = out.where(F.col("cand_id") == F.col("query_id") + n).count()
    assert hits >= 0.9 * n, f"recall {hits}/{n}"


def test_ivf_trained_codebook_recall(spark):
    from pyspark.sql import functions as F
    from fuzzspark.extras.similarity import ivf_topk, train_centroids
    n = 100
    e = _planted(spark, n=n, seed=9)
    cents = train_centroids(e, n_cells=8)
    assert cents.shape == (8, 32)
    # centroids are unit-norm and distinct
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    q = e.where(F.col("vec_id") < n) \
         .select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_topk(e, q, k=1, dim=32, n_cells=8, nprobe=3)
    hits = out.where(F.col("cand_id") == F.col("query_id") + n).count()
    # base and its perturbed copy land in the same/nearby cell
    assert hits >= 0.85 * n, f"recall {hits}/{n}"


# ---------------------------------------------------------------------------
# 7. kernel-level early abandonment under cutoff == full compute + suppress
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("scorer,form,cutoffs", [
    ("ratio", "normalized_similarity", (0.3, 0.6, 0.85, 0.999)),
    ("token_sort_ratio", "normalized_similarity", (0.5, 0.9)),
    ("levenshtein", "distance", (0, 3, 10, 60)),
    ("osa", "distance", (2, 25)),
])
def test_cutoff_abandon_equals_full_compute(scorer, form, cutoffs):
    rng = random.Random(23)
    alpha = "abcdef "
    pairs = []
    for _ in range(300):
        n1, n2 = rng.randint(0, 90), rng.randint(0, 130)
        a = "".join(rng.choice(alpha) for _ in range(n1))
        b = "".join(rng.choice(alpha) for _ in range(n2))
        pairs.append((a, b))
    # include identical + near-identical pairs (cutoff boundary mass)
    pairs += [(a, a) for a, _ in pairs[:20]]
    pairs += [(a, a[:-1] + "z") for a, _ in pairs[:20] if len(a) > 2]
    s1 = np.array([p[0] for p in pairs], dtype=object)
    s2 = np.array([p[1] for p in pairs], dtype=object)
    full = batch_scores(scorer, form, s1, s2)
    for c in cutoffs:
        got = batch_scores(scorer, form, s1, s2, score_cutoff=c)
        if form == "distance":
            want = np.where(full <= c, full, np.nan)
        else:
            want = np.where(full >= c, full, np.nan)
        both_nan = np.isnan(got) & np.isnan(want)
        same = both_nan | (got == want)
        assert same.all(), (scorer, c, np.flatnonzero(~same)[:5])


# ---------------------------------------------------------------------------
# 8. the DuckDB oracle folds are themselves fuzzed vs the kernels
# ---------------------------------------------------------------------------

def test_sql_lcs_and_osa_folds_match_kernels():
    """the oracle is only evidence if ITS math is right: fuzz the SQL
    bit-parallel LCS/OSA/ratio folds against the python cores over a
    DuckDB temp table (no string-literal quoting pitfalls)."""
    import duckdb
    import importlib.util
    import os as _os
    spec = importlib.util.spec_from_file_location(
        "entry_for_test",
        _os.path.join(_os.path.dirname(_os.path.dirname(__file__)),
                      "__spark_entry__.py"))
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    from fuzzspark.kernels._bitpar import lcs_core, osa_core
    from fuzzspark.kernels.fuzz import ratio_raw

    rng = random.Random(99)
    alpha = "ab c'd#\"e"
    rows = []
    for i in range(120):
        n1, n2 = rng.randint(0, 40), rng.randint(0, 55)
        rows.append((i, "".join(rng.choice(alpha) for _ in range(n1)),
                     "".join(rng.choice(alpha) for _ in range(n2))))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    got = con.execute(
        f"SELECT i, {em._sql_lcs_sym('a', 'b')} AS lcs, "
        f"{em._sql_osa('a', 'b')} AS osa, "
        f"ROUND({em._sql_ratio('a', 'b')}, 6) AS r "
        "FROM t ORDER BY i").fetchall()
    for (i, lcs, osa, r), (_, a, b) in zip(got, rows):
        sa, sb = (a, b) if len(a) <= len(b) else (b, a)
        assert lcs == lcs_core(sa, sb), (i, a, b)
        assert osa == osa_core(a, b), (i, a, b)
        assert r == round(ratio_raw(a, b), 6), (i, a, b)


def test_partial_ratio_batch_equals_scalar():
    from fuzzspark.kernels import fuzz as _fuzz
    rng = random.Random(17)
    pairs = []
    for _ in range(200):
        n1, n2 = rng.randint(0, 30), rng.randint(0, 90)
        a = "".join(rng.choice("abcd") for _ in range(n1))
        b = "".join(rng.choice("abcd") for _ in range(n2))
        pairs.append((a, b))
    s1 = np.array([p[0] for p in pairs], dtype=object)
    s2 = np.array([p[1] for p in pairs], dtype=object)
    got = batch_scores("partial_ratio", "normalized_similarity", s1, s2)
    want = [_fuzz.partial_ratio_raw(a, b) for a, b in pairs]
    assert np.allclose(got, want), np.flatnonzero(~np.isclose(got, want))[:5]
