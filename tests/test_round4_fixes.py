"""Round-4 hardening tests (VERDICT.md round-3 action items)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------- item 3
def test_exact_dup_member_cap_pathological_group(spark):
    """A 10^5-dup group must not materialize an unbounded member_ids
    array: the cap bounds both the output row and the collect_list
    aggregation buffer (row_number pre-filter)."""
    from fuzzspark.extras.dedup import exact_dup_clusters
    n_hot = 100_000
    hot = spark.range(n_hot).select(
        F.col("id"), F.lit("boilerplate license header").alias("content"))
    small = spark.createDataFrame(
        [(1_000_000, "unique doc"), (1_000_001, "twin"), (1_000_002, "twin")],
        "id: long, content: string")
    out = exact_dup_clusters(hot.unionByName(small), max_members=128)
    # single shuffle: window + groupBy share the content_sha partitioning
    # (capture the plan BEFORE execution — post-AQE explain repeats the
    # tree as Final + Initial plan)
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    tree = buf.getvalue().split("\n\n(")[0]  # plan tree, not node details
    assert tree.count("Exchange") == 1
    rows = {r["dup_count"]: r for r in out.collect()}
    assert set(rows) == {n_hot, 2}
    big = rows[n_hot]
    assert big["keep_id"] == 0
    assert len(big["member_ids"]) == 128           # capped
    assert big["member_ids"] == list(range(128))   # the SMALLEST ids
    twin = rows[2]
    assert twin["member_ids"] == [1_000_001, 1_000_002]  # small: complete


def test_exact_dup_clusters_default_shape_unchanged(spark):
    from fuzzspark.extras.dedup import exact_dup_clusters
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id: long, content: string")
    rows = exact_dup_clusters(df).collect()
    assert len(rows) == 1
    assert rows[0]["dup_count"] == 2
    assert rows[0]["keep_id"] == 1
    assert rows[0]["member_ids"] == [1, 2]
    assert set(rows[0].asDict()) == {"content_sha", "dup_count",
                                     "keep_id", "member_ids"}


# --------------------------------------------------------------- item 4
def test_damerau_zhao_sahni_long_strings():
    """The C kernel is now Zhao-Sahni linear-space: long (>64-char,
    formerly over-the-cell-cap) pairs must agree with the scalar python
    DP, including transposition-heavy and unicode inputs."""
    import random
    from fuzzspark.kernels import _native
    from fuzzspark.kernels.metrics import damerau_distance_raw
    if _native.get_lib() is None:
        pytest.skip("no C compiler in this environment")
    random.seed(7)

    def rnd(n, alpha="abcdefghij"):
        return "".join(random.choice(alpha) for _ in range(n))

    pairs = []
    for _ in range(40):  # long, transposition-heavy
        n = random.randint(100, 400)
        s = rnd(n)
        lst = list(s)
        for _ in range(random.randint(1, 15)):
            i = random.randrange(max(1, n - 1))
            lst[i], lst[i + 1] = lst[i + 1], lst[i]
        pairs.append((s, "".join(lst)))
    for _ in range(60):  # random unequal lengths across the old cap
        pairs.append((rnd(random.randint(0, 200)),
                      rnd(random.randint(0, 200))))
    pairs += [("Иванко", "Петрунко"), ("CA", "ABC"), ("CA", "AC"),
              ("", ""), ("a" * 5000, "a" * 4999 + "b")]
    got = _native.native_damerau([a for a, _ in pairs],
                                 [b for _, b in pairs])
    for i, (a, b) in enumerate(pairs):
        assert int(got[i]) == damerau_distance_raw(a, b), (a[:40], b[:40])


def test_damerau_batch_scalar_parity_long(spark):
    """batch_scores == scalar python DP through the full dispatch on
    >64-char pairs (the path that used to hit the per-pair fallback)."""
    import random
    import pandas as pd
    from fuzzspark.kernels.batch import batch_scores
    from fuzzspark.kernels.metrics import damerau_distance_raw
    random.seed(11)

    def rnd(n):
        return "".join(random.choice("abcdefg") for _ in range(n))

    a = [rnd(random.randint(80, 300)) for _ in range(50)]
    b = [rnd(random.randint(80, 300)) for _ in range(50)]
    out = batch_scores("damerau_levenshtein", "distance",
                       pd.Series(a), pd.Series(b))
    for i in range(len(a)):
        assert int(out[i]) == damerau_distance_raw(a[i], b[i])


# --------------------------------------------------------------- item 6
def test_score_hint_banded_parity():
    """score_hint is accepted and ignored by levenshtein and osa:
    results must be bit-identical to the unhinted path for any hint —
    too small, exact, absurdly large — with and without a cutoff, and
    a distance cutoff (the bounded kernel's early abandonment) must
    suppress exactly the pairs above it."""
    import random
    import pandas as pd
    from fuzzspark.kernels.batch import batch_scores
    random.seed(13)

    def mutate(s, k):
        lst = list(s)
        for _ in range(k):
            op = random.choice("sid")
            i = random.randrange(len(lst))
            if op == "s":
                lst[i] = random.choice("XYZ")
            elif op == "i":
                lst.insert(i, random.choice("XYZ"))
            elif len(lst) > 1:
                del lst[i]
        return "".join(lst)

    A, B = [], []
    for _ in range(60):
        s = "".join(random.choice("abcdefgh") for _ in
                    range(random.randint(500, 2000)))
        A.append(s)
        B.append(mutate(s, random.randint(0, 10)))
    A += ["kitten", "", "Иванко", "abc"]
    B += ["sitting", "x", "Петрунко", ""]
    sa, sb = pd.Series(A), pd.Series(B)
    base = batch_scores("levenshtein", "distance", sa, sb)
    for hint in (0, 1, 4, 64, 10**6):
        got = batch_scores("levenshtein", "distance", sa, sb,
                           score_hint=hint)
        assert np.array_equal(base, got, equal_nan=True), hint
    # a distance cutoff bounds the kernel: a pair either gets its exact
    # value or is abandoned and suppressed
    cut = batch_scores("levenshtein", "distance", sa, sb, score_cutoff=6)
    expect = np.where(base <= 6, base, np.nan)
    assert np.array_equal(cut, expect, equal_nan=True)
    cut_h = batch_scores("levenshtein", "distance", sa, sb,
                         score_cutoff=6, score_hint=3)
    assert np.array_equal(cut, cut_h, equal_nan=True)
    # non-distance forms stay result-identical too
    for form, hints in [("similarity", (1900, 0)),
                        ("normalized_distance", (0.002, 0.9)),
                        ("normalized_similarity", (0.998, 0.1))]:
        base_f = batch_scores("levenshtein", form, sa, sb)
        for h in hints:
            got_f = batch_scores("levenshtein", form, sa, sb, score_hint=h)
            assert np.array_equal(base_f, got_f, equal_nan=True), (form, h)
    # OSA: same contract on the bounded OSA kernel
    osa_base = batch_scores("osa", "distance", sa, sb)
    for hint in (0, 2, 64, 10**6):
        got_o = batch_scores("osa", "distance", sa, sb, score_hint=hint)
        assert np.array_equal(osa_base, got_o, equal_nan=True), hint
    osa_cut = batch_scores("osa", "distance", sa, sb, score_cutoff=5)
    assert np.array_equal(osa_cut, np.where(osa_base <= 5, osa_base, np.nan),
                          equal_nan=True)


# --------------------------------------------------------------- item 5
def test_vectorized_tails_match_scalar_formulas():
    """jw prefix boost and prefix/postfix now ride the C affix scan;
    values must equal the scalar definitions exactly."""
    import pandas as pd
    from fuzzspark.kernels.batch import batch_scores
    from fuzzspark.kernels.metrics import jaro_similarity_raw
    A = ["martha", "dixon", "abcd", "", "a", "préfix", "same", "xyzw"]
    B = ["marhta", "dicksonx", "abce", "", "ab", "préfixe", "same", "axyz"]
    sa, sb = pd.Series(A), pd.Series(B)
    jw = batch_scores("jaro_winkler", "normalized_similarity", sa, sb)
    for i, (x, y) in enumerate(zip(A, B)):
        sim = jaro_similarity_raw(x, y)
        if sim > 0.7:
            p = 0
            for c1, c2 in zip(x[:4], y[:4]):
                if c1 != c2:
                    break
                p += 1
            sim = sim + p * 0.1 * (1.0 - sim)
        assert jw[i] == pytest.approx(sim, abs=0), (x, y)
    pf = batch_scores("prefix", "distance", sa, sb)
    sf = batch_scores("postfix", "distance", sa, sb)
    for i, (x, y) in enumerate(zip(A, B)):
        p = 0
        for c1, c2 in zip(x, y):
            if c1 != c2:
                break
            p += 1
        s = 0
        for c1, c2 in zip(reversed(x), reversed(y)):
            if c1 != c2:
                break
            s += 1
        assert pf[i] == max(len(x), len(y)) - p
        assert sf[i] == max(len(x), len(y)) - s


# ------------------------------------------------- scale architecture
def test_pairs_checkpoint_is_slim_and_cc_reliable(spark, tmp_path):
    """03_pairs must never materialize document text (the checkpoint
    would scale with pair amplification x document size), and the CC
    loop must run with reliable checkpoints when run_pipeline drives
    it (lost localCheckpoint blocks are unrecoverable)."""
    import json
    from fuzzspark.pipeline import (LinkageConfig, corpus_to_spark,
                                    run_pipeline)
    from fuzzspark.pipeline.corpus import generate_corpus
    files, _, _ = corpus_to_spark(spark, generate_corpus(n_clusters=8,
                                                         seed=3))
    out = run_pipeline(spark, files, str(tmp_path / "wd"),
                       LinkageConfig(threshold=0.85))
    # round 7: the checkpoint is SKINNIER still — lengths no longer
    # ride the pair dedup shuffle either (the scoring stage re-derives
    # them from the content it attaches anyway)
    assert set(out["pairs"].columns) == {
        "left_id", "right_id", "exact_equal"}
    m = json.load(open(out["runner"].manifest_path("05_clusters")))
    assert m["extra"]["checkpoint_mode"] == "reliable"
    # scores keep the full contract (exact pairs score 1.0, text joined
    # back only for the scored branch)
    assert set(out["scores"].columns) == {
        "left_id", "right_id", "len1", "len2", "exact_equal", "score"}
    exact = out["scores"].where("exact_equal").select("score").distinct() \
        .collect()
    assert all(r["score"] == 1.0 for r in exact)


# --------------------------------------------------------------- item 8
def test_skew_defusal_recall_floor(spark):
    """Planted worst case (whole labeled corpus in ONE hot block): the
    default defusal settings must keep >= 0.95 of truth match pairs
    co-keyed while cutting candidate pairs by >= 10x (full table in
    BENCH_SCALING.md, tools/skew_recall.py)."""
    from tools.skew_recall import run_experiment
    n, n_truth, rows = run_experiment(spark, n_clusters=400, seed=17)
    by_setting = {(mb, w): (cand, rec) for mb, w, cand, rec in rows}
    full_pairs, full_rec = by_setting[("off", "-")]
    assert full_rec == 1.0
    cand, rec = by_setting[("200", "20")]  # pipeline defaults
    assert rec >= 0.95, rec
    assert cand * 10 <= full_pairs, (cand, full_pairs)


# --------------------------------------------------------------- item 2
def test_lsh_band_keys_integer_exact(spark):
    """Quantized band keys must be reproducible by pure integer
    arithmetic (the property the DuckDB oracle relies on)."""
    from fuzzspark.extras.similarity import (LSH_X_SCALE, _hyperplanes,
                                             lsh_band_udf)
    dim, n_bands, bits, seed = 8, 4, 6, 777
    rng = np.random.default_rng(123)
    vecs = [(i, rng.uniform(-1, 1, dim).astype(np.float32).tolist())
            for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    udf = lsh_band_udf(dim, n_bands, bits, seed)
    got = {r["vec_id"]: r["keys"] for r in df.select(
        "vec_id", udf(F.col("embedding").cast("array<double>"))
        .alias("keys")).collect()}
    H = _hyperplanes(dim, n_bands * bits, seed)
    assert H.dtype == np.int64
    for vid, emb in vecs:
        x = np.asarray(emb, dtype=np.float32).astype(np.float64)
        xq = np.floor(x * float(LSH_X_SCALE)).astype(np.int64)
        signs = (H @ xq) > 0  # pure integer dot
        keys = []
        for b in range(n_bands):
            key = sum(int(signs[b * bits + j]) << j for j in range(bits))
            keys.append((b << 32) + key)
        assert got[vid] == keys
