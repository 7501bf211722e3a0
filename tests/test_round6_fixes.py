"""Round-6 fixes, pinned.

1. length_prefilter has NO valid bound for the composite scorers
   (ADVICE r5 high): partial_ratio / token_set_ratio / token_sort_ratio
   emit lit(True) — score_pairs must not drop perfect matches.
2. score_pairs splits exact-duplicate rows off BEFORE the scorer UDF
   (plan-level union, not a when() over the UDF column) (ADVICE r5).
3. connected_components drops self-loops consistently on the
   driver-finish and distributed paths (ADVICE r5).
4. run_pipeline leaves the CC checkpoint dir in place when the caller
   had no checkpoint dir configured (ADVICE r5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import union_find_labels


# ------------------------------------------------- length_prefilter


@pytest.mark.parametrize("scorer,a,b", [
    # a short string contained in a long one scores 1.0 under
    # partial_ratio while 2*min/(l1+l2) = 0.25
    ("partial_ratio", "alpha", "zz alpha zz plus padding"),
    # token subset: token_set_ratio == 1.0, bound would be ~0.27
    ("token_set_ratio", "alpha", "alpha beta gamma delta epsilon zeta"),
    # whitespace collapse: token_sort_ratio == 1.0, raw-length bound < 1
    ("token_sort_ratio", "b     a", "a b"),
])
def test_score_pairs_no_length_prune_for_composites(spark, scorer, a, b):
    from fuzzspark.functions import length_prefilter, score_pairs
    from fuzzspark.kernels.batch import batch_scores

    # the kernel really does score these pairs at 1.0
    assert batch_scores(scorer, "normalized_similarity", [a], [b])[0] \
        == pytest.approx(1.0)
    df = spark.createDataFrame([(a, b)], "s1: string, s2: string")
    out = score_pairs(df, "s1", "s2", scorer=scorer, score_cutoff=0.9)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["score"] == pytest.approx(1.0)
    # and the predicate itself is a plain TRUE for these scorers
    kept = df.where(length_prefilter(F.length("s1"), F.length("s2"),
                                     scorer, 0.99)).count()
    assert kept == 1


def test_length_prefilter_still_prunes_ratio(spark):
    from fuzzspark.functions import length_prefilter

    df = spark.createDataFrame([("ab", "abcdefghij")], "s1: string, s2: string")
    assert df.where(length_prefilter(F.length("s1"), F.length("s2"),
                                     "ratio", 0.9)).count() == 0


# ------------------------------------------- score_pairs exact split


def test_score_pairs_exact_rows_bypass_udf_in_plan(spark):
    from fuzzspark.functions import score_pairs

    df = spark.createDataFrame(
        [("same", "same"), ("kitten", "sitting"), (None, "x")],
        "s1: string, s2: string")
    out = score_pairs(df, "s1", "s2", scorer="ratio", keep_suppressed=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # plan-level split: ONE ArrowEvalPython branch under a Union — the
    # exact side never reaches the python worker
    assert plan.count("ArrowEvalPython") == 1
    assert "Union" in plan
    got = {(r["s1"], r["s2"]): r["score"] for r in out.collect()}
    assert got[("same", "same")] == pytest.approx(1.0)
    assert 0.0 < got[("kitten", "sitting")] < 1.0
    assert got[(None, "x")] is None


# -------------------------------------------------- CC self-loops


def _labels(df):
    return sorted((r["id"], r["cluster_id"]) for r in df.collect())


@pytest.mark.parametrize("distributed", [True, False])
def test_cc_self_loop_only_node_consistent(spark, driver_finish_at,
                                           distributed):
    from fuzzspark.pipeline.cluster import connected_components

    edges = spark.createDataFrame([(1, 1), (2, 3), (9, 9)],
                                  "left_id: long, right_id: long")
    with driver_finish_at(0 if distributed else 1_000_000):
        out = _labels(connected_components(edges))
    # self-loop-only nodes (1, 9) count as isolated on BOTH paths
    assert out == [(2, 2), (3, 2)]


@pytest.mark.parametrize("distributed", [True, False])
def test_cc_all_self_loops_empty(spark, driver_finish_at, distributed):
    from fuzzspark.pipeline.cluster import connected_components

    edges = spark.createDataFrame([(4, 4)], "left_id: long, right_id: long")
    with driver_finish_at(0 if distributed else 1_000_000):
        assert connected_components(edges).count() == 0


# ------------------------- CC co-partitioned pre-contraction (r6)


def test_cc_copartition_contracts_cross_partition_redundancy(
        spark, driver_finish_at):
    """Dense clusters scattered across partitions (the real match-graph
    shape — every near-dup cluster is near-all-pairs): phase-1 local
    contraction still leaves ~one edge per (node, partition); the
    round-6 co-partitioned second pass sees whole neighborhoods and
    must contract materially further."""
    import numpy as np

    from fuzzspark.pipeline.cluster import (_pre_contract, _symmetrize,
                                            connected_components)

    rng = np.random.default_rng(5)
    edges = []
    for c in range(50):  # 50 all-pairs clusters of 20 nodes
        ids = rng.permutation(10_000)[:20] + c * 100_000
        edges += [(int(a), int(b)) for i, a in enumerate(ids)
                  for b in ids[i + 1:]]
    df = (spark.createDataFrame(edges, "left_id: long, right_id: long")
          .repartition(8))

    phase1 = _pre_contract(df)
    both = _pre_contract(_symmetrize(phase1).repartition("u"))
    c1 = _symmetrize(phase1).distinct().count()
    c2 = _symmetrize(both).distinct().count()
    # 50 clusters x 20 nodes: the minimal star forest is 19*50 = 950
    # edges (1900 symmetrized); phase 1 alone leaves ~one edge per
    # (node, partition) — measured 3264 here.  Phase 2 must land at
    # the floor (one star per cluster) — materially under phase 1.
    assert c2 == 2 * 19 * 50, (c1, c2)
    assert c2 <= 0.7 * c1, (c1, c2)

    # labels equal the union-find oracle's on both the driver-finish
    # and the distributed path
    want = sorted(union_find_labels(edges).items())
    assert len({cid for _i, cid in want}) == 50
    assert _labels(connected_components(df)) == want
    with driver_finish_at(0):
        assert _labels(connected_components(df)) == want


def test_cc_restores_arrow_batch_conf(spark, driver_finish_at):
    """connected_components scopes a larger Arrow batch size to its own
    computation (16-byte edge rows vs the session's text-sized 2048)
    and must restore the caller's value on every exit path."""
    from fuzzspark.pipeline.cluster import connected_components

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    edges = spark.createDataFrame([(1, 2), (3, 4)],
                                  "left_id: long, right_id: long")
    connected_components(edges).count()                      # driver finish
    assert spark.conf.get(key) == before
    with driver_finish_at(0):
        connected_components(edges).count()                  # distributed
    assert spark.conf.get(key) == before


def test_cc_auto_sized_driver_finish(spark):
    from fuzzspark.pipeline.cluster import (_DRIVER_FINISH_FLOOR,
                                            _auto_driver_finish,
                                            connected_components)
    from fuzzspark.pipeline.util import parse_bytes

    mem = parse_bytes(spark.conf.get("spark.driver.memory", "1g"))
    want = max(_DRIVER_FINISH_FLOOR, mem // 256)
    assert _auto_driver_finish(spark) == want

    edges = spark.createDataFrame([(1, 2)], "left_id: long, right_id: long")
    stats: dict = {}
    connected_components(edges, stats=stats).count()
    assert stats["driver_finish_threshold"] == want


# --------------------------- token_set all-distinct fast path (r6)


def test_token_set_distinct_and_dedup_paths_parity():
    """The probe-gated all-distinct path and the dedup path (round 6)
    both equal the scalar kernel bit-for-bit."""
    import numpy as np

    from fuzzspark.kernels import fuzz as _fuzz
    from fuzzspark.kernels.batch import batch_scores

    rng = np.random.default_rng(17)
    words = ["".join(rng.choice(list("abcdefgh"), rng.integers(3, 8)))
             for _ in range(80)]

    def mk():
        return " ".join(rng.choice(words, rng.integers(2, 9)))

    n = 1500
    s1 = [mk() for _ in range(n)]
    s2 = [mk() for _ in range(n)]
    got = batch_scores("token_set_ratio", "normalized_similarity", s1, s2)
    # heavy repeats: forces the dedup branch (probe sees duplicates)
    r1 = [s1[i % 13] for i in range(n)]
    r2 = [s2[i % 29] for i in range(n)]
    rep = batch_scores("token_set_ratio", "normalized_similarity", r1, r2)
    for i in range(n):
        assert got[i] == _fuzz.token_set_ratio(s1[i], s2[i]), i
        assert rep[i] == _fuzz.token_set_ratio(r1[i], r2[i]), i
    # boundary shapes through both paths
    for a, b in [("", ""), ("", "a b"), ("a b", ""), ("x", "x"),
                 ("a b c", "c b a"), ("a  b", "b a"),
                 ("alpha", "alpha beta gamma delta epsilon zeta")]:
        assert batch_scores("token_set_ratio", "normalized_similarity",
                            [a], [b])[0] == _fuzz.token_set_ratio(a, b)


# -------------------- score_hint on the indel family (r6, VERDICT #8)


def test_indel_family_hint_is_result_invariant():
    """score_hint on indel / ratio / token_sort_ratio is accepted and
    ignored — results must be bit-identical for ANY hint, any form,
    with and without a cutoff (reference hint contract,
    src/common.rs:3-6)."""
    import numpy as np

    from fuzzspark.kernels.batch import batch_scores

    rng = np.random.default_rng(29)

    def near(n, edits):
        s = "".join(rng.choice(list("abcdefghij "), n))
        t = list(s)
        for _ in range(edits):
            p = int(rng.integers(0, len(t)))
            if rng.integers(0, 2) and len(t) > 1:
                del t[p]
            else:
                t.insert(p, "Q")
        return s, "".join(t)

    pairs = [near(int(rng.integers(30, 900)), int(rng.integers(0, 15)))
             if rng.random() < 0.5 else
             ("".join(rng.choice(list("abcde "), int(rng.integers(30, 900)))),
              "".join(rng.choice(list("abcde "), int(rng.integers(30, 900)))))
             for _ in range(150)]
    s1 = [a for a, _ in pairs]
    s2 = [b for _, b in pairs]
    for scorer in ("indel", "ratio", "token_sort_ratio"):
        for form in ("normalized_similarity", "distance",
                     "similarity", "normalized_distance"):
            base = batch_scores(scorer, form, s1, s2)
            hints = ((0.999, 0.6, 0.0) if form.startswith("norm")
                     else (0, 7, 10**6))
            for h in hints:
                got = batch_scores(scorer, form, s1, s2, score_hint=h)
                assert np.array_equal(base, got, equal_nan=True), \
                    (scorer, form, h)
        basec = batch_scores(scorer, "normalized_similarity", s1, s2,
                             score_cutoff=0.9)
        for h in (0.99, 0.5):
            gotc = batch_scores(scorer, "normalized_similarity", s1, s2,
                                score_cutoff=0.9, score_hint=h)
            assert np.array_equal(basec, gotc, equal_nan=True), (scorer, h)


# --------------------------- C minhash kernel parity (r6)


def test_native_minhash_bit_exact_with_numpy_reference(request):
    """The C batch minhash kernel must be BIT-EXACT with the numpy
    loop of _native.native_minhash (which defines oracle parity) —
    including unicode, short (< shingle), empty and None docs."""
    import numpy as np

    from fuzzspark.kernels import _native
    from fuzzspark.kernels.minhash import make_minhash_matrix
    from fuzzspark.pipeline import blocking as BL

    if _native.get_lib() is None:
        import pytest
        pytest.skip("no compiler for the native kernels")
    rng = np.random.default_rng(41)
    docs = ["".join(rng.choice(list("abcdefgh XYZ.,"), rng.integers(0, 400)))
            for _ in range(300)]
    docs += ["", "ab", "abcd", None, "κόσμος και άλλα",
             "日本語テキスト " * 40, "a" * 5, " ", "q" * 2500]
    got_idx, got = make_minhash_matrix(**BL.minhash_params())(docs)
    request.getfixturevalue("python_kernels")  # the numpy loop from here
    want_idx, want = make_minhash_matrix(**BL.minhash_params())(docs)
    assert np.array_equal(got_idx, want_idx)
    assert np.array_equal(got, want)


# ------------------- streaming matcher hot-key defusal (r6)


def _hot_key_defusal_case(spark, blocking_constants, max_bytes: str,
                          path: str) -> None:
    """A reference block key shared by every doc (the degenerate
    path-stem shape) must not amplify each arrival into whole-corpus
    candidates: with a low MAX_BLOCK the hot key is dropped at build
    time, and true near-dups still match via their minhash keys.
    ``max_bytes`` sets the broadcast gate, so the case runs on the
    matcher ``path`` it selects."""
    from pyspark.sql import functions as F

    from fuzzspark.pipeline import corpus_to_spark, generate_corpus
    from fuzzspark.streaming.ops import _match_batch
    from tests.conftest import broadcast_gate

    files, _p, _t = corpus_to_spark(
        spark, generate_corpus(n_clusters=60, seed=13, threshold=0.9))
    # degenerate path key: every doc shares the (empty) letters-only
    # stem and one lang, so 'p:text/' is carried by the whole reference
    ref = files.withColumn(
        "path", F.concat(F.lit("docs/"), F.col("id").cast("string"),
                         F.lit(".txt"))).withColumn(
        "lang", F.lit("text")).cache()
    n_ref = ref.count()
    assert n_ref > 50
    batch = ref.limit(40).cache()

    with broadcast_gate(spark, max_bytes):
        with blocking_constants(max_block=50):
            m_defused = _match_batch(ref, "ratio", 0.9)
        with blocking_constants(max_block=n_ref):  # keeps every key
            m_full = _match_batch(ref, "ratio", 0.9)
    assert m_defused.plan["path"] == m_full.plan["path"] == path
    if path == "broadcast_index":
        assert m_defused.plan["hot_keys_dropped"] >= 1
        assert m_full.plan["hot_keys_dropped"] == 0
    key = lambda df: sorted(map(tuple, df.collect()))
    got, want = key(m_defused(batch)), key(m_full(batch))
    m_defused.unpersist()
    m_full.unpersist()
    assert got == want  # identical edges — hot key carried no signal
    assert len(got) >= 40  # every doc at least matches itself


def test_streaming_matcher_hot_key_defused(spark, blocking_constants):
    """Hot-key defusal on the broadcast-index matcher (default gate)."""
    _hot_key_defusal_case(spark, blocking_constants, "64m",
                          "broadcast_index")


def test_streaming_matcher_hot_key_defused_join_path(spark,
                                                     blocking_constants):
    """Hot-key defusal on the join matcher (gate forced off)."""
    _hot_key_defusal_case(spark, blocking_constants, "0", "join")


# ---------------------- streaming state is watermark-bounded (r6)


def test_streaming_dedup_state_bounded_by_watermark(spark, tmp_path):
    """6 waves of 50 distinct keys, waves 20 min apart, 10-min
    watermark: the dedup state store must hold ~a wave of keys (the
    watermark window), never all 300 — state rows <= distinct keys in
    the watermark window (VERDICT r5 item 7)."""
    import os

    from fuzzspark.streaming import streaming_exact_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    waves, keys_per_wave = 6, 50
    for w in range(waves):
        rows = [(w * 1000 + i, f"text w{w} k{i}",
                 f"2026-01-01 {w * 20 // 60:02d}:{(w * 20) % 60:02d}:00")
                for i in range(keys_per_wave)]
        (spark.createDataFrame(rows, "id: long, content: string, ts_s: string")
         .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
         .coalesce(1).write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (streaming_exact_dedup(stream, watermark="10 minutes")
         .writeStream.format("memory").queryName("bounded_state_out")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    max_state = 0
    for p in q.recentProgress:
        for so in p["stateOperators"]:
            max_state = max(max_state, so["numRowsTotal"])
    total = waves * keys_per_wave
    assert spark.sql("SELECT count(*) c FROM bounded_state_out") \
                .collect()[0]["c"] == total  # all keys distinct -> kept
    assert 0 < max_state < total
    # eviction lags one batch: at most the current + previous wave live
    assert max_state <= 2 * keys_per_wave, max_state


# ------------------------------------- CC checkpoint dir, no prev


def test_cc_checkpoint_dir_kept_when_no_prev(spark, tmp_path):
    """With no caller-configured checkpoint dir, run_pipeline must NOT
    delete the _cc_checkpoint dir the context still points at (a later
    df.checkpoint() would write into a vanished directory)."""
    import os

    from fuzzspark.pipeline import (LinkageConfig, corpus_to_spark,
                                    generate_corpus, run_pipeline)

    jsc = spark.sparkContext._jsc.sc()
    prev_opt = jsc.getCheckpointDir()
    prev = prev_opt.get() if prev_opt.isDefined() else None
    try:
        # clear: SparkContext.setCheckpointDir(null) -> Option(null) = None
        jsc.setCheckpointDir(None)
        assert not jsc.getCheckpointDir().isDefined()
        files, _p, _t = corpus_to_spark(
            spark, generate_corpus(n_clusters=10, seed=3, threshold=0.9))
        wd = str(tmp_path / "wd")
        run_pipeline(spark, files, wd, LinkageConfig(threshold=0.9))
        cc_dir = os.path.join(wd, "_cc_checkpoint")
        cur = jsc.getCheckpointDir()
        assert cur.isDefined() and cc_dir in cur.get()
        # the dir the context points at still exists
        assert os.path.isdir(cc_dir)
    finally:
        if prev is not None:
            spark.sparkContext.setCheckpointDir(prev)
