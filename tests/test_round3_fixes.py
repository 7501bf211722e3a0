"""Round-3 VERDICT/ADVICE fixes.

* blocked fuzzy_topk_join: the docstring-promised scale path exists —
  equi-join plan (no BroadcastNestedLoopJoin), results equal to the
  exact broadcast variant on a corpus whose matches the LSH blocks
  recall;
* jaro_winkler length prune disabled for prefix_weight > 0.25 (ADVICE:
  the bound formula is only an upper bound below that weight).
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fuzzspark.extras.search import fuzzy_topk_join


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def near_dup_frames(spark):
    """(queries, choices): every query has planted near-duplicate
    choices (tiny edits on 120-char strings -> Jaccard >> the 8x4 LSH
    S-curve threshold, so band recall ~1) plus unrelated noise rows."""
    rng = np.random.default_rng(99)

    def rand_s(n):
        return "".join(chr(97 + int(c)) for c in rng.integers(0, 6, n))

    qrows, crows = [], []
    cid = 0
    for qid in range(12):
        base = rand_s(120)
        qrows.append((qid, base))
        for _ in range(3):  # near-dups: 2 substitutions
            v = list(base)
            for p in rng.integers(0, 120, 2):
                v[int(p)] = "z"
            crows.append((cid, "".join(v)))
            cid += 1
    for _ in range(40):  # unrelated noise
        crows.append((cid, rand_s(int(rng.integers(80, 160)))))
        cid += 1
    q = spark.createDataFrame(pd.DataFrame(qrows, columns=["qid", "qtext"]))
    c = spark.createDataFrame(pd.DataFrame(crows, columns=["cid", "ctext"]))
    return q, c


BLOCKING = dict(use_exact=True, use_path=False, use_minhash=True)


def test_fuzzy_topk_blocked_equals_broadcast(spark, near_dup_frames):
    q, c = near_dup_frames
    kw = dict(query_col="qtext", choice_col="ctext",
              query_id="qid", choice_id="cid",
              scorer="ratio", k=3, score_cutoff=0.9)
    exact = fuzzy_topk_join(q, c, **kw).toPandas()
    blocked = fuzzy_topk_join(q, c, blocking_kwargs=BLOCKING, **kw).toPandas()
    key = ["query_id", "choice_id", "score", "rank"]
    pd.testing.assert_frame_equal(
        exact.sort_values(key).reset_index(drop=True),
        blocked.sort_values(key).reset_index(drop=True))
    # every query found its 3 planted near-dups
    assert len(blocked) == 12 * 3


def test_fuzzy_topk_blocked_plan_no_nested_loop(spark, near_dup_frames):
    q, c = near_dup_frames
    kw = dict(query_col="qtext", choice_col="ctext",
              query_id="qid", choice_id="cid",
              scorer="ratio", k=3, score_cutoff=0.9)
    blocked_plan = _plan(fuzzy_topk_join(
        q, c, blocking_kwargs=BLOCKING, broadcast_queries=False, **kw))
    assert "BroadcastNestedLoopJoin" not in blocked_plan
    assert "CartesianProduct" not in blocked_plan
    # the unblocked variant IS the nested loop (sanity check the probe)
    exact_plan = _plan(fuzzy_topk_join(q, c, **kw))
    assert ("BroadcastNestedLoopJoin" in exact_plan
            or "CartesianProduct" in exact_plan)


def test_cc_stats_surfaced(spark, tmp_path, driver_finish_at):
    """connected_components fills the stats dict (round-by-round
    contracted edge counts + driver-finish point) and run_pipeline
    lands it in the 05_clusters manifest."""
    import json

    from fuzzspark.pipeline.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "left_id: long, right_id: long")
    stats: dict = {}
    labels = connected_components(edges, stats=stats).toPandas()
    assert stats["round_edges"][0] == 8          # symmetrized distinct
    assert stats["driver_finish_at_edges"] == 8  # default threshold cuts in
    assert len(labels) == 7

    stats2: dict = {}
    with driver_finish_at(0):
        connected_components(edges, stats=stats2).count()
    assert stats2["driver_finish_at_edges"] is None
    assert len(stats2["round_edges"]) >= 2       # ran distributed rounds

    # manifest surfacing: a micro pipeline lands cc stats in 05_clusters
    from fuzzspark.pipeline import LinkageConfig, run_pipeline
    from fuzzspark.pipeline.corpus import corpus_to_spark, generate_corpus
    files, _, _ = corpus_to_spark(spark, generate_corpus(n_clusters=6, seed=5))
    out = run_pipeline(spark, files, str(tmp_path / "wd"),
                       LinkageConfig(threshold=0.85))
    m = json.load(open(out["runner"].manifest_path("05_clusters")))
    # when the free 04_scores-manifest bound already fits the
    # driver-finish threshold, CC legitimately skips every contraction
    # round (round_edges empty) and records the short-circuit instead
    assert m["extra"]["round_edges"] or (
        m["extra"].get("upper_bound_short_circuit") is True
        and m["extra"]["driver_finish_at_edges"] > 0), m
    # the threshold derives from spark.driver.memory (4M floor) —
    # assert against the same derivation
    from fuzzspark.pipeline.cluster import _auto_driver_finish
    assert m["extra"]["driver_finish_threshold"] == _auto_driver_finish(spark)
    assert m["extra"]["driver_finish_threshold"] >= 4_000_000


def test_native_uint8_path_parity():
    """The uint8 ASCII fast path through the C batch kernels is
    bit-exact with the scalar kernels.  THREE SEPARATE batches so each
    encoding branch is actually exercised (a single mixed batch widens
    everything to uint32 and the es=1 kernel path never runs):
    all-ASCII (es=1), unicode on exactly one side (the widen branch in
    the wrapper), and all-unicode (es=4)."""
    from fuzzspark.kernels import _native
    from fuzzspark.kernels.batch import batch_scores
    from fuzzspark.kernels.fuzz import ratio_raw
    from fuzzspark.kernels.metrics import (levenshtein_distance_raw,
                                           osa_distance_raw)
    if _native.get_lib() is None:
        pytest.skip("no compiler")
    rng = np.random.default_rng(31)

    def rand_s(k, lo=32, hi=126):
        return "".join(chr(int(c)) for c in rng.integers(lo, hi + 1, k))

    def rand_u(k):  # greek block: guaranteed non-ascii
        return "".join(chr(int(c)) for c in rng.integers(0x391, 0x3C9, k))

    ascii1 = [rand_s(int(rng.integers(0, 200))) for _ in range(200)] + ["", "x"]
    ascii2 = [rand_s(int(rng.integers(0, 200))) for _ in range(200)] + ["y", ""]
    uni1 = [rand_u(int(rng.integers(1, 60))) for _ in range(60)] + ["αβγ", ""]
    uni2 = [rand_u(int(rng.integers(1, 60))) for _ in range(60)] + ["", "αβγ"]
    batches = {
        "es1_ascii_both": (ascii1, ascii2),
        "widen_unicode_one_side": (ascii1[:60], uni2[:60]),
        "widen_unicode_other_side": (uni1[:60], ascii2[:60]),
        "es4_unicode_both": (uni1, uni2),
    }
    # the es=1 kernel path requires BOTH flattened sides to be ascii:
    # confirm the fixtures exercise what they claim
    from fuzzspark.kernels._native import _flatten_raw
    assert _flatten_raw(ascii1)[2] == 1 and _flatten_raw(ascii2)[2] == 1
    assert _flatten_raw(uni1)[2] == 4 and _flatten_raw(uni2)[2] == 4
    for label, (s1, s2) in batches.items():
        a1 = np.array(s1, dtype=object)
        a2 = np.array(s2, dtype=object)
        got_r = batch_scores("ratio", "normalized_similarity", a1, a2)
        got_l = batch_scores("levenshtein", "distance", a1, a2)
        got_o = batch_scores("osa", "distance", a1, a2)
        for i, (a, b) in enumerate(zip(s1, s2)):
            assert got_r[i] == ratio_raw(a, b), (label, a, b)
            assert got_l[i] == levenshtein_distance_raw(a, b), (label, a, b)
            assert got_o[i] == osa_distance_raw(a, b), (label, a, b)


def test_jw_prefilter_high_weight_not_suppressing():
    """ADVICE: with prefix_weight > 0.25 the jw length-prune formula is
    no longer an upper bound; the prefilter must not prune (TRUE for
    any length pair) so no passing pair can be wrongly suppressed."""
    from fuzzspark.functions import length_prefilter
    from fuzzspark.session import get_spark
    spark = get_spark("jwtest", cpus=2)
    df = spark.range(1).select(
        F.lit(4).alias("l1"), F.lit(400).alias("l2"))
    # extreme length mismatch: normal weight prunes at cutoff 1.2...
    pruned = df.where(length_prefilter(
        F.col("l1"), F.col("l2"), "jaro_winkler", 0.99,
        prefix_weight=0.1)).count()
    kept = df.where(length_prefilter(
        F.col("l1"), F.col("l2"), "jaro_winkler", 0.99,
        prefix_weight=0.6)).count()
    assert pruned == 0          # low weight: bound valid, pair pruned
    assert kept == 1            # high weight: prune disabled, pair kept
