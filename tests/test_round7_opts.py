"""Round-7 optimization pins: every rewrite must be result-identical.

* ann_cosine_topk numpy/mapInArrow rewrite == the old interpreted
  Catalyst plan (bit-for-bit rows at the smoke SF).
* exact_cosine_topk_block: HALF_UP rounding parity with Spark's
  round(), tie-break by cand_id, self-pair exclusion, block-split
  invariance (per-block top-k preselection is lossless).
* connected_components upper_bound_edges short-circuit == the full
  contraction path, and run_pipeline actually engages it via the
  04_scores manifest row count.
* numpy minhash fallback emits no RuntimeWarning (VERDICT r6 item 3).
"""

import os
import sys
import warnings

import numpy as np
import pytest
from pyspark.sql import Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE, union_find_labels


def _q_ann_old(spark, sf_dir):
    """The pre-round-7 interpreted-Catalyst plan, verbatim."""
    import __spark_entry__ as em
    e = em._t(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>"))
    q = e.where(F.col("vec_id") % 50 == 0) \
         .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("ce"))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda col: F.sqrt(F.aggregate(
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("cand_id"))
              .withColumn("cos", F.round(dot / (norm(F.col("qe"))
                                                * norm(F.col("ce"))), 5)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "cand_id", "cos", "rank"))


def test_ann_rewrite_matches_old_plan(spark):
    import __spark_entry__ as em
    key = lambda r: (r.query_id, r.rank)
    new = sorted(em.q_ann_cosine_topk(spark, SF_SMOKE).collect(), key=key)
    old = sorted(_q_ann_old(spark, SF_SMOKE).collect(), key=key)
    assert len(new) == len(old) > 0
    for a, b in zip(new, old):
        assert (a.query_id, a.cand_id, a.rank) == (b.query_id, b.cand_id,
                                                   b.rank)
        assert a.cos == b.cos  # bit-for-bit, incl. rounding


def test_round_half_up_5_matches_spark_round(spark):
    from fuzzspark.extras.similarity import _round_half_up_5
    vals = [0.123455, 0.123454999, -0.123455, 0.999995, -0.999995,
            0.5e-5, -0.5e-5, 0.0, 1.0, -1.0, 0.7071067811865476,
            0.99999, 0.123465, -0.123465, 2.5e-5, 3.5e-5, -2.5e-5]
    df = spark.createDataFrame([(v,) for v in vals], "x: double")
    want = [r[0] for r in df.select(F.round("x", 5)).collect()]
    got = _round_half_up_5(np.array(vals, dtype=np.float64))
    for v, w, g in zip(vals, want, got):
        assert g == w, (v, w, g)


def test_topk_block_ties_and_exclusion():
    from fuzzspark.extras.similarity import exact_cosine_topk_block
    # 6 candidates, all identical to the query (cos 1.0 ties) plus the
    # self row: top-5 must be the 5 smallest cand_ids excluding self
    q_ids = np.array([10], dtype=np.int64)
    v = np.array([[1.0, 2.0, 3.0]])
    c_ids = np.array([70, 10, 30, 20, 60, 40, 50], dtype=np.int64)
    c_mat = np.repeat(v, 7, axis=0)
    oq, oc, ocos = exact_cosine_topk_block(q_ids, v, c_ids, c_mat, k=5)
    assert list(oc) == [20, 30, 40, 50, 60]
    assert np.all(ocos == 1.0)


def test_topk_block_split_invariance():
    """Per-block preselection + merge == single-block top-k."""
    from fuzzspark.extras.similarity import exact_cosine_topk_block
    rng = np.random.default_rng(7)
    dim, n, nq = 16, 200, 5
    c_mat = rng.normal(size=(n, dim))
    c_ids = np.arange(n, dtype=np.int64)
    q_ids = c_ids[::40][:nq].copy()
    q_mat = c_mat[::40][:nq].copy()
    whole = exact_cosine_topk_block(q_ids, q_mat, c_ids, c_mat, k=5)
    parts = [exact_cosine_topk_block(q_ids, q_mat, c_ids[s], c_mat[s], k=5)
             for s in (slice(0, 70), slice(70, 130), slice(130, 200))]
    merged = {}
    for oq, oc, ocos in parts:
        for a, b, c in zip(oq, oc, ocos):
            merged.setdefault(a, []).append((-c, b))
    for qid in q_ids:
        got = sorted(merged[qid])[:5]
        woq, woc, wocos = whole
        m = woq == qid
        want = list(zip(-wocos[m], woc[m]))
        assert got == want


def test_cc_upper_bound_short_circuit_identical_labels(spark,
                                                       driver_finish_at):
    from fuzzspark.pipeline.cluster import connected_components
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, (500, 2))]
    edges.append((5, 5))  # self loop must stay dropped on both paths
    df = spark.createDataFrame(edges, "left_id: long, right_id: long")
    s_full, s_short = {}, {}
    with driver_finish_at(0):
        full = connected_components(df, stats=s_full).collect()
    short = connected_components(df, stats=s_short,
                                 upper_bound_edges=500 + 1).collect()
    assert s_short.get("upper_bound_short_circuit") is True
    assert "upper_bound_short_circuit" not in s_full
    assert sorted((r.id, r.cluster_id) for r in short) \
        == sorted((r.id, r.cluster_id) for r in full)


def test_pipeline_engages_cc_short_circuit(tmp_path, spark):
    import json
    from fuzzspark.pipeline import (LinkageConfig, corpus_from_documents,
                                    run_pipeline)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = run_pipeline(spark, corpus_from_documents(docs), str(tmp_path),
                       LinkageConfig(threshold=0.85))
    m = json.load(open(os.path.join(str(tmp_path), "05_clusters",
                                    "_MANIFEST.json")))
    # the sf0.001 scores stage is far below the auto driver-finish
    # threshold -> the free manifest bound must have cut CC's
    # contraction passes out entirely
    assert m["extra"].get("upper_bound_short_circuit") is True
    assert out["clusters"].count() == docs.count()


@pytest.mark.parametrize("mod", [7, 67])
def test_doc_pairs_residue_key_equals_mod_filter(spark, mod):
    """_doc_pairs' residue equi-join key selects exactly the pairs of
    the plain ``(a + b) % mod == 0`` filter it replaced."""
    import __spark_entry__ as em
    d = em._t(spark, SF_SMOKE, "documents")
    a, b = d.alias("a"), d.alias("b")
    want = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .where((F.col("a.doc_id") + F.col("b.doc_id")) % mod == 0)
            .select(F.col("a.doc_id").alias("left_id"),
                    F.col("b.doc_id").alias("right_id")))
    got = em._doc_pairs(spark, SF_SMOKE, mod=mod) \
        .select("left_id", "right_id")
    key = lambda df: sorted(map(tuple, df.collect()))
    w = key(want)
    assert w and key(got) == w


def test_minhash_fallback_no_runtime_warning(python_kernels):
    from fuzzspark.kernels.minhash import make_minhash_matrix
    from fuzzspark.pipeline import blocking
    matrix = make_minhash_matrix(**blocking.minhash_params())
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        idx, keys = matrix(["ab", "x", "", None, "hello world document text"])
    assert idx.tolist() == [0, 1, 2, 4] and keys.shape == (4, 8)


def test_cc_phase2_loop_identical_labels(spark, driver_finish_at):
    """Round 7 (second pass, VERDICT r6 item 7): the looped
    co-partitioned contraction must leave labels identical to the
    union-find oracle's on graphs that actually engage the loop —
    a long cross-partition chain (worst case for contraction: each
    pass shortens pointer chains like pointer jumping) plus dense
    clusters plus random junk.  A driver-finish threshold of 0 forces
    the fully-distributed path so both the loop and the star rounds
    run."""
    from fuzzspark.pipeline.cluster import connected_components
    rng = np.random.default_rng(23)
    edges = [(i, i + 1) for i in range(0, 4000)]            # one chain
    edges += [(10_000 + int(a), 10_000 + int(b))
              for a, b in rng.integers(0, 500, (2000, 2))]  # dense blob
    edges += [(int(a), int(b))
              for a, b in rng.integers(0, 20_000, (1000, 2))]
    df = spark.createDataFrame(edges, "left_id: long, right_id: long") \
        .repartition(8)
    s_loop = {}
    with driver_finish_at(0):
        loop = connected_components(df, stats=s_loop).collect()
    assert s_loop.get("phase2_edges"), s_loop
    assert {r.id: r.cluster_id for r in loop} == union_find_labels(edges)


def test_cc_phase2_loop_with_driver_finish(spark, driver_finish_at):
    """Loop + driver-finish interplay on a pathological chain: labels
    must stay correct whether the loop's 2n <= threshold early-exit
    fires or the star rounds finish the job."""
    from fuzzspark.pipeline.cluster import connected_components
    edges = [(i, i + 1) for i in range(0, 3000)]
    df = spark.createDataFrame(edges, "left_id: long, right_id: long") \
        .repartition(8)
    s = {}
    with driver_finish_at(100):
        out = connected_components(df, stats=s).collect()
    # a 3000-node chain has one component with min id 0
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == 3001
    assert s.get("phase2_edges"), s


def test_cc_auto_finish_clamped_by_max_result_size():
    """Round 7 (3200x finding): spark.driver.maxResultSize aborts any
    collect above it regardless of heap, so the auto driver-finish
    threshold must clamp by it — a 24g heap with the default 1g cap
    previously sized the threshold at 100.7M edges and the toPandas
    died at 1029.3 MiB of serialized results."""
    from fuzzspark.pipeline.cluster import (_DRIVER_FINISH_FLOOR,
                                            _auto_driver_finish)
    from fuzzspark.pipeline.util import parse_bytes

    class FakeConf:
        def __init__(self, d):
            self.d = d

        def get(self, k, default=None):
            return self.d.get(k, default)

    class FakeSpark:
        def __init__(self, d):
            self.conf = FakeConf(d)

    big = FakeSpark({"spark.driver.memory": "24g",
                     "spark.driver.maxResultSize": "1g"})
    assert _auto_driver_finish(big) == ((1 << 30) * 4 // 5) // 20
    unlimited = FakeSpark({"spark.driver.memory": "24g",
                           "spark.driver.maxResultSize": "0"})
    assert _auto_driver_finish(unlimited) == parse_bytes("24g") // 256
    small = FakeSpark({"spark.driver.memory": "512m",
                       "spark.driver.maxResultSize": "1g"})
    assert _auto_driver_finish(small) == _DRIVER_FINISH_FLOOR
