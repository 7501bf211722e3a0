"""End-to-end record-linkage pipeline on the seeded synthetic corpus:
blocking recall, pairwise F1 >= 0.99 (the BASELINE.json gate), cluster
correctness vs planted truth, and determinism across reruns."""

import json

import numpy as np
import pytest

from pyspark.sql import functions as F

from fuzzspark.pipeline import (
    LinkageConfig,
    corpus_to_spark,
    evaluate_f1,
    generate_corpus,
    run_pipeline,
)
from tests.conftest import PIPELINE_STAGES, assert_stage_schemas


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_clusters=150, seed=42, threshold=0.9)


@pytest.fixture(scope="module")
def corpus_frames(spark, corpus):
    return corpus_to_spark(spark, corpus)


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus_frames, tmp_path_factory):
    files, pairs, truth = corpus_frames
    wd = str(tmp_path_factory.mktemp("linkage"))
    out = run_pipeline(spark, files, wd, LinkageConfig(threshold=0.9))
    return out, pairs, truth


def test_pairwise_f1(pipeline_out):
    out, labeled, _ = pipeline_out
    m = evaluate_f1(out["scores"], labeled, threshold=0.9)
    assert m["f1"] >= 0.99, m


def test_blocking_recall(pipeline_out):
    """every true match must share at least one candidate pair."""
    out, labeled, _ = pipeline_out
    true_pairs = labeled.where("is_match")
    found = out["scores"].select("left_id", "right_id")
    missed = true_pairs.join(found, ["left_id", "right_id"], "left_anti").count()
    total = true_pairs.count()
    assert total > 0
    assert missed / total <= 0.01, (missed, total)


def test_cluster_equivalence(pipeline_out, spark):
    """predicted clusters == transitive closure of true-match pairs.

    Ground-truth closure is computed from the labeled pairs (a planted
    cluster may fragment when edits push members below θ — the truth is
    the θ-closure, not the generator's parent links)."""
    out, labeled, _ = pipeline_out
    from fuzzspark.pipeline import connected_components
    truth_edges = labeled.where("is_match").select("left_id", "right_id")
    truth_cc = connected_components(truth_edges)
    pred = out["clusters"]
    # compare as pair-level equivalence: same-cluster iff same-truth-cluster
    a = pred.alias("a")
    b = pred.alias("b")
    pred_pairs = (a.join(b, F.col("a.cluster_id") == F.col("b.cluster_id"))
                  .where(F.col("a.id") < F.col("b.id"))
                  .select(F.col("a.id").alias("left_id"),
                          F.col("b.id").alias("right_id")))
    ta = truth_cc.alias("ta")
    tb = truth_cc.alias("tb")
    truth_pairs = (ta.join(tb, F.col("ta.cluster_id") == F.col("tb.cluster_id"))
                   .where(F.col("ta.id") < F.col("tb.id"))
                   .select(F.col("ta.id").alias("left_id"),
                           F.col("tb.id").alias("right_id")))
    sym_diff = (pred_pairs.exceptAll(truth_pairs).count()
                + truth_pairs.exceptAll(pred_pairs).count())
    union = pred_pairs.count() + truth_pairs.count()
    assert truth_pairs.count() > 50  # non-vacuous: real clusters exist
    assert pred_pairs.count() > 50
    # tiny slack: borderline scores exactly at θ ± fp wobble
    assert sym_diff <= max(2, 0.01 * union), (sym_diff, union)


def test_integrity_column(pipeline_out):
    out, _, _ = pipeline_out
    files = out["files"]
    bad = files.where(
        F.sha2(F.col("content").cast("binary"), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0


def test_score_histogram_in_manifest(pipeline_out):
    out, _, _ = pipeline_out
    m = json.load(open(out["runner"].manifest_path("04_scores")))
    assert m["complete"] and m["row_count"] > 0
    assert sum(m["score_histogram"].values()) > 0
    assert m["partition_rows"]
    # the same histogram from the persisted scores: NULL scores are not
    # counted, bin = min(19, floor(score * 20)), so 1.0 lands in bin 19
    scores = out["scores"].select("score").toPandas()["score"]
    s = scores.dropna().to_numpy()
    assert scores.isna().any()
    bins, counts = np.unique(np.minimum(19, np.floor(s * 20).astype(int)),
                             return_counts=True)
    assert m["score_histogram"] == {str(b): int(c)
                                    for b, c in zip(bins, counts)}


def test_stage_schemas_match_inference(spark, corpus_frames, pipeline_out):
    """Stages read back with their recorded schema: it equals the
    schema parquet infers, on the fresh run and on a resumed one."""
    out, _, _ = pipeline_out
    assert_stage_schemas(spark, out)
    resumed = run_pipeline(spark, corpus_frames[0], out["runner"].root,
                           LinkageConfig(threshold=0.9))
    assert resumed["runner"].stages_skipped == list(PIPELINE_STAGES)
    assert_stage_schemas(spark, resumed)


def test_deterministic_rerun(spark, corpus, tmp_path_factory):
    files, _, _ = corpus_to_spark(spark, corpus)
    wd1 = str(tmp_path_factory.mktemp("rerun1"))
    wd2 = str(tmp_path_factory.mktemp("rerun2"))
    c1 = run_pipeline(spark, files, wd1)["clusters"]
    c2 = run_pipeline(spark, files, wd2)["clusters"]
    assert c1.exceptAll(c2).count() == 0
    assert c2.exceptAll(c1).count() == 0
