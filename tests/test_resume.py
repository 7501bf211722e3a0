"""Kill/resume: a run interrupted after a stage checkpoint resumes from
the last complete stage and produces identical output
(BASELINE.json:north_rule resumability gate)."""

import json

import pytest

from fuzzspark.pipeline import (
    LinkageConfig,
    corpus_to_spark,
    generate_corpus,
    run_pipeline,
)
from fuzzspark.pipeline.checkpoint import StageRunner


class _Boom(RuntimeError):
    pass


def test_resume_after_kill(spark, tmp_path):
    corpus = generate_corpus(n_clusters=60, seed=7, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    wd = str(tmp_path / "wd")

    # run 1: crash right after 03_pairs is checkpointed, mid-pipeline
    orig_run = StageRunner.run

    def crashing_run(self, stage, build, **kw):
        df = orig_run(self, stage, build, **kw)
        if stage == "03_pairs":
            raise _Boom("simulated kill after stage checkpoint")
        return df

    StageRunner.run = crashing_run
    try:
        with pytest.raises(_Boom):
            run_pipeline(spark, files, wd)
    finally:
        StageRunner.run = orig_run

    # stage 03 manifest exists and is complete; 04+ absent
    m = json.load(open(f"{wd}/03_pairs/_MANIFEST.json"))
    assert m["complete"]
    import os
    assert not os.path.exists(f"{wd}/04_scores/_MANIFEST.json")

    # run 2: resumes — stages 01-03 must be skipped, not recomputed
    out = run_pipeline(spark, files, wd)
    runner = out["runner"]
    assert set(runner.stages_skipped) == {"01_files", "02_blocks", "03_pairs"}
    assert set(runner.stages_run) == {"04_scores", "05_clusters"}

    # and a from-scratch run in a fresh dir agrees exactly
    wd2 = str(tmp_path / "wd2")
    out2 = run_pipeline(spark, files, wd2)
    assert out["clusters"].exceptAll(out2["clusters"]).count() == 0
    assert out2["clusters"].exceptAll(out["clusters"]).count() == 0


def test_params_change_invalidates_checkpoint(spark, tmp_path):
    """A new threshold reruns the stages that read it (03_pairs on)
    and reuses the two before, with the rows a fresh run gives."""
    corpus = generate_corpus(n_clusters=30, seed=11, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    wd = str(tmp_path / "wd")
    run_pipeline(spark, files, wd, LinkageConfig(threshold=0.9))
    out = run_pipeline(spark, files, wd, LinkageConfig(threshold=0.8))
    assert out["runner"].stages_skipped == ["01_files", "02_blocks"]
    assert out["runner"].stages_run == ["03_pairs", "04_scores",
                                        "05_clusters"]
    fresh = run_pipeline(spark, files, str(tmp_path / "fresh"),
                         LinkageConfig(threshold=0.8))
    for name in ("scores", "clusters"):
        assert sorted(out[name].collect()) == sorted(fresh[name].collect())
