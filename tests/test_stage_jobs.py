"""What a pipeline stage costs in Spark jobs, and what gates 04_scores'
content broadcast.

A fresh narrow stage is its write job and nothing else: the row count
and histogram ride the write, and the read-back takes the schema the
stage recorded instead of running a schema-inference job.  A reused
stage runs no job.  The broadcast gate compares the corpus's
uncompressed content bytes, measured by the 01_files write, with
``fuzzspark.broadcast.content.max_bytes`` — not the compressed bytes of
the 01_files files on disk."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fuzzspark.functions import sha256_column
from fuzzspark.pipeline import corpus_to_spark, generate_corpus, run_pipeline
from fuzzspark.pipeline.checkpoint import StageRunner
from fuzzspark.pipeline.run import _dir_bytes
from tests.conftest import PIPELINE_STAGES, broadcast_gate, count_jobs

STAGES = list(PIPELINE_STAGES)


def test_fresh_narrow_stage_is_one_job_and_reuse_none(spark, tmp_path):
    def build():
        return spark.range(200).withColumn("score", F.col("id") / 200)

    root = str(tmp_path / "wd")
    with count_jobs(spark) as fresh:
        df = StageRunner(spark, root).run("s", build, score_col="score")
    assert fresh.jobs == 1
    runner = StageRunner(spark, root)
    with count_jobs(spark) as reused:
        again = runner.run("s", build, score_col="score")
    assert runner.stages_skipped == ["s"]
    assert reused.jobs == 0
    assert again.schema == df.schema
    assert again.count() == 200


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_partition_rows_under_a_quoted_path(spark, tmp_path, fmt):
    """Per-partition row counts of a stage whose path holds a quote: a
    parquet stage reads them from its file footers with no job beyond
    the write (the quote used to break the metadata query, and the stage
    fell back to a census job without a word); another format counts
    the read-back partitions."""
    import glob

    import pyarrow.parquet as pq

    runner = StageRunner(spark, str(tmp_path / "it's wd"), table_format=fmt)
    with count_jobs(spark) as fresh:
        runner.run("s", lambda: spark.range(0, 100, 1, 3))
    with open(runner.manifest_path("s")) as f:
        m = json.load(f)
    assert sum(m["partition_rows"].values()) == 100
    if fmt != "parquet":
        assert m["partition_rows_kind"] == "read_partitions"
        return
    assert fresh.jobs == 1
    assert m["partition_rows_kind"] == "output_files"
    files = sorted(glob.glob(os.path.join(
        glob.escape(os.path.dirname(runner.manifest_path("s"))),
        "*.parquet")))
    assert len(files) == 3
    assert m["partition_rows"] == {str(i): pq.read_metadata(f).num_rows
                                   for i, f in enumerate(files)}


def test_score_histogram_bins(spark, tmp_path):
    """NULL scores are not counted; bin = min(19, floor(score * 20)), so
    0.0 is bin 0, 0.05 bin 1 and 1.0 bin 19."""
    scores = [None, 0.0, 0.0499, 0.05, 0.5, 0.95, 0.9999, 1.0, 1.0, None]
    df = spark.createDataFrame([(s,) for s in scores], "score double")
    runner = StageRunner(spark, str(tmp_path / "wd"))
    runner.run("s", lambda: df, score_col="score")
    with open(runner.manifest_path("s")) as f:
        m = json.load(f)
    assert m["row_count"] == len(scores)
    assert m["score_histogram"] == {"0": 2, "1": 1, "10": 1, "19": 4}


def test_resumed_pipeline_runs_only_the_integrity_recheck(spark, tmp_path):
    corpus = generate_corpus(n_clusters=10, seed=5, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    wd = str(tmp_path / "wd")
    run_pipeline(spark, files, wd)
    with count_jobs(spark) as resumed:
        out = run_pipeline(spark, files, wd)
    assert out["runner"].stages_skipped == STAGES
    # the resumed 01_files re-check, as run_pipeline words it
    with count_jobs(spark) as recheck:
        (out["files"].withColumn("_recheck", sha256_column("content"))
         .where(F.col("_recheck") != F.col("content_sha256"))
         .limit(1).count())
    assert recheck.jobs >= 1
    assert resumed.jobs == recheck.jobs


SCHEMA = StructType([
    StructField("id", LongType()), StructField("repo", StringType()),
    StructField("path", StringType()), StructField("commit", StringType()),
    StructField("lang", StringType()), StructField("content", StringType()),
])


def _repetitive_corpus(spark):
    """Long, repetitive near-duplicates: their parquet files compress to
    a small fraction of their content bytes."""
    body = "def f(x):\n    return x + 1\n" * 1000
    rows = [(i, "r", f"m{i}.py", "c", "python", body + f"# {i}\n")
            for i in range(6)]
    return (spark.createDataFrame(rows, SCHEMA),
            sum(len(r[-1].encode()) for r in rows))


def _score_path(wd):
    with open(os.path.join(wd, "04_scores", "_MANIFEST.json")) as f:
        return json.load(f)["extra"]["score_path"]


def test_broadcast_gate_measures_uncompressed_content(spark, tmp_path):
    files, n_bytes = _repetitive_corpus(spark)
    wd = str(tmp_path / "wd")
    gate = n_bytes // 2
    with broadcast_gate(spark, str(gate)):
        out = run_pipeline(spark, files, wd)
    # the on-disk stage fits under the gate; the content does not
    assert _dir_bytes(os.path.join(wd, "01_files")) < gate < n_bytes
    assert _score_path(wd) == "shuffle"
    assert out["runner"].manifest("01_files")["extra"]["content_bytes"] \
        == n_bytes
    with broadcast_gate(spark, str(n_bytes)):
        run_pipeline(spark, files, str(tmp_path / "wd2"))
    assert _score_path(str(tmp_path / "wd2")) == "broadcast"


def test_broadcast_gate_measures_a_manifest_without_content_bytes(spark,
                                                                  tmp_path):
    """A 01_files manifest written before the write job recorded the
    content bytes lacks a value its run observes, so StageRunner
    rebuilds 01_files and the gate reads the recorded bytes.  The
    rebuilt stage keeps its lineage hash, so the later stages are still
    reused."""
    files, n_bytes = _repetitive_corpus(spark)
    wd = str(tmp_path / "wd")
    run_pipeline(spark, files, wd)
    mpath = os.path.join(wd, "01_files", "_MANIFEST.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["extra"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    os.remove(os.path.join(wd, "04_scores", "_MANIFEST.json"))
    with broadcast_gate(spark, str(n_bytes // 2)):
        out = run_pipeline(spark, files, wd)
    runner = out["runner"]
    assert runner.stages_run[:2] == ["01_files", "04_scores"]
    assert runner.stages_skipped[:2] == ["02_blocks", "03_pairs"]
    assert runner.manifest("01_files")["extra"]["content_bytes"] == n_bytes
    assert _score_path(wd) == "shuffle"
