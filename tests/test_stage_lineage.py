"""Stage reuse keys on the input and the blocking constants, not only
on the config: linking a different corpus into a workdir that holds
another corpus's stages, or retuning the blocking scheme, reruns the
stages, and only a genuine resume skips."""

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fuzzspark.pipeline import run_pipeline

STAGES = ["01_files", "02_blocks", "03_pairs", "04_scores", "05_clusters"]
SCHEMA = StructType([
    StructField("id", LongType()), StructField("repo", StringType()),
    StructField("path", StringType()), StructField("commit", StringType()),
    StructField("lang", StringType()), StructField("content", StringType()),
])


def _corpus(spark, ids):
    # near-duplicate pair: one cluster per corpus
    return spark.createDataFrame(
        [(i, "r", "a.py", "c", "python",
          "def f(x):\n    return x + 1\n" * 8 + f"# {k}\n")
         for k, i in enumerate(ids)], SCHEMA)


def _cluster_ids(out):
    return sorted(r["id"] for r in out["clusters"].collect())


def test_new_in_memory_input_reruns_every_stage(spark, tmp_path):
    wd = str(tmp_path / "wd")
    first = run_pipeline(spark, _corpus(spark, [1, 2]), wd)
    assert _cluster_ids(first) == [1, 2]
    out = run_pipeline(spark, _corpus(spark, [10, 11]), wd)
    assert out["runner"].stages_skipped == []
    assert out["runner"].stages_run == STAGES
    assert _cluster_ids(out) == [10, 11]


def test_path_input_resumes_until_the_files_change(spark, tmp_path):
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    _corpus(spark, [1, 2]).write.mode("overwrite").parquet(src)
    run_pipeline(spark, spark.read.parquet(src), wd)
    # a fresh read of the same files (new expression ids) resumes
    again = run_pipeline(spark, spark.read.parquet(src), wd)
    assert again["runner"].stages_skipped == STAGES
    assert _cluster_ids(again) == [1, 2]
    _corpus(spark, [10, 11]).write.mode("overwrite").parquet(src)
    out = run_pipeline(spark, spark.read.parquet(src), wd)
    assert out["runner"].stages_skipped == []
    assert _cluster_ids(out) == [10, 11]


@pytest.mark.parametrize("constant, value, keys_like, before", [
    ("n_bands", 4, "m:%", 2 * 8),   # a key per doc and band
    ("max_block", 1, "%#w%", 0),    # a shared block of 2 now windows
])
def test_blocking_constant_change_rebuilds_blocks_onward(
        spark, tmp_path, blocking_constants, constant, value, keys_like,
        before):
    """The lineage hash covers the blocking constants: retuning one
    rebuilds 02_blocks through 05_clusters instead of resuming them
    stale, reuses 01_files (it reads none of them), and the rebuilt
    keys follow the new value."""
    def keys(out):
        return out["blocks"].where(f"block_key LIKE '{keys_like}'").count()

    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    _corpus(spark, [1, 2]).write.mode("overwrite").parquet(src)
    assert keys(run_pipeline(spark, spark.read.parquet(src), wd)) == before
    with blocking_constants(**{constant: value}):
        out = run_pipeline(spark, spark.read.parquet(src), wd)
    assert out["runner"].stages_skipped == STAGES[:1]
    assert out["runner"].stages_run == STAGES[1:]
    assert keys(out) != before
