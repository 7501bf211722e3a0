"""Stage reuse keys on the input, not only on the config: linking a
different corpus into a workdir that holds another corpus's stages
reruns every stage, and only a genuine resume skips."""

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
