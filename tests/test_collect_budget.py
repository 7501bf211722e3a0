"""The broadcast gate budgets the driver collect behind it:
``spark.driver.maxResultSize`` aborts a collect above it whatever
``fuzzspark.broadcast.content.max_bytes`` allows, so content that fits
the gate but not the collect takes the shuffle (join) path, in
04_scores and in the stream matcher alike."""

import json
import os
import subprocess
import sys

from fuzzspark.pipeline import corpus_to_spark, generate_corpus, run_pipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# about 2.6 MB of content: far inside the 64 MB gate, over a 1 MB
# maxResultSize
CORPUS = dict(n_clusters=150, seed=5, threshold=0.9,
              n_tokens_range=(1500, 2500))

SMALL_RESULT_SESSION = """
import json, sys
from fuzzspark.session import get_spark
from fuzzspark.pipeline import corpus_to_spark, generate_corpus, run_pipeline
from fuzzspark.streaming.ops import _match_batch
spark = get_spark("max-result-size", cpus=2, shuffle_partitions=4,
                  extra_conf={"spark.driver.maxResultSize": "1m"})
files, _, _ = corpus_to_spark(spark, generate_corpus(**json.loads(sys.argv[2])))
run_pipeline(spark, files, sys.argv[1])
matcher = _match_batch(files, "ratio", 0.9)
matcher.unpersist()
print(json.dumps(matcher.plan))
spark.stop()
"""


def _manifest(wd, stage):
    with open(os.path.join(wd, stage, "_MANIFEST.json")) as f:
        return json.load(f)


def test_collect_over_max_result_size_takes_the_shuffle_path(spark,
                                                              tmp_path):
    small_wd = str(tmp_path / "small_result")
    env = dict(os.environ, FUZZSPARK_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", SMALL_RESULT_SESSION, small_wd,
         json.dumps(CORPUS)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    plan = json.loads(r.stdout.strip().splitlines()[-1])
    assert plan["content_bytes"] > 2 << 20
    assert plan["path"] == "join"
    assert _manifest(small_wd, "04_scores")["extra"]["score_path"] \
        == "shuffle"

    files, _, _ = corpus_to_spark(spark, generate_corpus(**CORPUS))
    wd = str(tmp_path / "default")
    out = run_pipeline(spark, files, wd)
    assert _manifest(wd, "04_scores")["extra"]["score_path"] == "broadcast"
    want = sorted(out["scores"].collect())
    assert want
    assert sorted(spark.read.parquet(
        os.path.join(small_wd, "04_scores")).collect()) == want
