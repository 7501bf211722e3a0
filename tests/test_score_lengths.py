"""04_scores' broadcast path takes ``len1``/``len2`` from lengths the
driver computes once per corpus: they are the code-point lengths
``F.length`` gives (non-BMP characters count once, NULL content gives
NULL), and the broadcast and shuffle paths write the same stage, a row
with a NULL id included."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fuzzspark.pipeline import run_pipeline
from fuzzspark.pipeline.run import broadcast_scores
from tests.conftest import broadcast_gate

SCHEMA = StructType([
    StructField("id", LongType()), StructField("repo", StringType()),
    StructField("path", StringType()), StructField("commit", StringType()),
    StructField("lang", StringType()), StructField("content", StringType()),
])

# math script X (U+1D4B3) and an emoji: two UTF-16 units, one code point
BODY = "def f(x):\n    return x + 1  # \U0001d4b3 \U0001F600\n" * 20


def test_broadcast_lengths_are_code_points_and_null_for_null(spark):
    content = spark.createDataFrame(
        [(1, BODY), (2, BODY + "\U0001F600"), (3, None), (4, ""),
         (5, "café \U0001F600"), (6, BODY)],
        "id long, content string")
    pairs = spark.createDataFrame(
        [(1, 2, False), (2, 3, False), (3, 1, None), (3, 4, False),
         (4, 5, False), (1, 6, True), (5, 2, False)],
        "left_id long, right_id long, exact_equal boolean")
    got = {(r.left_id, r.right_id): r for r in broadcast_scores(
        spark, content, pairs, "ratio", 0.9).collect()}
    lengths = {r.id: r.n for r in
               content.select("id", F.length("content").alias("n"))
               .collect()}
    assert lengths[3] is None and lengths[5] == 6
    assert len(got) == pairs.count()
    for (a, b), r in got.items():
        assert (r.len1, r.len2) == (lengths[a], lengths[b]), (a, b)
    assert got[(1, 6)].score == 1.0
    assert got[(1, 2)].score > 0.99
    # NULL content scores NULL, whichever side it is on
    assert got[(2, 3)].score is None and got[(3, 1)].score is None
    assert got[(3, 1)].exact_equal is None
    # a pair id that is not in the content is a bug: loud, not dropped
    stray = spark.createDataFrame([(1, 99, False)], pairs.schema)
    with pytest.raises(Exception, match="pair id missing"):
        broadcast_scores(spark, content, stray, "ratio", 0.9).collect()


def _manifest(wd, stage="04_scores"):
    with open(os.path.join(wd, stage, "_MANIFEST.json")) as f:
        return json.load(f)


# a NULL id must stay out of the broadcast content, not be cast to int64
# (numpy warns "invalid value encountered in cast")
@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_broadcast_and_shuffle_paths_write_the_same_scores(spark, tmp_path):
    rows = [(i, f"r{i}", "pkg/mod.py", "c", "python",
             BODY + "\U0001F600" * i + "\n") for i in range(5)]
    rows += [(5, "r5", "pkg/mod.py", "c", "python", BODY + "\n"),
             (6, "r6", "pkg/mod.py", "c", "python", None),
             (None, "r7", "pkg/mod.py", "c", "python", BODY + "\n")]
    files = spark.createDataFrame(rows, SCHEMA)
    out, m = {}, {}
    for path, gate in [("broadcast", str(1 << 30)), ("shuffle", "0")]:
        wd = str(tmp_path / path)
        with broadcast_gate(spark, gate):
            scores = run_pipeline(spark, files, wd)["scores"]
        m[path] = _manifest(wd)
        assert m[path]["extra"]["score_path"] == path
        out[path] = sorted(map(tuple, scores.collect()))
    assert out["broadcast"] == out["shuffle"]
    for key in ("schema", "row_count", "score_histogram"):
        assert m["broadcast"][key] == m["shuffle"][key], key
    # every pair is scored, the exact one included; lengths in code points
    assert m["broadcast"]["row_count"] == 15
    assert (0, 5, 1 + len(BODY), 1 + len(BODY), True, 1.0) in out["shuffle"]
