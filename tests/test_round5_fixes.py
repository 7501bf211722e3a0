"""Round-5 fixes, pinned.

1. CC pre-contraction: partition-local union-find before the first
   distributed star round (VERDICT r4 item 1).
2. Vectorized hamming + token_set scorer paths (item 2).
3. Bounded memory on the no-compiler fallback (item 3).
4. sha256 integrity riding the 01_files write job (item 4) + drift
   detection against a source-provided hash.
"""

from __future__ import annotations

import numpy as np
import pytest

# ---------------------------------------------------------------- CC


def _labels(df):
    return sorted((r["id"], r["cluster_id"]) for r in df.collect())


def test_union_find_roots_matches_bfs():
    from fuzzspark.kernels._native import union_find_roots

    rng = np.random.default_rng(11)
    n = 500
    du = rng.integers(0, n, 800)
    dv = rng.integers(0, n, 800)
    roots = union_find_roots(du, dv, n)
    # brute-force components
    import collections
    adj = collections.defaultdict(set)
    for a, b in zip(du.tolist(), dv.tolist()):
        adj[a].add(b)
        adj[b].add(a)
    seen = set()
    for s in range(n):
        if s in seen:
            continue
        comp, q = [s], [s]
        seen.add(s)
        while q:
            x = q.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    comp.append(y)
                    q.append(y)
        mn = min(comp)
        for x in comp:
            assert roots[x] == mn


def test_pre_contract_preserves_components(spark):
    from fuzzspark.pipeline.cluster import _pre_contract, connected_components

    rng = np.random.default_rng(23)
    edges = [(int(a), int(b))
             for a, b in zip(rng.integers(0, 400, 900),
                             rng.integers(0, 400, 900)) if a != b]
    df = spark.createDataFrame(edges, "left_id: long, right_id: long") \
              .repartition(6)
    contracted = _pre_contract(df)
    # sparsification: never more output edges than input, same components
    assert contracted.count() <= df.count()
    base = connected_components(df, pre_contract=False)
    via = connected_components(
        contracted.withColumnRenamed("u", "left_id")
                  .withColumnRenamed("v", "right_id"),
        pre_contract=False)
    assert _labels(base) == _labels(via)


# ----------------------------------------------------------- pipeline


@pytest.fixture(scope="module")
def small_corpus(spark):
    from fuzzspark.pipeline import corpus_to_spark, generate_corpus
    files, pairs, truth = corpus_to_spark(
        spark, generate_corpus(n_clusters=40, seed=7, threshold=0.9))
    return files


def test_integrity_rides_write_and_detects_drift(spark, small_corpus,
                                                 tmp_path):
    """A source-provided content_sha256 is verified on the 01_files
    write job (Observation — no second scan); a corrupted row raises."""
    from pyspark.sql import functions as F

    from fuzzspark.functions import sha256_column
    from fuzzspark.pipeline import LinkageConfig, run_pipeline

    good = small_corpus.withColumn("content_sha256",
                                   sha256_column("content"))
    out = run_pipeline(spark, good, str(tmp_path / "good"),
                       LinkageConfig(threshold=0.9))
    assert out["clusters"].count() == small_corpus.count()

    bad = small_corpus.withColumn(
        "content_sha256",
        F.when(F.col("id") == 3, F.lit("deadbeef"))
         .otherwise(sha256_column("content")))
    with pytest.raises(RuntimeError, match="sha256 integrity"):
        run_pipeline(spark, bad, str(tmp_path / "bad"),
                     LinkageConfig(threshold=0.9))


def test_cc_checkpoint_dir_cleaned_and_restored(spark, small_corpus,
                                                tmp_path):
    import os

    from fuzzspark.pipeline import LinkageConfig, run_pipeline

    prev = str(tmp_path / "user_ck")
    spark.sparkContext.setCheckpointDir(prev)
    wd = str(tmp_path / "wd")
    run_pipeline(spark, small_corpus, wd, LinkageConfig(threshold=0.9))
    assert not os.path.exists(os.path.join(wd, "_cc_checkpoint"))
    cur = spark.sparkContext._jsc.sc().getCheckpointDir()
    # setCheckpointDir appends a UUID level, so "restored" means the
    # session's checkpoint root is back UNDER the caller's dir (and
    # no longer under the deleted stage workdir)
    assert cur.isDefined() and "user_ck" in cur.get()
    assert wd not in cur.get()


def test_widen_skip_decision_parts(tmp_path):
    """The round-5 conditional widen: size parsing + stage-dir sizing
    (the scan-splits-vs-target decision that lets a big persisted stage
    skip the corpus-wide repartition shuffle)."""
    from fuzzspark.pipeline.run import _dir_bytes, _parse_bytes

    assert _parse_bytes("16m") == 16 << 20
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("2g") == 2 << 30
    assert _parse_bytes("bogus") == 0
    d = tmp_path / "stage"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1000)
    (d / "part-1.parquet").write_bytes(b"y" * 500)
    (d / "_MANIFEST.json").write_bytes(b"{}")  # metadata excluded
    (d / "._SUCCESS.crc").write_bytes(b"z")
    assert _dir_bytes(str(d)) == 1500
    assert _dir_bytes(str(tmp_path / "missing")) is None


def test_score_pairs_one_call_api(spark):
    """README recipe: score any two string columns at scale — length
    prefilter below the UDF, exact-dup short-circuit, cutoff filter."""
    from fuzzspark.functions import score_pairs

    df = spark.createDataFrame(
        [("new york mets", "new york mets"),          # exact dup
         ("new york mets", "the wonderful new york mets"),  # 0.6522
         ("abcdef", "xyz"),                            # length-hopeless
         (None, "abc")],                               # NULL input
        "a: string, b: string")
    out = score_pairs(df, "a", "b", scorer="ratio", score_cutoff=0.9)
    rows = {(r["a"], r["b"]): r["score"] for r in out.collect()}
    assert rows == {("new york mets", "new york mets"): 1.0}
    # keep_suppressed keeps sub-cutoff rows as NULL scores
    kept = score_pairs(df, "a", "b", scorer="ratio", score_cutoff=0.9,
                       keep_suppressed=True)
    assert kept.count() == 4
    assert kept.where("score is null").count() == 3
    # the prefilter + cutoff land as plan-level filters below the UDF
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


# ------------------------------------------------- vectorized scorers


def test_hamming_batch_matches_scalar():
    import random

    from fuzzspark.kernels.batch import batch_scores
    from fuzzspark.kernels.metrics import HammingError, hamming_distance_raw

    random.seed(3)
    alph = "abcdefgИП"
    s1 = ["".join(random.choice(alph)
                  for _ in range(random.randint(0, 30)))
          for _ in range(2000)]
    s2 = ["".join(random.choice(alph)
                  for _ in range(len(a) if random.random() < 0.6
                                 else random.randint(0, 30)))
          for a in s1]
    s1[5] = None
    for pad in (True, False):
        got = batch_scores("hamming", "distance", s1, s2, pad=pad)
        for k, (a, b) in enumerate(zip(s1, s2)):
            if a is None or b is None:
                assert np.isnan(got[k])
                continue
            try:
                assert got[k] == hamming_distance_raw(a, b, pad=pad)
            except HammingError:
                assert np.isnan(got[k])
    with pytest.raises(HammingError):
        batch_scores("hamming", "distance", ["ab"], ["abc"],
                     errors="raise")


def test_token_set_distinct_pair_dedup_parity():
    from fuzzspark.kernels.batch import batch_scores

    base = [("fuzzy wuzzy was a bear", "wuzzy fuzzy bear was a"),
            ("new york mets", "the wonderful new york mets"),
            ("a b c", "c b x"), ("", "a")]
    s1 = [p[0] for p in base for _ in range(40)]
    s2 = [p[1] for p in base for _ in range(40)]
    rep = batch_scores("token_set_ratio", "normalized_similarity", s1, s2)
    one = batch_scores("token_set_ratio", "normalized_similarity",
                       [p[0] for p in base], [p[1] for p in base])
    assert np.allclose(rep.reshape(4, 40), one[:, None], equal_nan=True)


def test_pad_codes_fallback_memory_bounded():
    """One ~100 KB doc in an 8k-row batch stays within bounded memory
    on the no-compiler path (VERDICT r4 item 3): the big-int cores
    allocate per pair, never a matrix padded to the longest string."""
    import json
    import os
    import subprocess
    import sys

    code = """
import json, random, tracemalloc
import numpy as np
from fuzzspark.kernels.batch import batch_scores
from fuzzspark.kernels._native import get_lib
assert get_lib() is None
random.seed(2)
n = 8000
s1 = ["".join(random.choice("abcdef") for _ in range(random.randint(3, 40)))
      for _ in range(n)]
s2 = ["".join(random.choice("abcdef") for _ in range(random.randint(3, 60)))
      for _ in range(n)]
s2[1234] = "x" * 100_000
tracemalloc.start()
got = batch_scores("levenshtein", "distance", s1, s2)
_cur, peak = tracemalloc.get_traced_memory()
print(json.dumps({"peak": peak, "v0": got[0], "vbig": got[1234]}))
"""
    env = dict(os.environ, FUZZSPARK_NO_NATIVE="1")
    r = subprocess.run([sys.executable, "-c", code], env=env,
                       capture_output=True, text=True,
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["peak"] < 500e6
    # spot-check against the native kernel in this process
    from fuzzspark.kernels.batch import batch_scores as bs
    import random
    random.seed(2)
    n = 8000
    s1 = ["".join(random.choice("abcdef")
                  for _ in range(random.randint(3, 40))) for _ in range(n)]
    s2 = ["".join(random.choice("abcdef")
                  for _ in range(random.randint(3, 60))) for _ in range(n)]
    s2[1234] = "x" * 100_000
    ref = bs("levenshtein", "distance", s1, s2)
    assert got["v0"] == ref[0] and got["vbig"] == ref[1234]


def test_cc_pre_contract_empty_and_single(spark):
    from fuzzspark.pipeline.cluster import connected_components

    empty = spark.createDataFrame([], "left_id: long, right_id: long")
    assert connected_components(empty).count() == 0
    one = spark.createDataFrame([(1, 2)], "left_id: long, right_id: long")
    assert sorted(map(tuple, connected_components(one).collect())) == \
        [(1, 1), (2, 1)]


@pytest.mark.parametrize("driver_finish", [0, 1_000_000])
def test_cc_pre_contract_identical_labels(spark, driver_finish):
    from fuzzspark.pipeline.cluster import connected_components

    rng = np.random.default_rng(5)
    edges = [(int(a), int(b))
             for a, b in zip(rng.integers(0, 1500, 2500),
                             rng.integers(0, 1500, 2500)) if a != b]
    df = spark.createDataFrame(edges, "left_id: long, right_id: long") \
              .repartition(8)
    s_on, s_off = {}, {}
    on = connected_components(df, driver_finish_edges=driver_finish,
                              stats=s_on, pre_contract=True)
    off = connected_components(df, driver_finish_edges=driver_finish,
                               stats=s_off, pre_contract=False)
    assert _labels(on) == _labels(off)
    assert s_on["pre_contract"] and not s_off["pre_contract"]
    # contraction never inflates the first-shuffle edge count
    assert s_on["round_edges"][0] <= s_off["round_edges"][0]
