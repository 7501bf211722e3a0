"""Skew defusal: a pathological block (every row shares a key) must not
produce O(n²) candidate pairs, while near-dups (adjacent lengths) stay
paired via the overlapping sorted-neighborhood windows."""

import pytest
from pyspark.sql import functions as F

from fuzzspark.pipeline.blocking import defuse_skew
from fuzzspark.pipeline.pairs import candidate_pairs


def test_defuse_skew_bounds_pairs(spark):
    n = 1000
    rows = [(i, "hot") for i in range(n)]
    blocks = spark.createDataFrame(rows, "id: long, block_key: string")
    # content lengths: near-dups i and i+1 have adjacent lengths
    lens = spark.createDataFrame([(i, 100 + i) for i in range(n)],
                                 "id: long, content_len: long")
    out = defuse_skew(blocks, lens, max_block=100, window=20)
    sizes = {r["block_key"]: r["cnt"] for r in
             out.groupBy("block_key").agg(F.count("*").alias("cnt")).collect()}
    assert max(sizes.values()) <= 20            # windowed
    # pair blow-up bounded: sum of C(w,2) << C(1000,2)
    total_pairs = sum(c * (c - 1) // 2 for c in sizes.values())
    assert total_pairs <= n * 40                # ~2*window per member
    # adjacent-length members (the near-dup shape) share a window
    a = out.alias("a")
    b = out.alias("b")
    paired = (a.join(b, "block_key")
              .where(F.col("a.id") + 1 == F.col("b.id"))
              .select("a.id").distinct().count())
    assert paired >= (n - 1) * 0.95


def test_small_blocks_pass_through(spark):
    blocks = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (3, "k2")], "id: long, block_key: string")
    lens = spark.createDataFrame([(1, 5), (2, 6), (3, 7)],
                                 "id: long, content_len: long")
    out = defuse_skew(blocks, lens, max_block=100, window=10)
    assert sorted((r["id"], r["block_key"]) for r in out.collect()) == \
        [(1, "k1"), (2, "k1"), (3, "k2")]


def test_defuse_skew_keeps_ids_missing_from_files_len(spark):
    """Key rows without content_len join files_len for their window
    order; an id missing from files_len must keep its block membership
    (NULL length, ranked by id), not vanish from the blocks."""
    rows = [(i, "hot") for i in range(30)] + [(99, "small"), (98, "small")]
    blocks = spark.createDataFrame(rows, "id: long, block_key: string")
    lens = spark.createDataFrame([(i, 100 + i) for i in range(0, 30, 2)],
                                 "id: long, content_len: long")
    out = defuse_skew(blocks, lens, max_block=10, window=10)
    ids = {r["id"] for r in out.collect()}
    assert ids == {r[0] for r in rows}
    small = sorted(r["id"] for r in out.where("block_key = 'small'")
                   .collect())
    assert small == [98, 99]


def test_candidate_pairs_dedup_and_prefilter(spark):
    files = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdxx"), (3, "ab")],
        "id: long, content: string")
    # id 1/2 share two keys -> must still appear once
    blocks = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (1, "k2"), (2, "k2"), (3, "k1")],
        "id: long, block_key: string")
    pairs = candidate_pairs(files, blocks, scorer="ratio", cutoff=0.9)
    got = [(r["left_id"], r["right_id"]) for r in pairs.collect()]
    assert got.count((1, 2)) == 1
    # (1,3)/(2,3): len 6 vs 2 -> bound 2*2/8 = 0.5 < 0.9 -> pruned JVM-side
    assert (1, 3) not in got and (2, 3) not in got


@pytest.mark.parametrize("families", [
    dict(use_exact=True, use_path=True, use_minhash=True),
    dict(use_exact=True, use_path=True, use_minhash=False),
    dict(use_exact=False, use_path=False, use_minhash=True),
], ids=["all", "no_minhash", "minhash_only"])
def test_pipeline_blocks_equal_one_block_keys_call(spark, tmp_path,
                                                   families):
    """run_pipeline builds the exact/path keys and the MinHash keys from
    different inputs; its 02_blocks rows must equal one block_keys call
    over 01_files through defuse_skew.  A low max_block makes some
    blocks window."""
    from fuzzspark.pipeline import (LinkageConfig, corpus_to_spark,
                                    generate_corpus, run_pipeline)
    from fuzzspark.pipeline.blocking import block_keys

    corpus = generate_corpus(n_clusters=12, seed=19, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    cfg = LinkageConfig(threshold=0.9, max_block=2, window=2, **families)
    out = run_pipeline(spark, files, str(tmp_path / "wd"), cfg)
    files_ck = out["files"]
    want = defuse_skew(
        block_keys(files_ck, n_bands=cfg.n_bands,
                   rows_per_band=cfg.rows_per_band, shingle=cfg.shingle,
                   max_chars=cfg.max_chars, **families),
        files_ck.select("id", "content_len"),
        max_block=cfg.max_block, window=cfg.window)
    got = sorted(tuple(r) for r in out["blocks"].collect())
    assert got == sorted(tuple(r) for r in want.collect())
    assert any("#w" in r[1] for r in got)
