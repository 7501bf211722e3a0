"""Skew defusal: a pathological block (every row shares a key) must not
produce O(n²) candidate pairs, while near-dups (adjacent lengths) stay
paired via the overlapping sorted-neighborhood windows."""

import pytest
from pyspark.sql import functions as F

from fuzzspark.pipeline.blocking import defuse_skew
from fuzzspark.pipeline.pairs import candidate_pairs


def test_defuse_skew_bounds_pairs(spark, blocking_constants):
    n = 1000
    # content lengths: near-dups i and i+1 have adjacent lengths
    rows = [(i, "hot", 100 + i) for i in range(n)]
    blocks = spark.createDataFrame(
        rows, "id: long, block_key: string, content_len: long")
    with blocking_constants(max_block=100, window=20):
        out = defuse_skew(blocks)
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


def test_small_blocks_pass_through(spark, blocking_constants):
    blocks = spark.createDataFrame(
        [(1, "k1", 5), (2, "k1", 6), (3, "k2", 7)],
        "id: long, block_key: string, content_len: long")
    with blocking_constants(max_block=100, window=10):
        out = defuse_skew(blocks)
    assert sorted((r["id"], r["block_key"]) for r in out.collect()) == \
        [(1, "k1"), (2, "k1"), (3, "k2")]


def test_defuse_skew_keeps_rows_with_null_length(spark, blocking_constants):
    """NULL content still gets a path key, so a key row can carry a
    NULL content_len.  It keeps its block membership: in a windowed
    block NULL lengths rank first, ties broken by id."""
    rows = ([(i, "hot", 100 + i if i % 2 == 0 else None) for i in range(30)]
            + [(99, "small", None), (98, "small", 5)])
    blocks = spark.createDataFrame(
        rows, "id: long, block_key: string, content_len: long")
    with blocking_constants(max_block=10, window=10):
        out = defuse_skew(blocks)
    assert {r["id"] for r in out.collect()} == {r[0] for r in rows}
    small = sorted(r["id"] for r in out.where("block_key = 'small'")
                   .collect())
    assert small == [98, 99]
    # the 15 NULL-length ids (odd, ascending) fill window 0 and spill
    # into window 1
    w0 = sorted(r["id"] for r in out.where("block_key = 'hot#w0'")
                .collect())
    assert w0 == [1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    assert {r["content_len"] for r in out.where("id = 1").collect()} \
        == {None}


def test_key_rows_without_content_len_are_refused(spark):
    blocks = spark.createDataFrame([(1, "k1"), (2, "k1")],
                                   "id: long, block_key: string")
    with pytest.raises(ValueError, match="content_len"):
        defuse_skew(blocks)
    with pytest.raises(ValueError, match="content_len"):
        candidate_pairs(blocks)


def test_candidate_pairs_dedup_and_prefilter(spark):
    # contents "abcdef", "abcdxx", "ab": lengths 6, 6, 2.  id 1/2 share
    # two keys -> must still appear once
    blocks = spark.createDataFrame(
        [(1, "k1", 6), (2, "k1", 6), (1, "k2", 6), (2, "k2", 6),
         (3, "k1", 2)],
        "id: long, block_key: string, content_len: int")
    pairs = candidate_pairs(blocks, scorer="ratio", cutoff=0.9)
    got = [(r["left_id"], r["right_id"]) for r in pairs.collect()]
    assert got.count((1, 2)) == 1
    # (1,3)/(2,3): len 6 vs 2 -> bound 2*2/8 = 0.5 < 0.9 -> pruned JVM-side
    assert (1, 3) not in got and (2, 3) not in got


@pytest.mark.parametrize("families", [
    dict(use_exact=True, use_path=True, use_minhash=True),
], ids=["all"])
def test_pipeline_blocks_equal_one_block_keys_call(spark, tmp_path,
                                                   blocking_constants,
                                                   families):
    """run_pipeline builds the exact/path keys and the MinHash keys from
    different inputs; its 02_blocks rows must equal one block_keys call
    over 01_files through defuse_skew.  A low MAX_BLOCK makes some
    blocks window."""
    from fuzzspark.pipeline import (LinkageConfig, corpus_to_spark,
                                    generate_corpus, run_pipeline)
    from fuzzspark.pipeline.blocking import block_keys

    corpus = generate_corpus(n_clusters=12, seed=19, threshold=0.9)
    files, _, _ = corpus_to_spark(spark, corpus)
    with blocking_constants(max_block=2, window=2):
        out = run_pipeline(spark, files, str(tmp_path / "wd"),
                           LinkageConfig(threshold=0.9))
        want = defuse_skew(block_keys(out["files"], **families))
        got = sorted(tuple(r) for r in out["blocks"].collect())
        assert got == sorted(tuple(r) for r in want.collect())
    assert any("#w" in r[1] for r in got)


def test_minhash_key_rows_equal_exploded_per_doc_keys(spark):
    """minhash_key_rows emits make_minhash_matrix's per-doc keys,
    exploded: one (id, bk) row per band of every non-null text, none for
    a null text."""
    from fuzzspark.kernels.minhash import make_minhash_matrix
    from fuzzspark.pipeline.blocking import minhash_key_rows, minhash_params

    texts = [None, "", "abc", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 text beyond the BMP 𐍈𐍈",
             "😀😀😀", "short doc"] + [f"def f{i}(x):\n    return x + {i}\n"
                                    for i in range(40)]
    docs = [(i, f"r{i % 3}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        docs, "id: long, tag: string, __mh_norm: string").repartition(3)
    got = sorted(tuple(r) for r in minhash_key_rows(
        df, carry=("tag",)).collect())
    idx, keys = make_minhash_matrix(**minhash_params())(
        [t for _i, _tag, t in docs])
    want = sorted((docs[i][0], docs[i][1], k)
                  for i, ks in zip(idx.tolist(), keys.tolist()) for k in ks)
    assert len(want) == 8 * (len(texts) - 1)
    assert got == want


def test_exact_equal_is_content_sha_equality(spark, tmp_path):
    """03_pairs decides exact_equal from the shared x: key.  Each pair's
    flag must equal the sha256 equality of its two 01_files rows, and
    with no x: block windowed every equal-sha pair must be a pair."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from fuzzspark.pipeline import LinkageConfig, generate_corpus, run_pipeline

    rows = [(r["id"], r["repo"], r["path"], r["commit"], r["lang"],
             r["content"]) for r in generate_corpus(n_clusters=20,
                                                   seed=23).rows]
    nid = 1000
    for copies, (_id, repo, path, commit, lang, content) in \
            zip([1, 2, 3, 1, 2], rows[:10:2]):
        for k in range(copies):
            rows.append((nid, repo, f"vendor{k}/{path}", commit, lang,
                         content))
            nid += 1
    rows += [(nid, "e", "a/empty.py", "c", "python", ""),
             (nid + 1, "e", "b/empty.py", "c", "python", ""),
             (nid + 2, "e", "a/gone.py", "c", "python", None)]
    schema = StructType([StructField(c, LongType() if c == "id"
                                     else StringType())
                         for c in ("id", "repo", "path", "commit", "lang",
                                   "content")])
    files = spark.createDataFrame(rows, schema)
    cfg = LinkageConfig(threshold=0.9)
    out = run_pipeline(spark, files, str(tmp_path / "wd"), cfg)

    x_blocks = out["blocks"].where(F.col("block_key").startswith("x:"))
    assert x_blocks.where(F.col("block_key").contains("#")).count() == 0
    sha = out["files"].select("id", "content_sha256")
    l, r = sha.alias("l"), sha.alias("r")
    checked = (out["pairs"].alias("p")
               .join(l, F.col("p.left_id") == F.col("l.id"))
               .join(r, F.col("p.right_id") == F.col("r.id"))
               .select("p.left_id", "p.right_id", "p.exact_equal",
                       (F.col("l.content_sha256")
                        == F.col("r.content_sha256")).alias("sha_eq"))
               .collect())
    assert len(checked) == out["pairs"].count()
    # never NULL, not even for the empty and NULL content rows
    assert all(row["exact_equal"] is not None for row in checked)
    assert all(row["exact_equal"] == row["sha_eq"] for row in checked)
    equal_sha = {(row["l_id"], row["r_id"]) for row in
                 l.join(r, (F.col("l.content_sha256")
                            == F.col("r.content_sha256"))
                        & (F.col("l.id") < F.col("r.id")))
                 .select(F.col("l.id").alias("l_id"),
                         F.col("r.id").alias("r_id")).collect()}
    # at least 1+3+6+1+3 copy pairs plus the empty pair
    assert len(equal_sha) >= 15
    flagged = {(row["left_id"], row["right_id"]) for row in checked
               if row["exact_equal"]}
    assert flagged == equal_sha
