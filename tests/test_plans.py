"""Plan-shape assertions: the properties that matter at 100 TB must be
visible in the optimized plan, not just intended.

- filters/column pruning reach the parquet scan (PushedFilters/ReadSchema)
- the length prefilter runs BELOW the Python scorer (Filter before
  ArrowEvalPython in the plan tree)
- small dimension sides broadcast (BroadcastHashJoin, no sort-merge)
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = d.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan, plan
    # column pruning: text must not be read
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "text" not in m.group(1), m.group(1) if m else plan


def test_length_prefilter_below_udf(spark, sf_dir):
    from fuzzspark.functions import length_prefilter, scorer_column
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a, b = d.alias("a"), d.alias("b")
    pairs = (a.join(b, F.col("a.lang") == F.col("b.lang"))
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.text").alias("s1"), F.col("b.text").alias("s2")))
    scored = (pairs
              .where(length_prefilter(F.length("s1"), F.length("s2"),
                                      "ratio", 0.9))
              .withColumn("score", scorer_column("ratio", "s1", "s2")))
    plan = _plan(scored)
    # the Arrow-batched python node exists
    assert "ArrowEvalPython" in plan
    # the length prefilter stayed JVM-side — Catalyst fuses it into the
    # join condition (below the UDF), visible as the least(length(...))
    # bound in the physical plan
    assert "least(length(" in plan, plan
    join_pos = plan.index("Join")
    udf_pos = plan.index("ArrowEvalPython")
    assert join_pos > udf_pos or "Join" in plan  # tree lists UDF above join
    # and the UDF node sits above the join in the tree (executes after)
    tree = plan.split("\n\n")[0]
    assert tree.index("ArrowEvalPython") < tree.index("Join"), tree


def test_small_dim_join_broadcasts(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    q = c.join(n, c.c_nationkey == n.n_nationkey).select("c_name", "n_name")
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan


def test_ann_query_side_broadcasts(spark, sf_dir):
    """Round 7: the interpreted crossJoin plan became a MapInArrow
    block-matmul — the bounded query side still ships to every task
    (now as an explicit broadcast variable), and the per-pair work no
    longer runs row-at-a-time in the JVM.  The plan must show the
    Arrow boundary and NO nested-loop join of the candidate side."""
    import __spark_entry__ as em
    plan = _plan(em.q_ann_cosine_topk(spark, sf_dir))
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocking_join_is_hash_join(spark):
    from fuzzspark.pipeline import corpus_to_spark, generate_corpus
    from fuzzspark.pipeline.blocking import block_keys
    from fuzzspark.pipeline.pairs import candidate_pairs
    corpus = generate_corpus(n_clusters=20, seed=3)
    files, _, _ = corpus_to_spark(spark, corpus)
    files = files.withColumn("content_len", F.length("content"))
    blocks = block_keys(files)
    pairs = candidate_pairs(blocks, scorer="ratio", cutoff=0.9)
    plan = _plan(pairs)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan \
        or "ShuffledHashJoin" in plan
