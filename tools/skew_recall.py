"""Quantify the recall cost of skew defusal (VERDICT round-3 item 8).

defuse_skew trades recall for bounded pair counts: an oversized block is
sorted by content length and re-keyed into overlapping windows, so
same-cluster members can only pair if their length ranks fall within one
window.  This experiment plants a WORST CASE: a synthetic labeled corpus
whose every row lands in ONE hot block, then measures truth-pair recall
and candidate-pair cost across trial values of the blocking constants
MAX_BLOCK and WINDOW, against the defusal-off baseline (full O(n^2)
block, recall 1.0 by construction).

Usage: python tools/skew_recall.py [n_clusters]
Prints a markdown table (appended to BENCH_SCALING.md by hand/driver).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def run_experiment(spark, n_clusters: int = 400, seed: int = 17):
    from fuzzspark.pipeline import blocking
    from fuzzspark.pipeline.blocking import defuse_skew
    from fuzzspark.pipeline.corpus import corpus_to_spark, generate_corpus

    corpus = generate_corpus(n_clusters=n_clusters, seed=seed, threshold=0.9)
    files, labeled, _ = corpus_to_spark(spark, corpus)
    files = files.cache()
    n = files.count()
    truth = labeled.where("is_match") \
        .select("left_id", "right_id").cache()
    n_truth = truth.count()

    # worst case: every row in one hot block
    blocks = files.select("id", F.lit("hot").alias("block_key"),
                          F.length("content").alias("content_len"))

    def pairs_of(bl):
        a, b = bl.alias("a"), bl.alias("b")
        return (a.join(b, "block_key")
                .where(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("left_id"),
                        F.col("b.id").alias("right_id"))
                .distinct())

    rows = []
    base_pairs = n * (n - 1) // 2
    rows.append(("off", "-", base_pairs, 1.0))
    # each setting is a trial value of the engine's blocking constants
    saved = blocking.MAX_BLOCK, blocking.WINDOW
    try:
        for mb, w in [(200, 20), (200, 40), (100, 20), (100, 40), (50, 10)]:
            blocking.MAX_BLOCK, blocking.WINDOW = mb, w
            cand = pairs_of(defuse_skew(blocks))
            n_cand = cand.count()
            hit = truth.join(cand, ["left_id", "right_id"]).count()
            rows.append((str(mb), str(w), n_cand, hit / n_truth))
    finally:
        blocking.MAX_BLOCK, blocking.WINDOW = saved
    return n, n_truth, rows


def main():
    from fuzzspark.session import get_spark
    n_clusters = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    spark = get_spark("skew-recall", cpus=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    n, n_truth, rows = run_experiment(spark, n_clusters=n_clusters)
    print(f"\nplanted corpus: {n} rows in ONE hot block, "
          f"{n_truth} truth match pairs\n")
    print("| max_block | window | candidate pairs | truth recall |")
    print("|---|---|---|---|")
    for mb, w, cand, rec in rows:
        print(f"| {mb} | {w} | {cand:,} | {rec:.3f} |")
    spark.stop()


if __name__ == "__main__":
    main()
