"""Round-7 side benchmarks (guide §1.4): time individual queries with
the same methodology as bench.py (count() actions, median of N runs,
warm JVM/python workers) without touching the FROZEN bench.py.  Used to
isolate and attribute per-query optimizations; numbers are cited in
OPTIMIZATION_r07.md.

Usage: python bench_extra.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
ONLY = sys.argv[2:]
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def main() -> None:
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from fuzzspark.session import get_spark
    from fuzzspark.functions import scorer_column

    spark = get_spark("fuzzspark-bench-extra", cpus=CPUS,
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as bench.py
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    warm = spark.range(0, CPUS * 4, 1, CPUS * 4).selectExpr(
        "repeat('w', 64) as s1", "repeat('x', 64) as s2")
    warm.withColumn("r", scorer_column("ratio", "s1", "s2")) \
        .agg(F.sum("r")).collect()

    names = ONLY or ["ratio_pairs", "ngram_jaccard", "minhash_candidates",
                     "ann_cosine_topk", "dedup_exact", "token_stats",
                     "fingerprint", "levenshtein_pairs",
                     "jaro_winkler_pairs", "damerau_pairs"]
    fn_map = {
        "ratio_pairs": em.q_ratio_docs,
        "levenshtein_pairs": em.q_levenshtein,
        "jaro_winkler_pairs": em.q_jaro_winkler,
        "damerau_pairs": em.q_damerau,
        "minhash_candidates": em.q_minhash_candidates,
        "ann_cosine_topk": em.q_ann_cosine_topk,
        "ngram_jaccard": em.q_ngram_jaccard,
        "dedup_exact": em.q_dedup_exact,
        "token_stats": em.q_token_stats,
        "fingerprint": em.q_fingerprint,
        "ratio_long": em.q_ratio_long,
        "seq_levenshtein": em.q_seq_levenshtein,
        "lsh_cosine_topk": em.q_lsh_cosine_topk,
        "dedup_near": em.q_dedup_near,
        "fuzzy_topk": em.q_fuzzy_topk,
        "simhash": em.q_simhash,
        "langid": em.q_langid,
        "token_set_ratio": em.q_token_set_ratio,
        "token_sort_ratio": em.q_token_sort_ratio,
        "partial_ratio": em.q_partial_ratio,
        "score_pairs_jw": em.q_score_pairs_jw,
    }
    for name in names:
        fn = fn_map[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        samples = []
        n = None
        for _ in range(RUNS):
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            samples.append(time.time() - t0)
        print(f"{name:24s} median={statistics.median(samples):8.3f}s "
              f"min={min(samples):8.3f}s cold={samples[0]:8.3f}s rows={n}",
              flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
