"""Headline benchmark — driver contract: ONE JSON line on stdout.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {...per-query sec...}, "sf": ..., "pairs_per_sec": ...}.

Noise-proofing (round 4): this VM's host tenancy makes single-pass
timings swing +/-40% (BENCH_SCALING.md), so every query is executed
``runs_per_query`` times in-process after a JVM + python-worker warm-up
and the reported per-query time is the MEDIAN of those runs.  The
headline ``value`` is the sum of the medians.  ``queries_min`` and
``queries_cold`` (first run, scan cache cold) are reported alongside so
a reader can separate steady-state from cold-start and from host noise.

Scaling evidence (N vs 4N cores) is produced by tools/scaling_bench.py
and recorded in BASELINE.md / BENCH_SCALING.md.

Round 6: ``host_probe_us_pre``/``host_probe_us_post`` record a
single-thread fixed-work CPU probe (µs/pair on the ratio kernel) taken
before and after the suite, IN the artifact — round-over-round claims
are pinned to the driver-recorded BENCH_r{N}.json and normalized by the
probe, never to idle-host local reruns (VERDICT r5 item 1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def _host_probe_us() -> float:
    """Single-thread fixed-work CPU probe: scores 2,000 deterministic
    300-char pairs with the in-process ratio kernel and returns
    µs/pair.  Recorded alongside the medians (pre- and post-suite) so a
    reader can normalize round-over-round claims for host-tenancy
    noise (VERDICT r5 item 1) instead of trusting idle-host local
    reruns — the documented idle value is ~3.7 µs/pair, with a ~1.25x
    slow phase observed on this VM."""
    import numpy as np
    from fuzzspark.kernels.batch import batch_scores

    rng = np.random.default_rng(42)
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz "))
    s1 = ["".join(rng.choice(alpha, 300)) for _ in range(2000)]
    s2 = ["".join(rng.choice(alpha, 300)) for _ in range(2000)]
    batch_scores("ratio", "normalized_similarity", s1[:100], s2[:100])
    best = float("inf")
    for _ in range(3):  # min over reps: a probe must not be noisy itself
        t0 = time.perf_counter()
        batch_scores("ratio", "normalized_similarity", s1, s2)
        best = min(best, time.perf_counter() - t0)
    return round(best / len(s1) * 1e6, 3)


def main() -> None:
    import __spark_entry__ as em
    from fuzzspark.session import get_spark
    from fuzzspark.pipeline import (LinkageConfig, corpus_from_documents,
                                    run_pipeline)

    probe_pre = _host_probe_us()

    spark = get_spark("fuzzspark-bench", cpus=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}   # per-query MEDIAN over RUNS
    mins: dict[str, float] = {}      # per-query best run
    colds: dict[str, float] = {}     # per-query first run (cold caches)
    extras: dict[str, float] = {}

    def timed(name, fn, runs=RUNS):
        samples = []
        n = None
        for _ in range(runs):
            t0 = time.time()
            n = fn()
            samples.append(time.time() - t0)
        timings[name] = round(statistics.median(samples), 3)
        mins[name] = round(min(samples), 3)
        colds[name] = round(samples[0], 3)
        return n

    # warm the JVM + one python worker per core (excluded from timings)
    from pyspark.sql import functions as F
    from fuzzspark.functions import scorer_column
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    warm = spark.range(0, CPUS * 4, 1, CPUS * 4).selectExpr(
        "repeat('w', 64) as s1", "repeat('x', 64) as s2")
    warm.withColumn("r", scorer_column("ratio", "s1", "s2")) \
        .agg(F.sum("r")).collect()

    # 1. flagship scorer throughput: ratio over blocked document pairs.
    # pairs_per_sec keeps the round-1 methodology on the COLD (first)
    # run; pairs_per_sec_warm uses the median with caches + workers hot
    n_pairs = timed("ratio_pairs",
                    lambda: em.q_ratio_docs(spark, SF_DIR).count())
    extras["scored_pairs"] = n_pairs
    extras["pairs_per_sec"] = round(n_pairs / colds["ratio_pairs"], 1)
    extras["pairs_per_sec_warm"] = round(n_pairs / timings["ratio_pairs"], 1)

    # 2. short-string scorers over name pairs
    timed("levenshtein_pairs", lambda: em.q_levenshtein(spark, SF_DIR).count())
    timed("jaro_winkler_pairs",
          lambda: em.q_jaro_winkler(spark, SF_DIR).count())
    timed("damerau_pairs", lambda: em.q_damerau(spark, SF_DIR).count())

    # 3. end-to-end linkage pipeline (blocking -> scoring -> clustering)
    bench_workdirs: list[str] = []

    def _pipeline():
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        files = corpus_from_documents(docs)
        wd = tempfile.mkdtemp(prefix="fuzzspark_bench_")
        bench_workdirs.append(wd)
        out = run_pipeline(spark, files, wd, LinkageConfig(threshold=0.85))
        return out["clusters"].count()

    timed("linkage_pipeline", _pipeline)

    # per-stage attribution (round 5): the stage manifests already
    # carry elapsed_sec — surface the LAST run's breakdown so future
    # rounds see regressions per stage, not per pipeline
    stage_secs: dict[str, float] = {}
    import glob
    for mf in sorted(glob.glob(os.path.join(bench_workdirs[-1], "*",
                                            "_MANIFEST.json"))):
        try:
            with open(mf) as f:
                m = json.load(f)
            stage_secs[m["stage"]] = m["elapsed_sec"]
        except Exception:
            pass

    # 4. training-data extras
    timed("minhash_candidates",
          lambda: em.q_minhash_candidates(spark, SF_DIR).count())
    timed("ann_cosine_topk", lambda: em.q_ann_cosine_topk(spark, SF_DIR).count())
    timed("ngram_jaccard", lambda: em.q_ngram_jaccard(spark, SF_DIR).count())
    timed("dedup_exact", lambda: em.q_dedup_exact(spark, SF_DIR).count())
    timed("token_stats", lambda: em.q_token_stats(spark, SF_DIR).count())
    timed("fingerprint", lambda: em.q_fingerprint(spark, SF_DIR).count())

    total = round(sum(timings.values()), 3)
    probe_post = _host_probe_us()
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "fuzzspark headline suite wall time (per-query medians)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": mins,
        "queries_cold": colds,
        "runs_per_query": RUNS,
        "aggregation": "median",
        "queries_stages": {"linkage_pipeline": stage_secs},
        # single-thread fixed-work µs/pair before/after the suite:
        # normalizes round-over-round comparisons for host tenancy
        # (idle reference ~3.7; >4.5 means the host was in a slow phase)
        "host_probe_us_pre": probe_pre,
        "host_probe_us_post": probe_post,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **extras,
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
