"""10x scale smoke: replicate the sf0.1 documents corpus 10x (shifted
ids, per-replica text perturbation so replicas are near-dups, not exact
dups) and run the full linkage pipeline.  Reports total wall + the
per-stage manifest times — the would-this-survive-a-scale-up probe the
sandbox can actually run (results recorded in BASELINE.md)."""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fuzzspark.pipeline import LinkageConfig, corpus_from_documents, run_pipeline
from fuzzspark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SCALE_SMOKE_REPLICAS", "10"))
# scale-adaptive reduce width (round 7, mirroring tools/pairs_smoke.py):
# a flat 64 put 4.6M key rows in single reduce partitions at the 3200x
# tier and blew the per-task heap share
SHUFFLE_PARTITIONS = int(os.environ.get(
    "SCALE_SMOKE_SHUFFLE_PARTITIONS", str(max(64, REPLICAS // 8))))


def main() -> None:
    spark = get_spark("scale-smoke", cpus=32,
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # one crossJoin with a replica range instead of a REPLICAS-way
    # union loop (round 6): identical rows, but the logical plan stays
    # O(1) in the replica count — at 1600 replicas the union chain
    # made plan analysis itself a bottleneck
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    big = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.col("lang"), F.col("source"), F.col("n_chars"),
        F.concat(F.col("text"), F.lit(" r"),
                 F.col("r").cast("string")).alias("text"))
    print("docs:", big.count())
    wd = tempfile.mkdtemp(prefix="scale_smoke_")
    t0 = time.time()
    out = run_pipeline(spark, corpus_from_documents(big), wd,
                       LinkageConfig(threshold=0.85))
    n = out["clusters"].count()
    multi = (out["clusters"].groupBy("cluster_id").count()
             .where("count>1").count())
    print("clusters rows:", n, "multi-member:", multi,
          "total_sec:", round(time.time() - t0, 1))
    for st in sorted(os.listdir(wd)):
        mp = os.path.join(wd, st, "_MANIFEST.json")
        if os.path.exists(mp):
            m = json.load(open(mp))
            print(st, m["elapsed_sec"], "rows:", m["row_count"])
            if "extra" in m:  # CC round-by-round contracted edge counts
                print("   cc:", json.dumps(m["extra"]))
    spark.stop()


if __name__ == "__main__":
    main()
