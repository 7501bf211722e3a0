"""Streaming match-leg batch-size/latency curve (VERDICT r6 item 5).

Per-micro-batch fixed cost (plan + broadcast + sink) dominated the 50x
smoke at 312-doc batches (49.1 docs/s).  This sweep runs ONLY the
ingest->match leg at several maxFilesPerTrigger values over the same
reference and stream, reporting docs/s and the edge count (which must
be identical at every batch size — the matcher is batch-order
independent).  Results recorded in BASELINE.md.

    STREAM_SMOKE_REPLICAS=50 python tools/streaming_batch_curve.py
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fuzzspark.pipeline import corpus_from_documents
from fuzzspark.session import get_spark, usable_cpus
from fuzzspark.streaming.ops import streaming_ingest_linkage

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("STREAM_SMOKE_REPLICAS", "50"))
SOURCE_FILES = int(os.environ.get("STREAM_SMOKE_FILES", "64"))
SWEEP = [int(x) for x in os.environ.get(
    "STREAM_SMOKE_MFT_SWEEP", "4,8,16,32").split(",")]


def main() -> None:
    os.environ.setdefault("FUZZSPARK_DRIVER_MEM", "16g")
    cpus = usable_cpus()
    spark = get_spark("streaming-batch-curve", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    big = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.col("lang"), F.col("source"), F.col("n_chars"),
        F.concat(F.col("text"), F.lit(" r"),
                 F.col("r").cast("string")).alias("text"))
    files = corpus_from_documents(big)
    n_ref = files.count()

    wd = tempfile.mkdtemp(prefix="stream_curve_")
    src = os.path.join(wd, "source")
    stream_files = corpus_from_documents(
        docs.withColumn("doc_id", F.col("doc_id") + 900_000_000))
    n_stream = stream_files.count()
    stream_files.repartition(SOURCE_FILES).write.parquet(src)

    out = {"replicas": REPLICAS, "reference_docs": n_ref,
           "stream_docs": n_stream, "source_files": SOURCE_FILES,
           "curve": []}
    for mft in SWEEP:
        t0 = time.time()
        q = streaming_ingest_linkage(
            spark, src, files, workdir=os.path.join(wd, f"link_mft{mft}"),
            threshold=0.85, max_files_per_trigger=mft)
        q.awaitTermination()
        q.unpersist_reference()
        wall = time.time() - t0
        edges = spark.read.parquet(
            os.path.join(wd, f"link_mft{mft}", "edges"))
        row = {"max_files_per_trigger": mft,
               "approx_docs_per_batch": round(n_stream * mft / SOURCE_FILES),
               "wall_sec": round(wall, 1),
               "stream_docs_per_sec": round(n_stream / wall, 1),
               "edges": edges.count(),
               "batches": edges.select("batch_id").distinct().count()}
        out["curve"].append(row)
        print(json.dumps(row), flush=True)
    edge_counts = {r["edges"] for r in out["curve"]}
    out["edges_identical_across_batch_sizes"] = len(edge_counts) == 1
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
