"""03_pairs shuffle footprint at a scale tier.

Replicates the sf0.1 documents corpus N times (same near-dup recipe as
scale_smoke.py), runs 01_files + 02_blocks, then the candidate-pair
stage over the persisted blocks: lengths read off the len-carrying
block rows, exact_equal from the x: key family, prune before the dedup.

Shuffle bytes written / spill are read from the Spark event log per
job-description window, so each stage's footprint comes from Spark's
own task metrics.  Usage:

    SCALE_SMOKE_REPLICAS=1600 python tools/pairs_smoke.py
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SCALE_SMOKE_REPLICAS", "200"))
# scale-adaptive (guide §2.2: size partitions, not their count): ~1
# shuffle partition per replica keeps reduce partitions in the
# hundreds-of-MB band at every tier; AQE coalesces the small ones.
# 64 flat (the old smoke constant) put 4.6M key rows in ONE reduce
# partition at 3200x and OOM'd the 8g heap's per-task share.
SHUFFLE_PARTITIONS = int(os.environ.get(
    "SCALE_SMOKE_SHUFFLE_PARTITIONS", str(max(64, REPLICAS // 8))))


def parse_eventlog(log_dir: str) -> dict:
    """description -> {shuffle_write_bytes, spill_bytes, records}."""
    stage_to_desc: dict[int, str] = {}
    agg: dict[str, dict] = {}
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(root, fn) for fn in files
                  if not fn.startswith("appstatus")]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_to_desc[sid] = desc
                elif et == "SparkListenerTaskEnd":
                    desc = stage_to_desc.get(ev.get("Stage ID"), "")
                    tm = ev.get("Task Metrics") or {}
                    sw = (tm.get("Shuffle Write Metrics") or {})
                    a = agg.setdefault(desc, dict(shuffle_write=0, spill=0,
                                                  shuffle_read=0))
                    a["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = (tm.get("Shuffle Read Metrics") or {})
                    a["shuffle_read"] += (sr.get("Local Bytes Read", 0)
                                          + sr.get("Remote Bytes Read", 0))
                    a["spill"] += tm.get("Disk Bytes Spilled", 0)
    return agg


def main() -> None:
    from fuzzspark.functions import sha256_column
    from fuzzspark.pipeline import corpus_from_documents
    from fuzzspark.pipeline.blocking import block_keys, defuse_skew
    from fuzzspark.pipeline.pairs import candidate_pairs
    from fuzzspark.session import get_spark

    ev_dir = tempfile.mkdtemp(prefix="pairs_smoke_eventlog_")
    spark = get_spark("pairs-smoke", cpus=32,
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf={
                          "spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": f"file://{ev_dir}",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    big = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.col("lang"), F.col("source"), F.col("n_chars"),
        F.concat(F.col("text"), F.lit(" r"),
                 F.col("r").cast("string")).alias("text"))
    files = (corpus_from_documents(big)
             .withColumn("content_sha256", sha256_column("content"))
             .withColumn("content_len", F.length("content")))
    wd = tempfile.mkdtemp(prefix="pairs_smoke_")
    t0 = time.time()
    sc.setJobDescription("01_files")
    files.write.parquet(os.path.join(wd, "01_files"))
    files_ck = spark.read.parquet(os.path.join(wd, "01_files"))
    print(f"01_files: {time.time()-t0:.1f}s rows={files_ck.count()}",
          flush=True)

    t0 = time.time()
    sc.setJobDescription("02_blocks")
    blocks = defuse_skew(block_keys(files_ck.repartition(16)))
    blocks.write.parquet(os.path.join(wd, "02_blocks"))
    blocks_ck = spark.read.parquet(os.path.join(wd, "02_blocks"))
    print(f"02_blocks: {time.time()-t0:.1f}s rows={blocks_ck.count()}",
          flush=True)

    t0 = time.time()
    sc.setJobDescription("03_pairs")
    out_dir = os.path.join(wd, "03_pairs")
    candidate_pairs(blocks_ck, scorer="ratio",
                    cutoff=0.85).write.parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    print(f"03_pairs: {time.time()-t0:.1f}s rows={n}", flush=True)
    sc.setJobDescription(None)

    spark.stop()  # flush the event log
    time.sleep(2)
    agg = parse_eventlog(ev_dir)
    gb = 1024 ** 3
    for desc in sorted(agg):
        a = agg[desc]
        print(f"{desc or '(none)':20s} shuffle_write="
              f"{a['shuffle_write']/gb:8.3f} GiB  "
              f"shuffle_read={a['shuffle_read']/gb:8.3f} GiB  "
              f"spill={a['spill']/gb:8.3f} GiB")


if __name__ == "__main__":
    main()
