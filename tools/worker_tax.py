"""Fixed cost of one Spark task crossing into a Python worker.

Runs one warm-up job and then ``--jobs`` identity one-task
``mapInArrow`` jobs over a function that imports fuzzspark, on a local
session with ``session.usable_cpus()`` cores.  Sequential one-task jobs
reuse one Python worker, so every timed job pays the per-task set-up of
a warm worker.  A last job probes that worker: its zip importers, the
archives behind them, and one ``importlib.invalidate_caches()`` (the
call each task's ``setup_spark_files`` makes) with the archive
directories it re-read, next to the time the stdlib method would take
to re-read every importer's archive.  Prints one JSON line.

    python tools/worker_tax.py --jobs 20
"""

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fuzzspark.session import get_spark, usable_cpus

PROBE_SCHEMA = ("pid long, zip_importers int, zip_archives int, "
                "invalidate_ms double, archive_rereads int, "
                "stdlib_invalidate_ms double")


def identity(batches):
    import fuzzspark  # noqa: F401  (a worker imports it as engine tasks do)
    yield from batches


def probe(batches):
    import importlib
    import zipimport

    import pyarrow as pa

    import fuzzspark  # noqa: F401
    for _ in batches:
        pass
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
    rereads = 0
    read_directory = zipimport._read_directory

    def counted(archive):
        nonlocal rereads
        rereads += 1
        return read_directory(archive)

    zipimport._read_directory = counted
    try:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_ms = (time.perf_counter() - t0) * 1e3
    finally:
        zipimport._read_directory = read_directory
    # what the stdlib method pays: one directory read per importer
    t0 = time.perf_counter()
    for imp in importers:
        read_directory(imp.archive)
    stdlib_ms = (time.perf_counter() - t0) * 1e3
    row = {"pid": os.getpid(), "zip_importers": len(importers),
           "zip_archives": len({imp.archive for imp in importers}),
           "invalidate_ms": invalidate_ms, "archive_rereads": rereads,
           "stdlib_invalidate_ms": stdlib_ms}
    yield pa.RecordBatch.from_pylist([row], schema=pa.schema([
        ("pid", pa.int64()), ("zip_importers", pa.int32()),
        ("zip_archives", pa.int32()), ("invalidate_ms", pa.float64()),
        ("archive_rereads", pa.int32()),
        ("stdlib_invalidate_ms", pa.float64())]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=20)
    args = ap.parse_args()
    os.environ.setdefault("FUZZSPARK_DRIVER_MEM", "2g")
    cpus = usable_cpus()
    spark = get_spark("worker-tax", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    one = spark.range(0, 1, 1, 1)
    one.mapInArrow(identity, one.schema).collect()  # spawns the worker
    job_ms = []
    for _ in range(args.jobs):
        t0 = time.perf_counter()
        one.mapInArrow(identity, one.schema).collect()
        job_ms.append((time.perf_counter() - t0) * 1e3)
    worker = one.mapInArrow(probe, PROBE_SCHEMA).first().asDict()
    spark.stop()
    print(json.dumps({"cpus": cpus, "jobs": args.jobs,
                      "python": sys.version.split()[0],
                      "job_ms_median": round(statistics.median(job_ms), 1),
                      "job_ms_min": round(min(job_ms), 1),
                      "job_ms_max": round(max(job_ms), 1),
                      **{k: round(v, 1) if isinstance(v, float) else v
                         for k, v in worker.items()}}))


if __name__ == "__main__":
    main()
