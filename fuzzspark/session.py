"""SparkSession factory with scale-appropriate defaults.

Local test/bench sessions mirror the configs we would ship to a real
cluster: AQE on (skew-join splitting + partition coalescing), Arrow
batches bounded so Python-worker memory stays flat regardless of
content size (the reference allocates O(N) per comparison,
src/distance/levenshtein.rs:48-62 — our analog is bounding rows/batch).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS_PER_BATCH = 2048

_log = logging.getLogger(__name__)

# how Spark refuses a second file under a name it already serves: the
# file server (cluster) and the driver's local copy (local mode)
_ALREADY_ADDED = ("was already registered with a different path",
                  "exists and does not match contents of")


def usable_cpus() -> int:
    """Cores a local session should use: ``SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on (``nproc``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(app_name: str = "fuzzspark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        # UDF-heavy scans need tasks >> cores; the 128MB default
        # bin-packs small stage outputs into single tasks and silently
        # serializes the python scorers (see BENCH_SCALING.md)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "2m")
        # align AQE's shuffle coalescing with the scan split size: the
        # 64m default would merge a small-but-UDF-heavy stage into one
        # or two tasks and serialize the python scorers
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # shuffle/spill compression codec (guide §2.3 / §9): zstd —
        # A/B at the 400x tier measured 1.7x less shuffle write and
        # 2.2x less spill at IDENTICAL wall (32.7 vs 32.8 s), and
        # scratch disk is the binding resource at the top smoke tiers
        # (the r6 3200x attempt died on it; OPTIMIZATION_r07.md records
        # the A/B).  ``extra_conf`` overrides it, like any conf here
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("FUZZSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def package_zip(dest_dir: str | None = None) -> str:
    """Zip the fuzzspark package for spark-submit --py-files / addPyFile."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    dest = os.path.join(dest_dir or tempfile.gettempdir(), "fuzzspark_pkg.zip")
    with zipfile.ZipFile(dest, "w") as zf:
        for dirpath, _dirs, fnames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in fnames:
                # ship the C kernel source too — workers compile it
                # once per machine into the shared cache
                if fn.endswith((".py", ".c")):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return dest


def _ship_package(spark: SparkSession) -> None:
    """Make ``fuzzspark`` importable on executors regardless of cwd —
    the addPyFile equivalent of ``spark-submit --py-files`` (north_rule
    packaging requirement), idempotent per session."""
    sc = spark.sparkContext
    if getattr(sc, "_fuzzspark_shipped", False):
        return
    path = package_zip()
    try:
        sc.addPyFile(path)
    except Exception as e:
        # a zip of this name from another path is already on the
        # context (say, spark-submit --py-files): that copy serves the
        # executors.  Anything else would surface later as an executor
        # ModuleNotFoundError, so it raises here.
        if not any(m in str(e) for m in _ALREADY_ADDED):
            raise
    # build the native kernels on the driver so local-mode python
    # workers hit the warm cache immediately (cluster executors compile
    # once per machine via the same atomic cache path)
    from fuzzspark.kernels import _native
    kernels = _native.backend()
    if kernels["backend"] != "native":
        _log.warning("fuzzspark scores on the pure-Python kernels: %s",
                     kernels["reason"])
    sc._fuzzspark_shipped = True
