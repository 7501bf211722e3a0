"""Stage checkpointing, lineage manifests, resume.

Every pipeline stage is written in ``StageRunner.table_format`` (parquet
by default; orc is tested, and any path-based DataSource such as
``iceberg`` takes the same calls) next to a ``_MANIFEST.json`` that
records the stage's params and lineage hashes, row count, schema,
per-partition row counts (``partition_rows``, keyed as
``partition_rows_kind`` says), any stage-specific ``extra`` values and,
for the scoring stage, a score histogram — the "per-partition lineage +
metrics" of BASELINE.json:north_rule.  The row count, the histogram and
the ``observe`` values are aggregates of the write job itself.  Parquet
and orc stages are read back with the recorded schema instead of
inferring it, and parquet's per-file row counts come from the file
footers, so a fresh parquet stage costs its write job and no other
Spark job.

``StageRunner.run`` skips any stage whose manifest exists and matches
the stage's lineage hash — a killed run resumes from the last complete
stage (tests/test_resume.py kills between stages and re-runs).  The
lineage hash chains: it covers the params (which the pipeline keys on
its input with :func:`input_fingerprint`) and the lineage hash of the
stage run before it, so a different input or config invalidates every
stage from the first, never only some of them.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

__all__ = ["StageRunner", "input_fingerprint", "params_hash"]

MANIFEST = "_MANIFEST.json"

# formats whose reader takes the schema the stage recorded, which spares
# the schema-inference job of every read-back; Iceberg's source rejects
# a user schema and keeps its own
_SCHEMA_ON_READ = frozenset({"parquet", "orc"})


def params_hash(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[:16]


def input_fingerprint(df: DataFrame) -> str:
    """A cheap identity for a pipeline input that runs no Spark job.

    Path sources: the input files with their sizes and mtimes, plus the
    analyzed plan with its expression ids dropped (they differ between
    sessions, so a resume in a new process still matches).  In-memory
    sources (``LogicalRDD``, ``LocalRelation``) have no file to stat:
    the analyzed plan keeps its expression ids, which are unique per
    DataFrame within a session."""
    plan = df._jdf.queryExecution().analyzed().toString()
    files = sorted(df.inputFiles())
    if not files or re.search(r"\b(LogicalRDD|LocalRelation)\b", plan):
        return params_hash({"plan": plan, "files": files})
    spark = df.sparkSession
    stats = []
    for f in files:
        u = urlparse(f)
        if u.scheme in ("", "file"):
            st = os.stat(unquote(u.path))
            stats.append((f, st.st_size, st.st_mtime_ns))
        else:  # any other Hadoop filesystem
            path = spark._jvm.org.apache.hadoop.fs.Path(f)
            st = (path.getFileSystem(spark._jsc.hadoopConfiguration())
                  .getFileStatus(path))
            stats.append((f, st.getLen(), st.getModificationTime()))
    return params_hash({"plan": re.sub(r"#\d+", "", plan), "files": stats})


def _histogram_aggs(col: str, bins: int = 20):
    """Observation aggregates of the score histogram: NULL scores
    excluded, bucket = min(bins-1, floor(score*bins)).  One SQL
    expression per bin is parsed in the JVM; the Column-API form cost
    about a dozen py4j calls per bin."""
    return [F.expr(f"count_if(`{col}` IS NOT NULL AND least({bins - 1}, "
                   f"CAST(floor(`{col}` * {bins}) AS INT)) = {b})")
            .alias(f"b{b}") for b in range(bins)]


def _as_read_back(schema_json):
    """A schema's JSON with every field, element and map value
    nullable: the schema a file source reads back from what it wrote."""
    if isinstance(schema_json, dict):
        return {k: True if k in ("nullable", "containsNull",
                                 "valueContainsNull")
                else _as_read_back(v) for k, v in schema_json.items()}
    if isinstance(schema_json, list):
        return [_as_read_back(v) for v in schema_json]
    return schema_json


@dataclass
class StageRunner:
    """``table_format`` is the pluggable DataSource seam: any path-based
    columnar format Spark knows (parquet default, orc tested, iceberg in
    a deployment with the runtime jar + catalog — same API shape,
    ``format("iceberg")``)."""
    spark: SparkSession
    root: str
    params: dict = field(default_factory=dict)
    stages_run: list = field(default_factory=list)
    stages_skipped: list = field(default_factory=list)
    table_format: str = "parquet"
    # lineage hash of the stage last run or reused (the chain's head)
    _upstream: str = field(default="", init=False, repr=False)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _write(self, df: DataFrame, out_dir: str) -> None:
        df.write.mode("overwrite").format(self.table_format).save(out_dir)

    def _read(self, out_dir: str, schema: StructType) -> DataFrame:
        reader = self.spark.read.format(self.table_format)
        if self.table_format.lower() in _SCHEMA_ON_READ:
            reader = reader.schema(schema)
        return reader.load(out_dir)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    def manifest(self, stage: str) -> dict | None:
        """``stage``'s manifest as last written, or None when there is
        none or it cannot be parsed."""
        try:
            with open(self.manifest_path(stage)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _lineage_hash(self, stage: str) -> str:
        """Hash of what ``stage`` is built from: the params and the
        lineage hash of the stage run before it on this runner."""
        return params_hash({"stage": stage, "params": self.params,
                            "upstream": self._upstream})

    def _reusable_manifest(self, stage: str, observe) -> dict | None:
        """``stage``'s manifest when its output can be reused: complete,
        of this lineage, and holding a value for every name in
        ``observe`` (a manifest written before a value was observed is
        rebuilt, so no reader of ``extra`` meets a missing name)."""
        m = self.manifest(stage)
        if (m and m.get("lineage_hash") == self._lineage_hash(stage)
                and m.get("complete")
                and set(observe) <= set(m.get("extra", {}))):
            return m
        return None

    def run(self, stage: str, build: Callable[[], DataFrame], *,
            score_col: str | None = None,
            repartition: int | None = None,
            extra_manifest: dict | None = None,
            observe: dict | None = None) -> DataFrame:
        """Build + persist a stage, or reload it if already complete.

        ``extra_manifest``: dict reference merged into the manifest's
        ``extra`` at write time — ``build`` may populate it during
        construction (e.g. the CC round-by-round contracted-edge
        counts).  ``observe``: name -> aggregate Column computed by the
        write job itself; each value lands in ``extra`` under its name,
        and a stored stage whose ``extra`` lacks one is rebuilt."""
        observe = observe or {}
        out_dir = self._dir(stage)
        lineage = self._lineage_hash(stage)
        reused = self._reusable_manifest(stage, observe)
        if reused is not None:
            self.stages_skipped.append(stage)
            self._upstream = lineage
            return self._read(out_dir, StructType.fromJson(reused["schema"]))
        t0 = time.time()
        df = build()
        if repartition:
            df = df.repartition(repartition)
        schema = StructType.fromJson(_as_read_back(df.schema.jsonValue()))
        # lineage metrics RIDE THE WRITE JOB (CollectMetrics node): row
        # count + score histogram cost nothing extra, instead of paying
        # a second full pass over every stage's output — at 100 TB the
        # post-write re-scan is the same size as the write itself.
        bins = 20
        aggs = [F.count(F.lit(1)).alias("rows"),
                *(c.alias(name) for name, c in observe.items())]
        if score_col is not None:
            aggs += _histogram_aggs(score_col, bins)
        obs = Observation(f"lineage_{stage}_{uuid.uuid4().hex[:8]}")
        self._write(df.observe(obs, *aggs), out_dir)
        metrics = obs.get
        persisted = self._read(out_dir, schema)
        partition_rows, rows_kind = self._partition_rows(out_dir, persisted)
        manifest = {
            "stage": stage,
            "params_hash": params_hash(self.params),
            "lineage_hash": lineage,
            "row_count": int(metrics["rows"]),
            "schema": persisted.schema.jsonValue(),
            "partition_rows": partition_rows,
            "partition_rows_kind": rows_kind,
            "elapsed_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "complete": True,
        }
        if score_col is not None:
            hist = {b: int(metrics[f"b{b}"]) for b in range(bins)}
            manifest["score_histogram"] = {b: c for b, c in hist.items() if c}
        extra = dict(extra_manifest or {}, **{k: metrics[k] for k in observe})
        if extra:
            manifest["extra"] = extra
        with open(self.manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        self.stages_run.append(stage)
        self._upstream = lineage
        return persisted

    def _partition_rows(self, out_dir: str,
                        persisted: DataFrame) -> tuple[dict, str]:
        """Per-partition lineage rows -> (counts, kind).  The two paths
        key counts DIFFERENTLY and the manifest records which via
        ``partition_rows_kind`` (ADVICE r4):

        * parquet: counts per OUTPUT FILE from the file footers, keyed
          by sorted-filename index (driver-side metadata read, zero
          Spark jobs and zero data scanned — the scalable answer at
          100 TB); kind ``output_files``.  The glob is flat — a future
          partitionBy subdirectory layout would need a recursive glob.
        * other formats: one-pass census keyed by the READ-BACK
          ``spark_partition_id()`` (splits/merges per
          maxPartitionBytes, so keys are not comparable to the file
          view); kind ``read_partitions``.
        """
        if self.table_format == "parquet":
            try:
                import duckdb
                rows = duckdb.sql(
                    "SELECT file_name, num_rows FROM parquet_file_metadata("
                    f"'{out_dir}/*.parquet')").fetchall()
                if rows:
                    return ({i: int(nr) for i, (_fn, nr)
                             in enumerate(sorted(rows))}, "output_files")
            except Exception:  # pragma: no cover — fall back to the scan
                pass
        part_counts = (persisted.groupBy(F.spark_partition_id().alias("pid"))
                       .count().collect())
        return ({int(r["pid"]): int(r["count"]) for r in part_counts},
                "read_partitions")
