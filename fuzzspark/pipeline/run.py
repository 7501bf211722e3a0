"""End-to-end record-linkage pipeline (BASELINE.json:north_rule).

stages: 01_files (+sha256 integrity) → 02_blocks → 03_pairs →
04_scores → 05_clusters.  Every stage checkpoints via StageRunner and
resumes mid-pipeline after a kill.  All heavy compute is vectorized:
04_scores scores whole Arrow batches, in one ``mapInArrow`` against a
broadcast content table below the broadcast gate and through a pandas
UDF over joined content above it; everything else is Catalyst-native.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from fuzzspark.functions import sha256_column
from fuzzspark.pipeline.blocking import block_keys, defuse_skew
from fuzzspark.kernels import _native
from fuzzspark.kernels.content import ContentTable
from fuzzspark.pipeline.checkpoint import StageRunner, input_fingerprint
from fuzzspark.pipeline.cluster import connected_components
from fuzzspark.pipeline.pairs import candidate_pairs

__all__ = ["LinkageConfig", "run_pipeline"]


from fuzzspark.pipeline.util import (broadcast_fits, content_bytes, join_scores,
                                     parse_bytes as _parse_bytes)


def _dir_bytes(path: str) -> int | None:
    """Total data-file bytes of a persisted stage dir (driver-side
    listing; the same listing any scan planning pays)."""
    try:
        total = 0
        for f in os.listdir(path):
            if f.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(path, f))
        return total
    except OSError:
        return None


@dataclass
class LinkageConfig:
    scorer: str = "ratio"
    threshold: float = 0.9
    n_bands: int = 8
    rows_per_band: int = 4
    shingle: int = 5
    max_chars: int = 2000
    max_block: int = 200
    window: int = 20
    use_exact: bool = True
    use_path: bool = True
    use_minhash: bool = True
    cc_max_iter: int = 20
    # finish CC driver-side once the contracted edge set is this small
    # (0 = fully-distributed fixpoint; None = auto-size from
    # spark.driver.memory — 1/16 of the heap as raw 16 B edges with a
    # 4M floor, see cluster._auto_driver_finish.  Round 6: the manifest
    # round_edges series showed a fixed default re-tuned at every scale
    # tier, so the default now derives from the resource that actually
    # bounds it)
    cc_driver_finish: int | None = None
    # stage-storage DataSource format (parquet/orc/...; "iceberg" with
    # the runtime jar + catalog configured)
    table_format: str = "parquet"

    def as_dict(self):
        return dict(self.__dict__)


# 04_scores' columns, in order
SCORE_COLS = ("left_id", "right_id", "len1", "len2", "exact_equal", "score")


def broadcast_scores(spark: SparkSession, content: DataFrame,
                     pairs: DataFrame, scorer: str,
                     threshold: float) -> DataFrame:
    """04_scores' broadcast path: score ``pairs`` (left_id, right_id,
    exact_equal) against ``content`` (id, content), which the driver
    collects once into a :class:`ContentTable` and broadcasts, in one
    ``mapInArrow``.  Rows as the shuffle path writes them: ``len1``/
    ``len2`` are the code-point lengths ``F.length`` gives (NULL for
    NULL content), an exact pair scores 1.0 and a pair below
    ``threshold`` scores NULL."""
    # Arrow, not Rows; the sorted Arrow copy is dropped at once
    bcv = spark.sparkContext.broadcast(
        ContentTable.from_arrow(content.toArrow())[0])

    def score_map(batches):
        import numpy as np
        import pyarrow as pa
        t = bcv.value
        for batch in batches:
            li = batch.column("left_id").to_numpy()
            ri = batch.column("right_id").to_numpy()
            ex_raw = batch.column("exact_equal")
            todo = ~np.asarray(ex_raw.fill_null(False)
                               .to_numpy(zero_copy_only=False), dtype=bool)
            p1, p2 = t.positions(li), t.positions(ri)
            out = np.ones(len(li))
            out[todo] = t.scores(scorer, t.texts[p1[todo]], p2[todo],
                                 threshold)
            yield pa.RecordBatch.from_arrays(
                [pa.array(li), pa.array(ri),
                 pa.array(t.lens[p1], mask=t.null[p1]),
                 pa.array(t.lens[p2], mask=t.null[p2]),
                 ex_raw, pa.array(out, mask=np.isnan(out))],
                names=list(SCORE_COLS))

    return pairs.mapInArrow(
        score_map, "left_id long, right_id long, len1 int, len2 int, "
                   "exact_equal boolean, score double")


def run_pipeline(spark: SparkSession, files: DataFrame, workdir: str,
                 config: LinkageConfig | None = None) -> dict:
    """Returns dict of stage DataFrames: files, blocks, pairs, scores,
    clusters — plus the StageRunner (for resume introspection).

    ``files`` must have columns (id, repo, path, commit, lang, content).
    """
    cfg = config or LinkageConfig()
    # stage reuse keys on the input as well as the config: linking a
    # different corpus into the same workdir reruns every stage
    runner = StageRunner(spark, workdir,
                         params=dict(cfg.as_dict(),
                                     input=input_fingerprint(files)),
                         table_format=cfg.table_format)

    def widen(df: DataFrame, input_bytes: int | None = None) -> DataFrame:
        """Guarantee a UDF-heavy stage gets enough tasks even when its
        input is a small persisted stage (single parquet split).  Width
        is tunable via spark conf ``fuzzspark.python.parallelism``
        (single-box local mode saturates memory bandwidth well below
        the vCPU count — see BENCH_SCALING.md).  When the on-disk
        ``input_bytes`` alone yield >= target scan splits (bytes /
        maxPartitionBytes) the repartition is skipped: at 100 TB it
        would re-shuffle the corpus for parallelism the splits give."""
        default = spark.sparkContext.defaultParallelism
        target = int(spark.conf.get("fuzzspark.python.parallelism",
                                    str(default)))
        if input_bytes is not None:
            mpb = _parse_bytes(spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"))
            if mpb > 0 and input_bytes // mpb >= target:
                return df
        return df.repartition(target)

    def _files():
        # a source-provided content_sha256 column is KEPT as the
        # source-table assertion (BASELINE: per-row sha256 equality vs
        # the source); otherwise the hash is computed here and the
        # check degenerates to in-flight self-consistency
        df = files
        if "content_sha256" not in files.columns:
            df = df.withColumn("content_sha256", sha256_column("content"))
        return df.withColumn("content_len", F.length("content"))

    # the per-row integrity check RIDES THE WRITE JOB (counting
    # recomputed-sha mismatches) instead of paying a second full corpus
    # scan per run.  The uncompressed content bytes that gate the
    # 04_scores broadcast ride it too.
    files_ck = runner.run("01_files", _files, observe={
        "sha_mismatch": F.sum((sha256_column("content")
                               != F.col("content_sha256")).cast("long")),
        "content_bytes": content_bytes()})
    # StageRunner reuses a stage only when its manifest holds every
    # observed value, so both are here on a fresh run and a resume alike
    files_extra = runner.manifest("01_files")["extra"]

    if "01_files" in runner.stages_run:
        n_drift = int(files_extra["sha_mismatch"] or 0)
    else:
        # resumed (stage skipped — no write job to ride): verify the
        # PERSISTED stage instead, i.e. the storage roundtrip
        n_drift = (files_ck
                   .withColumn("_recheck", sha256_column("content"))
                   .where(F.col("_recheck") != F.col("content_sha256"))
                   .limit(1).count())
    if n_drift:
        raise RuntimeError("content sha256 integrity violation in 01_files")

    def _blocks():
        # widen only the MinHash UDF's input: the persisted 01_files
        # stage is tiny on disk and would otherwise reach the python
        # workers as a single input split.  The exact and path keys are
        # JVM expressions and read the 01_files scan directly — fed the
        # same widen, each union branch would pay its own round-robin
        # exchange of the whole content.  defuse_skew is a single
        # subtree (one census exchange), so the key rows have exactly
        # one consumer and need no persist.
        mh = dict(n_bands=cfg.n_bands, rows_per_band=cfg.rows_per_band,
                  shingle=cfg.shingle, max_chars=cfg.max_chars)
        parts = []
        if cfg.use_exact or cfg.use_path:
            parts.append(block_keys(files_ck, use_exact=cfg.use_exact,
                                    use_path=cfg.use_path, use_minhash=False,
                                    **mh))
        if cfg.use_minhash:
            wide = widen(files_ck.select("id", "content_len", "content"),
                         input_bytes=_dir_bytes(runner._dir("01_files")))
            parts.append(block_keys(wide, use_exact=False, use_path=False,
                                    use_minhash=True, **mh))
        return defuse_skew(reduce(DataFrame.unionByName, parts),
                           max_block=cfg.max_block, window=cfg.window)

    blocks = runner.run("02_blocks", _blocks)

    # the block rows carry content_len, so candidate_pairs reads both
    # pair lengths off the join sides and decides exact_equal from the
    # x: key family: the pair set shuffles once, length-pruned, for the
    # dedup
    pairs = runner.run(
        "03_pairs",
        lambda: candidate_pairs(blocks, scorer=cfg.scorer,
                                cutoff=cfg.threshold))

    # the driver's kernel backend and the scoring path (set by _score)
    # land in the 04_scores manifest
    score_info = {"kernel_backend": _native.backend()["backend"]}

    def _score():
        # 03_pairs is id-only (see candidate_pairs): content attaches by
        # id here, and exact pairs (a shared x: key) score 1.0 without
        # the scorer.  The gate reads the bytes the 01_files write
        # measured.  Above it the shuffle joins spread the output over
        # spark.sql.shuffle.partitions: a post-join widen() would
        # re-shuffle every text-attached row (~100 GB at the 200x tier)
        fits, _ = broadcast_fits(spark, files_extra["content_bytes"])
        score_info["score_path"] = "broadcast" if fits else "shuffle"
        if fits:
            # the corpus ships once per executor and only the 17 B id
            # pairs widen and cross the Arrow boundary (guide §8, §4.1)
            return broadcast_scores(
                spark, files_ck.select("id", "content"),
                widen(pairs.select("left_id", "right_id", "exact_equal")),
                cfg.scorer, cfg.threshold)
        # the exact branch keeps its NARROW len-only attach (16 B rows,
        # len1 == len2): routing it through the content projection does
        # not reuse that exchange (measured: the analyzer gives each
        # branch fresh attribute ids) and added a full content
        # shuffle+sort at the 200x tier
        exact = (pairs.where("exact_equal").join(files_ck.select(
            F.col("id").alias("left_id"),
            F.col("content_len").alias("len1")), "left_id")
            .withColumn("len2", F.col("len1"))
            .withColumn("score", F.lit(1.0)))
        scored = join_scores(
            pairs.where(~F.col("exact_equal")),
            files_ck.select(F.col("id").alias("left_id"),
                            F.col("content").alias("s1")),
            files_ck.select(F.col("id").alias("right_id"),
                            F.col("content").alias("s2")),
            cfg.scorer, cfg.threshold)
        return (scored.select(*SCORE_COLS)
                .unionByName(exact.select(*SCORE_COLS)))

    scores = runner.run("04_scores", _score, score_col="score",
                        extra_manifest=score_info)

    cc_stats: dict = {}

    cc_dir = os.path.join(workdir, "_cc_checkpoint")

    def _cluster():
        # reliable per-round checkpoints for the CC fixpoint: a lost
        # localCheckpoint block is unrecoverable (truncated lineage);
        # checkpoint files under the workdir survive eviction/executor
        # loss and cost one small write per contracted round
        spark.sparkContext.setCheckpointDir(cc_dir)
        edges = scores.where(F.col("score") >= cfg.threshold) \
                      .select("left_id", "right_id")
        # round 7: the 04_scores manifest row count (free — already on
        # disk) upper-bounds the edge count; when it fits the driver-
        # finish threshold, CC skips its contraction passes, reliable
        # checkpoint and fingerprint jobs outright (identical labels)
        m = runner.manifest("04_scores") or {}
        ub_edges = int(m["row_count"]) if m.get("complete") else None
        labels = connected_components(
            edges, max_iter=cfg.cc_max_iter,
            driver_finish_edges=cfg.cc_driver_finish, stats=cc_stats,
            upper_bound_edges=ub_edges)
        # isolated nodes -> singleton clusters
        return (files_ck.select("id").join(labels, "id", "left_outer")
                .select("id", F.coalesce("cluster_id", "id").alias("cluster_id")))

    # the stage's global session state is restored afterwards (ADVICE
    # r4): capture any pre-existing checkpoint dir before _cluster
    # overrides it
    try:
        prev_opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        prev_ck = prev_opt.get() if prev_opt.isDefined() else None
    except Exception:  # pragma: no cover — py4j API drift
        prev_ck = None

    # cc_stats lands in the 05_clusters manifest: per-round contracted
    # edge counts size the cc_driver_finish knob at any scale
    clusters = runner.run("05_clusters", _cluster, extra_manifest=cc_stats)

    # 05_clusters is persisted, so the CC round checkpoints are dead
    # weight — delete them (they'd otherwise accumulate for the life of
    # the app, one dir per round) and put the session's checkpoint dir
    # back where the caller had it.  On a crash mid-CC the files simply
    # stay for the next attempt; CC recomputes from 04_scores anyway.
    # When the caller had NO checkpoint dir configured there is nothing
    # to restore — the context keeps pointing at cc_dir, so deleting it
    # would leave a later caller-side df.checkpoint() writing into a
    # directory that vanishes with the workdir (ADVICE r5): leave it in
    # place in that case.
    if prev_ck and prev_ck != cc_dir:
        shutil.rmtree(cc_dir, ignore_errors=True)
        spark.sparkContext.setCheckpointDir(prev_ck)

    return dict(files=files_ck, blocks=blocks, pairs=pairs, scores=scores,
                clusters=clusters, runner=runner)


def evaluate_f1(scores: DataFrame, labeled: DataFrame, threshold: float) -> dict:
    """Pairwise P/R/F1 of predicted matches vs labeled same-block pairs."""
    pred = (scores.where(F.col("score") >= threshold)
            .select("left_id", "right_id").withColumn("pred", F.lit(True)))
    j = labeled.join(pred, ["left_id", "right_id"], "left_outer")
    agg = j.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred").isNotNull(), 1)
              .otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred").isNotNull(), 1)
              .otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & F.col("pred").isNull(), 1)
              .otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return dict(tp=tp, fp=fp, fn=fn, precision=precision, recall=recall, f1=f1)
