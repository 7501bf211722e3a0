"""Streaming operator implementations."""

from __future__ import annotations

import logging
import os
import time
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F

from fuzzspark.functions import sha256_column
from fuzzspark.kernels import _native
from fuzzspark.pipeline.blocking import (block_key_columns, block_keys,
                                         make_minhash_matrix)
from fuzzspark.pipeline.util import broadcast_fits, content_bytes, join_scores
from fuzzspark.streaming.index import RefIndex, source_name

__all__ = ["streaming_exact_dedup", "streaming_fuzzy_match",
           "streaming_ingest_linkage", "streaming_stateful_dedup",
           "streaming_windowed_agg"]

_log = logging.getLogger(__name__)


def streaming_exact_dedup(stream: DataFrame, *, content_col: str = "content",
                          ts_col: str = "ts",
                          watermark: str = "10 minutes") -> DataFrame:
    """Drop rows whose content hash was already seen within the
    watermark window (exact streaming dedup; state is bounded by the
    watermark — at 100 TB/day the watermark is the state-size knob).

    ``dropDuplicatesWithinWatermark`` is the variant that actually
    EVICTS state as the watermark advances; plain ``dropDuplicates``
    on a non-event-time subset never evicts and grows without bound."""
    return (stream
            .withColumn("content_sha256", sha256_column(content_col))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_sha256"]))


def _key_sources(df: DataFrame, key_cols: dict) -> DataFrame:
    """(id, content, one source column per key family) — the only
    columns either side of the index matcher reads."""
    return (df.where(F.col("id").isNotNull())
            .select(F.col("id").cast("long").alias("id"), "content",
                    *[c.alias(source_name(fam))
                      for fam, c in key_cols.items()]))


def _index_matcher(reference: DataFrame, scorer: str, threshold: float,
                   blocking_kwargs: dict, max_block: int | None):
    """Reference side built ONCE on the driver (one collect, MinHash
    keys by the same kernel, hot keys dropped) and broadcast as a
    :class:`RefIndex`; each micro-batch is then one Arrow map that
    probes it and scores the distinct candidates against its content
    table (the kernel's own length prune stands in for
    ``length_prefilter``).  Returns (run, release, stats)."""
    families = {k: v for k, v in blocking_kwargs.items()
                if k.startswith("use_")}
    mh = {k: v for k, v in blocking_kwargs.items() if k not in families}
    key_cols = block_key_columns(**families)
    use_mh = "minhash" in key_cols
    index = RefIndex.build(_key_sources(reference, key_cols).toArrow(),
                           make_minhash_matrix(**mh) if use_mh else None,
                           max_block)
    bcv = reference.sparkSession.sparkContext.broadcast(index)

    def match(batches):
        import pyarrow as pa
        idx = bcv.value
        t = idx.table
        matrix = make_minhash_matrix(**mh) if use_mh else None
        for batch in batches:
            rows, refs = idx.candidates(batch, matrix)
            ids = batch.column("id").to_numpy()
            texts = np.array(batch.column("content").to_pylist(),
                             dtype=object)
            score = t.scores(scorer, texts[rows], refs, threshold)
            keep = ~np.isnan(score)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[rows[keep]]), pa.array(t.ids[refs[keep]]),
                 pa.array(score[keep])],
                names=["stream_id", "ref_id", "score"])

    def run(batch_df: DataFrame) -> DataFrame:
        return _key_sources(batch_df, key_cols).mapInArrow(
            match, "stream_id long, ref_id long, score double")

    return run, bcv.unpersist, dict(ref_keys=index.n_keys,
                                    hot_keys_dropped=index.hot_keys_dropped,
                                    index_bytes=index.nbytes)


def _join_matcher(reference: DataFrame, scorer: str, threshold: float,
                  blocking_kwargs: dict, max_block: int | None):
    """The join plan, for references above the broadcast gate: the
    reference's block keys and content projection are persisted once
    and every micro-batch joins its own keys against them.  Returns
    (run, release, stats)."""
    ref_blocks = block_keys(reference, **blocking_kwargs) \
        .withColumnRenamed("id", "ref_id")
    if max_block:
        # skew defusal: a reference key shared by > max_block docs
        # makes every arrival carrying it a candidate of the whole block
        # (at the 50x smoke, 20M candidate rows per 312-doc batch).  Hot
        # keys carry no signal; near-dups still meet through their
        # minhash band keys (recall floor: tools/skew_recall.py)
        hot = (ref_blocks.groupBy("block_key").count()
               .where(F.col("count") > max_block).select("block_key"))
        ref_blocks = ref_blocks.join(F.broadcast(hot), "block_key",
                                     "left_anti")
    ref_blocks = ref_blocks.persist()
    # pre-partition the cached reference content on the join key (round
    # 6): every micro-batch's content-attach join then reuses this
    # partitioning and shuffles ONLY the batch-sized candidate side —
    # the old plan re-shuffled the ENTIRE reference every micro-batch
    # (at the 50x smoke that one exchange dominated the match leg)
    ref_content = (reference.select(F.col("id").alias("ref_id"),
                                    F.col("content").alias("s2"))
                   .repartition("ref_id").persist())

    def run(batch_df: DataFrame) -> DataFrame:
        new_blocks = block_keys(batch_df, **blocking_kwargs) \
            .withColumnRenamed("id", "stream_id")
        new_content = batch_df.select(F.col("id").alias("stream_id"),
                                      F.col("content").alias("s1"))
        # micro-batches are small vs the corpus: broadcast the stream
        # side (block keys + content are batch-sized BY CONTRACT; the
        # candidate set is NOT — a hot block key can fan out, so it is
        # never broadcast/collected).  The ref_content attach reuses
        # the cached reference partitioning on ref_id: only the
        # candidate side shuffles per batch
        cand = (ref_blocks.join(F.broadcast(new_blocks), "block_key")
                .select("stream_id", "ref_id")
                .dropDuplicates(["stream_id", "ref_id"]))
        return join_scores(cand, F.broadcast(new_content), ref_content,
                           scorer, threshold).where("score IS NOT NULL")

    def release() -> None:
        ref_blocks.unpersist()
        ref_content.unpersist()

    return run, release, dict(ref_keys=None, hot_keys_dropped=None,
                              index_bytes=None)


def _match_batch(reference: DataFrame, scorer: str, threshold: float,
                 blocking_kwargs: dict, max_block: int | None = 200):
    """Build the per-micro-batch matcher: batch_df (id, content, ...) ->
    match edges (stream_id, ref_id, score).

    One aggregate job measures the reference's uncompressed content
    bytes for 04_scores' gate (:func:`broadcast_fits`).  Within it the
    reference becomes a broadcast :class:`RefIndex` and a micro-batch
    is a single Arrow map — no join, no exchange, one Spark job with
    the sink write.  Above it the join plan runs.  The returned
    callable carries ``.unpersist()`` (release the reference side once
    the stream is done) and ``.plan``, the path taken and its build
    figures."""
    t0 = time.perf_counter()
    agg = reference.agg(F.count(F.lit(1)).alias("n"),
                        content_bytes().alias("b")).first()
    ref_bytes = int(agg["b"] or 0)
    use_index, gate = broadcast_fits(reference.sparkSession, ref_bytes)
    build = _index_matcher if use_index else _join_matcher
    run, release, stats = build(reference, scorer, threshold,
                                blocking_kwargs, max_block)
    if use_index:  # the broadcast carries the content too
        stats["index_bytes"] += ref_bytes

    def match(batch_df: DataFrame) -> DataFrame:
        # Spark's round() is HALF_UP on the decimal form — numpy's
        # rounding differs, so it stays a JVM projection
        return run(batch_df).select("stream_id", "ref_id",
                                    F.round("score", 6).alias("score"))

    match.plan = dict(path="broadcast_index" if use_index else "join",
                      ref_docs=int(agg["n"]), content_bytes=ref_bytes,
                      max_bytes=gate, **stats,
                      build_s=round(time.perf_counter() - t0, 4),
                      kernel_backend=_native.backend()["backend"])
    match.unpersist = release
    return match


def streaming_fuzzy_match(stream: DataFrame, reference: DataFrame, *,
                          scorer: str = "ratio", threshold: float = 0.9,
                          sink_dir: str, checkpoint_dir: str,
                          blocking_kwargs: Optional[dict] = None,
                          trigger_once: bool = True,
                          max_block: int | None = 200):
    """Fuzzy-match a stream of (id, repo, path, commit, lang, content)
    records against a static reference corpus; append match edges to a
    parquet sink.  Returns the StreamingQuery.

    The reference side is built once, before the query starts (see
    :func:`_match_batch`): below the broadcast gate it is a
    driver-built block-key index shipped in one broadcast, and each
    micro-batch is ONE Spark job (the sink write fed by one Arrow map);
    above the gate each micro-batch joins against the persisted
    reference block keys.  ``query.match_plan`` reports the path taken
    and is logged once at start (a warning on the join path).

    ``max_block`` drops reference block keys shared by more than that
    many reference docs (hot keys have no discriminative signal and
    amplify every arrival into whole-block candidates; None keeps
    all keys)."""
    blocking_kwargs = blocking_kwargs or dict(use_exact=True, use_path=True,
                                              use_minhash=True)
    matcher = _match_batch(reference, scorer, threshold, blocking_kwargs,
                           max_block=max_block)
    (_log.warning if matcher.plan["path"] == "join" else _log.info)(
        "streaming_fuzzy_match plan: %s", matcher.plan)

    def for_each_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe: an empty batch writes an empty part for
        # the price of the job the probe itself would cost
        edges = matcher(batch_df)
        (edges.withColumn("batch_id", F.lit(batch_id))
              .write.mode("append").parquet(sink_dir))

    writer = (stream.writeStream
              .foreachBatch(for_each_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    # cleanup handle: the reference side (broadcast index, or the
    # persisted join-plan projections) lives for the life of the
    # stream; call this after termination
    query.unpersist_reference = matcher.unpersist
    query.match_plan = matcher.plan
    return query


def streaming_ingest_linkage(spark, source_dir: str, reference: DataFrame, *,
                             workdir: str, scorer: str = "ratio",
                             threshold: float = 0.9,
                             schema=None,
                             max_files_per_trigger: int | None = None,
                             blocking_kwargs: Optional[dict] = None,
                             max_block: int | None = 200):
    """End-to-end incremental linkage: watch ``source_dir`` for new
    corpus parquet files, fuzzy-match arrivals against ``reference``,
    append edges under ``workdir/edges`` (checkpoint
    ``workdir/_checkpoint``).  Batch connected-components folds the
    edge log in on the next full run — the standard
    stream-appends/batch-consolidates split.

    ``max_files_per_trigger`` caps the files per micro-batch.  Each
    batch's cost is one Arrow map over its rows against the broadcast
    reference index (or, above the broadcast gate, a join of the
    batch's block keys against the persisted reference keys), so
    batches may grow with the arrival rate; the cap bounds the latency
    of a single batch.

    ``blocking_kwargs`` / ``max_block`` forward to
    :func:`streaming_fuzzy_match`."""
    reader = spark.readStream.schema(schema or reference.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    return streaming_fuzzy_match(
        stream, reference, scorer=scorer, threshold=threshold,
        sink_dir=os.path.join(workdir, "edges"),
        checkpoint_dir=os.path.join(workdir, "_checkpoint"),
        blocking_kwargs=blocking_kwargs, max_block=max_block)


def streaming_windowed_agg(stream: DataFrame, *, ts_col: str = "ts",
                           window: str = "1 hour",
                           watermark: str = "30 minutes",
                           group_cols=("event_type",),
                           value_col: str = "value") -> DataFrame:
    """Watermarked event-time tumbling-window aggregation — the
    streaming twin of the batch event_windows query: per (window x
    group) counts, distinct-user count is NOT streamable exactly
    (count distinct needs full state), so the streaming surface carries
    count + sum; the watermark bounds state (windows older than the
    watermark are finalized and evicted) and drops late rows.

    Write with ``update`` output mode: each micro-batch emits the
    CURRENT aggregate of every window it touched, so a last-write-wins
    read per (window, group) key equals the batch aggregate over all
    non-late rows — which makes the operator exactly checkable against
    the batch relation (q_streaming_windows)."""
    cols = [F.window(ts_col, window).alias("w"), *group_cols]
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(*cols)
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(value_col), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), *group_cols,
                    "n_events", "sum_value"))


def _stateful_dedup_step(key, pdf_iter, state, id_col: str,
                         timeout_minutes: int):
    """One keyed-state invocation (key = full content sha256).  Emits the
    first arrival for an unseen key; writes a CONSTANT-size marker (never
    the accumulated history); removes state on timeout instead of
    resurrecting it.  Module-level so tests can drive it with a fake
    GroupState."""
    import pandas as pd

    empty = pd.DataFrame({"id": pd.Series([], dtype="int64"),
                          "content_sha256": pd.Series([], dtype=object)})
    if state.hasTimedOut:
        # idle key: drop the marker entirely (do NOT update/re-arm —
        # that would resurrect the state and defeat eviction)
        state.remove()
        return empty
    first_id = None
    for pdf in pdf_iter:
        if first_id is None and len(pdf):
            first_id = int(pdf[id_col].iloc[0])
    if state.exists or first_id is None:
        out = empty
    else:
        out = pd.DataFrame({"id": [first_id], "content_sha256": [key[0]]})
    state.update((True,))  # constant-size marker, O(1) per key
    if timeout_minutes:
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
    return out


def streaming_stateful_dedup(stream: DataFrame, *, content_col: str = "content",
                             id_col: str = "id",
                             timeout_minutes: int = 0):
    """Cross-batch exact dedup with explicit keyed state
    (``applyInPandasWithState``): the first row for each content hash is
    emitted, later arrivals are dropped FOREVER (not just within a
    watermark window — the state outlives micro-batches).

    State key = the FULL sha256 of the content, state value = a
    constant one-byte seen-marker.  Per-batch state writes are O(keys
    in the batch) and each write is O(1) bytes — the state store (e.g.
    RocksDB on a real cluster) shards keys across executors, which is
    the design that survives 100 TB.  (A coarser key whose value
    accretes every hash ever seen would pay O(total history)
    serialization per batch — the anti-pattern this replaces.)

    ``timeout_minutes`` > 0 evicts idle keys via ProcessingTimeTimeout:
    a timed-out key's state is REMOVED (so the same content re-emits if
    it arrives again later) — the state-size/recall knob at scale.
    Returns a DataFrame to be written with ``update`` output mode.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (BooleanType, LongType, StringType,
                                   StructField, StructType)

    out_schema = StructType([
        StructField("id", LongType()),
        StructField("content_sha256", StringType()),
    ])
    state_schema = StructType([StructField("seen", BooleanType())])

    def dedup_fn(key, pdf_iter, state: GroupState):
        yield _stateful_dedup_step(key, pdf_iter, state, id_col,
                                   timeout_minutes)

    keyed = stream.withColumn("content_sha256", sha256_column(content_col))
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if timeout_minutes
               else GroupStateTimeout.NoTimeout)
    return keyed.groupBy("content_sha256").applyInPandasWithState(
        dedup_fn, outputStructType=out_schema,
        stateStructType=state_schema, outputMode="update",
        timeoutConf=timeout)
