"""Transitive clustering: connected components on match edges.

Implements the alternating large-star / small-star algorithm (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public literature; the reference has no clustering at all, this stage
comes from BASELINE.json:north_rule).  Each round is two
``groupBy(node).agg(min(...))`` + join shuffles; converges in
O(log n) rounds with deterministic min-id labels so reruns reproduce
byte-identical cluster ids.  Per-round checkpointing truncates lineage
so the iterative plan doesn't snowball; with a checkpoint dir
configured the rounds use RELIABLE checkpoints (fault-tolerant to
block eviction and executor loss — see connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fuzzspark.pipeline.util import parse_bytes

__all__ = ["connected_components"]

# floor for the driver-side finish threshold (edges); ~64 MB as raw
# int64 pairs — safe on any driver
_DRIVER_FINISH_FLOOR = 4_000_000


def _auto_driver_finish(spark) -> int:
    """Derive the CC driver-finish edge threshold from the driver's
    memory instead of a fixed knob (round 6 — the manifest round_edges
    series showed the fixed default re-tuned every scale tier).  An
    edge is 16 B raw (two int64); the toPandas collect pays Arrow +
    pandas copies and the driver needs headroom for everything else, so
    budget 1/16 of ``spark.driver.memory`` in raw edge bytes:
    edges = mem/(16 B * 16), e.g. 8 GiB -> 33.5M edges (~537 MB raw).
    Never below the 4M floor the 800x smoke validated.

    Round 7: ALSO clamp by ``spark.driver.maxResultSize`` (default
    1 GiB), which aborts any collect above it regardless of heap —
    without the clamp, a LARGER driver heap raises the threshold
    straight into a maxResultSize abort (observed at the 3200x tier
    with a 24g heap: "Total size of serialized results of 136 tasks
    (1029.3 MiB) is bigger than spark.driver.maxResultSize").  The
    Arrow-serialized result runs ~16-17 B/edge; budget 20 B/edge
    against 80% of the cap.  maxResultSize=0 means unlimited."""
    mem = parse_bytes(spark.conf.get("spark.driver.memory", "1g"))
    cap = mem // 256
    try:
        mrs = parse_bytes(spark.conf.get("spark.driver.maxResultSize",
                                         "1g"))
    except Exception:  # pragma: no cover — unparseable custom value
        mrs = 1 << 30
    if mrs and mrs > 0:
        cap = min(cap, (mrs * 4 // 5) // 20)
    return max(_DRIVER_FINISH_FLOOR, cap)


def _as_uv(edges: DataFrame) -> DataFrame:
    """Normalize to (u, v) and DROP self-loops: a self-loop carries no
    connectivity, and dropping it here makes the pre-contracted and
    plain paths agree (ADVICE r5: the local union-find emits no edge
    for a node that is its own root, so a self-loop-only node vanished
    under pre_contract=True but survived under False).  A node whose
    only edges are self-loops is treated as isolated — not returned,
    exactly like a node absent from ``edges``."""
    if "left_id" in edges.columns:
        edges = edges.select(F.col("left_id").alias("u"),
                             F.col("right_id").alias("v"))
    else:
        edges = edges.select("u", "v")
    return edges.where(F.col("u") != F.col("v"))


def _symmetrize(edges: DataFrame) -> DataFrame:
    e = _as_uv(edges)
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _pre_contract(edges: DataFrame) -> DataFrame:
    """Partition-local spanning-forest sparsification (round 5): a
    union-find over each partition's edges (C kernel, ~20 ns/edge)
    collapses them to ONE edge per non-root node (node -> local
    component minimum) BEFORE the first distributed shuffle.  Components
    are exactly preserved — replacing a partition's edges by a spanning
    star of each local component keeps intra-partition connectivity, and
    any node split across partitions still carries one edge per
    partition, so cross-partition merges survive.  At the 200x tier the
    first star round contracts 190.3M symmetrized edges to 1.08M; most
    of that contraction is intra-partition redundancy this pass removes
    for the cost of one narrow mapInPandas (no shuffle).  Memory: holds
    one partition's edge ids (16 B/edge) — bounded by
    spark.sql.files.maxPartitionBytes upstream."""
    def part(batches):
        import numpy as np
        import pandas as pd

        from fuzzspark.kernels._native import union_find_roots

        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy(dtype=np.int64, copy=False))
            vs.append(pdf["v"].to_numpy(dtype=np.int64, copy=False))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        inv = inv.reshape(-1)  # numpy 2.1 returns the input's shape
        roots = union_find_roots(inv[: len(u)], inv[len(u):], len(nodes))
        # nodes is ascending, so dense order == id order and the
        # union-by-min root is the true min member id per component
        mask = roots != np.arange(len(nodes), dtype=np.int64)
        yield pd.DataFrame({"u": nodes[mask], "v": nodes[roots[mask]]})

    return _as_uv(edges).mapInPandas(part, "u long, v long")


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    mins = (e.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .withColumn("mn", F.least("mn", "u")))
    return (e.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Connect all smaller-or-equal neighbors of u to the minimum."""
    ee = e.where(F.col("v") <= F.col("u"))
    mins = (ee.groupBy("u").agg(F.min("v").alias("mn")))
    out = (ee.join(mins, "u")
           .select(F.col("v").alias("u"), F.col("mn").alias("v"))
           .where(F.col("u") != F.col("v")))
    anchor = mins.select(F.col("u"), F.col("mn").alias("v"))
    return out.unionByName(anchor).distinct()


def _driver_union_find(e: DataFrame) -> DataFrame:
    """Finish a small edge set driver-side: union-by-min with path
    compression (roots are automatically the component minimum — the
    smaller id is always kept as the root of any union).  The standard
    small-tail cutoff for iterative CC: the last rounds of star
    contraction operate on a tiny graph where per-round distributed job
    overhead dominates, at ANY input scale.  Round 5: same C union-find
    kernel as the partition pre-contraction (a python dict loop over
    the 1M-edge default threshold cost seconds of driver time)."""
    import numpy as np
    import pandas as pd

    from fuzzspark.kernels._native import union_find_roots

    pdf = e.toPandas()
    u = pdf["u"].to_numpy(dtype=np.int64, copy=False)
    v = pdf["v"].to_numpy(dtype=np.int64, copy=False)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    inv = inv.reshape(-1)
    roots = union_find_roots(inv[: len(u)], inv[len(u):], len(nodes))
    labels = pd.DataFrame({"id": nodes, "cluster_id": nodes[roots]})
    return e.sparkSession.createDataFrame(labels,
                                          "id: long, cluster_id: long")


def connected_components(edges: DataFrame, max_iter: int = 20,
                         driver_finish_edges: int | None = None,
                         stats: dict | None = None,
                         pre_contract: bool = True,
                         upper_bound_edges: int | None = None) -> DataFrame:
    """edges(left_id, right_id) -> (id, cluster_id) with cluster_id =
    min member id.  Nodes absent from ``edges`` are not returned, and
    self-loops (u == v) are dropped up front — a node whose only edges
    are self-loops counts as absent (callers union isolated nodes as
    their own cluster); this holds identically with and without
    ``pre_contract``.

    Distributed star rounds contract the graph; once the surviving edge
    set fits under ``driver_finish_edges`` (components are invariant
    under the star transforms) a driver-side union-find finishes it —
    set 0 to force the fully-distributed fixpoint.  ``None`` (default,
    round 6) auto-sizes the threshold from ``spark.driver.memory``
    (1/16 of the heap as raw 16 B edges, 4M floor — see
    _auto_driver_finish) so the knob no longer needs re-tuning per
    scale tier; the stats round_edges series in the stage manifest
    still shows the per-round sizes for manual override.

    Per-round lineage is truncated with a RELIABLE ``df.checkpoint()``
    iff the SparkContext has a checkpoint dir (run_pipeline sets one
    under the stage workdir), else with ``localCheckpoint``; the mode
    is ``stats["checkpoint_mode"]``.  Reliable checkpoints are files —
    fault-tolerant: a lost/evicted block is re-read from disk, which is
    what an iterative job needs both under single-JVM memory pressure
    and on a real cluster that loses executors; ``localCheckpoint``
    blocks are UNRECOVERABLE once lost because the lineage is already
    truncated.

    ``pre_contract`` (default True) runs TWO union-find contraction
    passes before the first star round (results identical — spanning
    forests preserve components; switch off only to measure):

    1. partition-local (round 5): narrow, no shuffle — collapses
       intra-partition redundancy so the edge set entering any shuffle
       is already sparse (200x tier: 190.3M -> 2.72M);
    2. node-co-partitioned (round 6): the phase-1 output is
       symmetrized and hash-repartitioned on ``u`` so every edge
       incident to a node lands in one partition — the local
       union-find there sees whole neighborhoods and contracts chains
       that span the original partitioning.  The added shuffle moves
       only the already-contracted (u, v) int64 pairs — far cheaper
       than the star rounds deeper contraction saves.

    ``stats`` (optional dict) is filled with the per-round contracted
    (symmetrized, distinct) edge counts and where the driver finish cut
    in — the data an operator needs to size ``driver_finish_edges``
    (surfaced into the 05_clusters stage manifest by run_pipeline).

    ``upper_bound_edges`` (round 7): a caller-known upper bound on the
    input edge count (e.g. the 04_scores stage-manifest row count —
    free, no job).  When the bound already fits the driver-finish
    threshold, the contraction passes, the reliable checkpoint and the
    fingerprint jobs are all provably pointless — the driver union-find
    consumes the raw edges directly (self-loops dropped; no symmetrize/
    distinct needed, the union-find is insensitive to both).  Labels
    are identical (pinned in tests/test_round7_opts.py); at scale the
    bound exceeds the threshold and the normal path runs unchanged."""
    def _fingerprint(df: DataFrame) -> tuple:
        """(edge count, order-insensitive 64-bit content hash) — one
        light aggregation instead of two exceptAll joins per round."""
        row = (df.agg(F.count("*").alias("n"),
                      F.expr("bit_xor(xxhash64(u, v))").alias("h"))
               .collect()[0])
        return (row["n"], row["h"])

    if stats is None:
        stats = {}
    sc = edges.sparkSession.sparkContext
    try:
        has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    except Exception:  # pragma: no cover — py4j API drift
        has_dir = False
    checkpoint = "reliable" if has_dir else "local"

    keep_refs: list[DataFrame] = []  # pin rounds: a python-GC'd round

    # would let ContextCleaner unpersist blocks/shuffles a retried task
    # still needs
    def _ck(df: DataFrame, eager: bool = True) -> DataFrame:
        out = (df.checkpoint(eager=eager) if checkpoint == "reliable"
               else df.localCheckpoint(eager=eager))
        keep_refs.append(out)
        return out

    if driver_finish_edges is None:
        driver_finish_edges = _auto_driver_finish(edges.sparkSession)
        stats["driver_finish_auto"] = True
    stats["round_edges"] = []
    stats["driver_finish_threshold"] = driver_finish_edges
    stats["driver_finish_at_edges"] = None
    stats["checkpoint_mode"] = checkpoint
    stats["pre_contract"] = bool(pre_contract)
    # Arrow batch size, scoped to the CC computation (round 6): the
    # session default (2048 rows) is sized for TEXT batches through the
    # scorer UDF; CC edges are 16-byte rows, so 2048-row batches mean
    # ~32 KB frames and per-batch pandas overhead dominates the
    # pre-contraction transfer (measured 2.75x at 64k rows/batch on a
    # 20M-edge pass; 1M-row batches regress again under memory
    # pressure).  Every heavy python-touching execution — both
    # pre-contract passes, the fingerprint materializations and the
    # driver-finish toPandas — runs inside this scope.
    _ABC = "spark.sql.execution.arrow.maxRecordsPerBatch"
    sess = edges.sparkSession
    try:
        prev_abc = sess.conf.get(_ABC)
    except Exception:  # pragma: no cover
        prev_abc = None
    sess.conf.set(_ABC, "65536")
    try:
        if (upper_bound_edges is not None and driver_finish_edges
                and upper_bound_edges <= driver_finish_edges):
            # round 7: the caller's free bound proves the whole input
            # fits the driver — contraction/checkpoint/fingerprint jobs
            # would only shrink something already small enough to lift
            stats["driver_finish_at_edges"] = upper_bound_edges
            stats["upper_bound_short_circuit"] = True
            return _driver_union_find(_as_uv(edges))
        e0 = edges
        if pre_contract:
            # phase 1 (round 5): partition-local union-find BEFORE any
            # shuffle — narrow, collapses intra-partition redundancy
            e0 = _pre_contract(e0)
            # phase 2 (round 6): co-partition the contracted edges by
            # node (hash on u after symmetrizing) so each local
            # union-find sees every edge incident to its nodes — whole
            # neighborhoods contract in one pass; round_edges[0]
            # records the post-phase-2 size entering the first star
            # round.
            #
            # Round 7 (VERDICT r6 item 7): the pass LOOPS while it
            # keeps contracting — each iteration is one int64-pair
            # shuffle + local union-find (pointer-jumping-style, far
            # cheaper per edge than a star round's groupBy+join over
            # the symmetrized set), checkpointed so the per-pass count
            # is one cheap scan and lineage stays flat.  Stop when the
            # symmetrized set provably fits the driver finish (2n ≤
            # threshold — skipping the star machinery entirely, the
            # point of the loop), when a pass stops contracting ≥2×,
            # or after 4 passes (a chain graph halves slowly — the
            # star rounds below remain the general fallback).  Each
            # pass replaces the edge set with per-partition spanning
            # stars over whole neighborhoods — the same component-
            # preserving transform as the single pass (labels pinned
            # identical in tests).
            n_prev = None
            for _ in range(4):
                e0 = _ck(_pre_contract(_symmetrize(e0).repartition("u")))
                n = e0.count()
                stats.setdefault("phase2_edges", []).append(n)
                if ((driver_finish_edges and 2 * n <= driver_finish_edges)
                        or (n_prev is not None and 2 * n > n_prev)):
                    break
                n_prev = n
        e = _ck(_symmetrize(e0).distinct())
        prev_fp = _fingerprint(e)
        stats["round_edges"].append(prev_fp[0])
        if driver_finish_edges and prev_fp[0] <= driver_finish_edges:
            stats["driver_finish_at_edges"] = prev_fp[0]
            return _driver_union_find(e)
        for _ in range(max_iter):
            # both stars operate on the symmetrized neighborhood view;
            # the output of small-star is directed, so re-symmetrize
            # each round.  duplicates don't change the
            # min-aggregations, so no distinct before large-star; the
            # lazy checkpoint is materialized by the fingerprint
            # aggregation (one job per round).
            e2 = _ck(_small_star(
                _symmetrize(_large_star(_symmetrize(e)))
            ), eager=False)
            fp = _fingerprint(e2)
            e = e2
            stats["round_edges"].append(fp[0])
            if driver_finish_edges and fp[0] <= driver_finish_edges:
                stats["driver_finish_at_edges"] = fp[0]
                return _driver_union_find(e)
            if fp == prev_fp:
                break
            prev_fp = fp
        labels = (_symmetrize(e).groupBy("u")
                  .agg(F.min("v").alias("mn"))
                  .select(F.col("u").alias("id"),
                          F.least("u", "mn").alias("cluster_id")))
        return labels
    finally:
        if prev_abc is not None:
            sess.conf.set(_ABC, prev_abc)
        else:  # pragma: no cover — conf had no value
            sess.conf.unset(_ABC)
