"""Transitive clustering: connected components on match edges.

One plan, whose only inputs are the edges and what Spark reports about
the driver.  Every step preserves components, so every edge set the
plan ends on labels each node with its component's minimum id, and
reruns reproduce byte-identical cluster ids.  The reference has no
clustering at all; this stage comes from BASELINE.json:north_rule.

1. **Short-circuit.**  When the caller's free upper bound on the edge
   count fits the driver-finish threshold, the driver union-find labels
   the raw edges and nothing below runs.
2. **Contraction.**  A partition-local union-find replaces each
   partition's edges by one spanning star per local component (narrow,
   no shuffle).  A loop of node-co-partitioned passes then does the
   same over whole neighbourhoods.
3. **Star rounds.**  Alternating large-star / small-star rounds (Kiveris
   et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
   public literature), each two ``groupBy(node).agg(min(...))`` + join
   shuffles, run to the fixpoint in O(log n) rounds.
4. **Driver finish.**  As soon as the edge set fits the threshold
   :func:`_auto_driver_finish` derives from the driver's memory, a
   driver-side union-find labels it.

Per-round checkpoints truncate the lineage so the iterative plan does
not snowball; with a checkpoint dir configured they are RELIABLE
checkpoints (see :func:`connected_components`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fuzzspark.pipeline.util import collect_budget, parse_bytes

__all__ = ["connected_components"]

# floor for the driver-side finish threshold (edges); ~64 MB as raw
# int64 pairs — safe on any driver
_DRIVER_FINISH_FLOOR = 4_000_000

# star rounds converge in O(log n); this many without a fixpoint means
# something is wrong, and labels from that graph would be wrong too
_MAX_STAR_ROUNDS = 64


def _auto_driver_finish(spark) -> int:
    """The CC driver-finish edge threshold, derived from the resources
    that bound a driver-side collect.  An edge is 16 B raw (two int64);
    the toPandas collect pays Arrow + pandas copies and the driver needs
    headroom for everything else, so budget 1/16 of
    ``spark.driver.memory`` in raw edge bytes: edges = mem/(16 B * 16),
    e.g. 8 GiB -> 33.5M edges (~537 MB raw).  Never below the 4M floor
    the 800x smoke validated.

    Also clamp by :func:`~fuzzspark.pipeline.util.collect_budget`
    (``spark.driver.maxResultSize``) — without the clamp, a LARGER
    driver heap raises the threshold straight into a maxResultSize
    abort (observed at the 3200x tier with a 24g heap: "Total size of
    serialized results of 136 tasks (1029.3 MiB) is bigger than
    spark.driver.maxResultSize").  The Arrow-serialized result runs
    ~16-17 B/edge; budget 20 B/edge."""
    mem = parse_bytes(spark.conf.get("spark.driver.memory", "1g"))
    cap = mem // 256
    budget = collect_budget(spark)
    if budget is not None:
        cap = min(cap, budget // 20)
    return max(_DRIVER_FINISH_FLOOR, cap)


def _as_uv(edges: DataFrame) -> DataFrame:
    """Normalize to (u, v) and DROP self-loops: a self-loop carries no
    connectivity, and the local union-find emits no edge for a node
    that is its own root, so dropping them up front makes every step
    agree.  A node whose only edges are self-loops is treated as
    isolated — not returned, exactly like a node absent from
    ``edges``."""
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
    """Partition-local spanning-forest sparsification: a union-find over
    each partition's edges (C kernel, ~20 ns/edge) collapses them to ONE
    edge per non-root node (node -> local component minimum) in one
    narrow mapInPandas.  Components are exactly preserved — replacing a
    partition's edges by a spanning star of each local component keeps
    intra-partition connectivity, and any node split across partitions
    still carries one edge per partition, so cross-partition merges
    survive.  At the 200x tier the first star round contracts 190.3M
    symmetrized edges to 1.08M; most of that is intra-partition
    redundancy this pass removes.  Memory: holds one partition's edge
    ids (16 B/edge) — bounded by spark.sql.files.maxPartitionBytes
    upstream."""
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
    overhead dominates, at ANY input scale.  Same C union-find kernel
    as the partition contraction."""
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


def connected_components(edges: DataFrame, *, stats: dict | None = None,
                         upper_bound_edges: int | None = None) -> DataFrame:
    """edges(left_id, right_id) -> (id, cluster_id) with cluster_id =
    min member id.  Nodes absent from ``edges`` are not returned, and
    self-loops (u == v) are dropped up front — a node whose only edges
    are self-loops counts as absent (callers union isolated nodes as
    their own cluster).

    The plan is the module's: short-circuit, contraction, star rounds,
    driver finish.  The driver-finish threshold is
    :func:`_auto_driver_finish` of the session.  ``upper_bound_edges``
    is a caller-known upper bound on the input edge count (e.g. the
    04_scores stage-manifest row count — free, no job); when it fits
    the threshold, the driver union-find consumes the raw edges
    directly (self-loops dropped; it is insensitive to direction and
    duplicates).

    The contraction loop repartitions the symmetrized edges on ``u``,
    so the local union-find sees every edge incident to its nodes.  A
    pass's output replaces its input unless it has more edges; the
    loop stops on the first pass that has, when the symmetrized set
    fits the driver finish (2n ≤ threshold), when a later pass stops
    contracting ≥2×, or after 4 passes (a chain graph halves slowly —
    the star rounds finish it).  The star rounds stop at the fixpoint
    of the edge set's fingerprint or
    at the driver finish.  After ``_MAX_STAR_ROUNDS`` rounds without
    either, ``RuntimeError`` is raised: labels are never built from an
    unconverged graph.

    Per-round lineage is truncated with a RELIABLE ``df.checkpoint()``
    iff the SparkContext has a checkpoint dir (run_pipeline sets one
    under the stage workdir), else with ``localCheckpoint``; the mode
    is ``stats["checkpoint_mode"]``.  Reliable checkpoints are files —
    fault-tolerant: a lost/evicted block is re-read from disk, which is
    what an iterative job needs both under single-JVM memory pressure
    and on a real cluster that loses executors; ``localCheckpoint``
    blocks are UNRECOVERABLE once lost because the lineage is already
    truncated.

    ``stats`` (optional dict) is filled with what the plan did (and
    run_pipeline lands it in the 05_clusters manifest):
    ``driver_finish_threshold``; ``contract_edges_in``, the edge count
    entering the co-partitioned passes; ``phase2_edges``, the edge count
    after each pass kept; ``phase2_dropped_edges``, the output of a pass
    dropped for growing the graph; ``round_edges``, the symmetrized
    distinct edge count entering the star rounds and then after each
    round;
    ``driver_finish_at_edges``, the edge count the driver finish took
    (None when the star rounds reached the fixpoint); and
    ``upper_bound_short_circuit`` when the short-circuit was taken."""
    def _fingerprint(df: DataFrame) -> tuple:
        """(edge count, order-insensitive 64-bit content hash) — one
        light aggregation instead of two exceptAll joins per round."""
        row = (df.agg(F.count("*").alias("n"),
                      F.expr("bit_xor(xxhash64(u, v))").alias("h"))
               .collect()[0])
        return (row["n"], row["h"])

    if stats is None:
        stats = {}
    sess = edges.sparkSession
    try:
        has_dir = sess.sparkContext._jsc.sc().getCheckpointDir().isDefined()
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

    finish_at = _auto_driver_finish(sess)
    stats["round_edges"] = []
    stats["driver_finish_threshold"] = finish_at
    stats["driver_finish_at_edges"] = None
    stats["checkpoint_mode"] = checkpoint
    # Arrow batch size, scoped to the CC computation: the session
    # default (2048 rows) is sized for TEXT batches through the scorer
    # UDF; CC edges are 16-byte rows, so 2048-row batches mean ~32 KB
    # frames and per-batch pandas overhead dominates the contraction
    # transfer (measured 2.75x at 64k rows/batch on a 20M-edge pass;
    # 1M-row batches regress again under memory pressure).  Every heavy
    # python-touching execution — the contraction passes, the
    # fingerprint materializations and the driver-finish toPandas —
    # runs inside this scope.
    _ABC = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        prev_abc = sess.conf.get(_ABC)
    except Exception:  # pragma: no cover
        prev_abc = None
    sess.conf.set(_ABC, "65536")
    try:
        if upper_bound_edges is not None and upper_bound_edges <= finish_at:
            stats["driver_finish_at_edges"] = upper_bound_edges
            stats["upper_bound_short_circuit"] = True
            return _driver_union_find(_as_uv(edges))
        e0 = _ck(_pre_contract(edges))
        n_in = stats["contract_edges_in"] = e0.count()
        # each pass is one int64-pair shuffle + local union-find, far
        # cheaper per edge than a star round's groupBy+join over the
        # symmetrized set; checkpointed so the per-pass count is one
        # cheap scan and lineage stays flat.  A pass whose partitions
        # split a neighbourhood emits an edge per neighbour per
        # partition, up to twice its input: such an output is dropped
        # and the loop ends on the input.  An output of the input's size
        # is kept: a chain becomes a star of as many edges
        for k in range(4):
            e1 = _ck(_pre_contract(_symmetrize(e0).repartition("u")))
            n = e1.count()
            if n > n_in:
                stats["phase2_dropped_edges"] = n
                break
            e0 = e1
            stats.setdefault("phase2_edges", []).append(n)
            if 2 * n <= finish_at or (k and 2 * n > n_in):
                break
            n_in = n
        e = _ck(_symmetrize(e0).distinct())
        prev_fp = _fingerprint(e)
        stats["round_edges"].append(prev_fp[0])
        if prev_fp[0] <= finish_at:
            stats["driver_finish_at_edges"] = prev_fp[0]
            return _driver_union_find(e)
        for _ in range(_MAX_STAR_ROUNDS):
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
            if fp[0] <= finish_at:
                stats["driver_finish_at_edges"] = fp[0]
                return _driver_union_find(e)
            if fp == prev_fp:
                break
            prev_fp = fp
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint after {_MAX_STAR_ROUNDS}"
                f" star rounds (round_edges={stats['round_edges']})")
        return (_symmetrize(e).groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select(F.col("u").alias("id"),
                        F.least("u", "mn").alias("cluster_id")))
    finally:
        if prev_abc is not None:
            sess.conf.set(_ABC, prev_abc)
        else:  # pragma: no cover — conf had no value
            sess.conf.unset(_ABC)
